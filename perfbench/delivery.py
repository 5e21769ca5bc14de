"""Delivery workloads: an open-loop generator feeds NDJSON files to the
pipeline built by ``pipeline_config.build_pipeline``; the benchmark's
stand-in Kinesis service acks and validates every record."""

from __future__ import annotations

import functools
import glob
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass

from perfbench import stats
from perfbench.events import (CLOUD, DROP_REGEX, DROPPED_TYPE, WARM_ID, check_payload,
                              event_fields, is_malformed, xid_key)
from perfbench.generator import file_text, parse_ladder, ticks
from perfbench.harness import ROOT, MemorySampler, Tracer, new_session, ship
from perfbench.standin import StandInKinesis

P99_LIMIT_MS = 5000.0  # a rung is sustained only if its tail stays under this
GROWTH_LIMIT = 0.15  # ... and its backlog grows by less than this share of the rate
GENERATOR_LATE_LIMIT_MS = 250.0  # past this the run is not open-loop and is refused
NOMINAL_SHARE = 0.4
TOP_SHARE = 0.4
SETUP_CYCLES = 3
DRAIN_S = 15.0  # how long delivery may trail the generator before events count as lost
TRIGGER_PHASE_US = 50_000  # files land 50 ms after a trigger boundary, plus k ticks


@dataclass(frozen=True)
class Delivery:
    rates: tuple[int, ...]  # the ladder's rungs, events/s
    nominal: int | None  # the rung whose latency is reported; None: every rung
    flush_timeout_s: float  # queue.flush_timeout_s: the micro-batch trigger
    reject_every: int = 0  # the stand-in rejects one record in this many
    call_error_every: int = 0  # ... and fails each call holding one event in this many
    warmup_s: float = 0.0  # unmeasured traffic at the top rate before the ladder

    def ladder(self, seconds: float) -> str:
        """A nominal rung takes NOMINAL_SHARE of the run, so its latency
        percentiles rest on many micro-batches, and the top rung, whose
        processing rate is reported, TOP_SHARE; the other rungs split the
        rest."""
        if self.nominal is None:
            return ",".join(f"{r}:{seconds / len(self.rates):.1f}" for r in self.rates)
        shares = {self.nominal: NOMINAL_SHARE, self.rates[-1]: TOP_SHARE}
        rest = (1 - NOMINAL_SHARE - TOP_SHARE) / (len(self.rates) - 2)
        return ",".join(f"{r}:{seconds * shares.get(r, rest):.1f}" for r in self.rates)


# The nominal rate is one Kinesis shard's documented write quota, 1000
# records/s. The ladder climbs from it in steps of 4 and 2 to 32000/s,
# where the engine is busy about half of each trigger. At 64000/s the
# engine still kept up, but the generator, sharing the four CPUs, ran up
# to 73 ms late (p99, against 5-9 ms) and the throughput spread widened.
# The fault shares are not traffic estimates but coverage: with one
# record in 50 rejected, evenly spaced, every first-attempt put call of 50
# records or more holds rejected ones (a call carries about 230 on the
# faulty ladder), and with one event in 2000 failing its call about every
# other micro-batch of the lowest rung (some 1000 events) meets a
# whole-call error.
#
# Each run starts a new JVM. Without unmeasured traffic at the top rate
# before the ladder, one run in four or five ran every micro-batch 15-40%
# slower; the throughput spread over runs was 0.14-0.15 with none,
# 0.08-0.12 after 3 s and 0.05-0.06 after 6 s of it. The faulty workload
# needs none: its batches are dominated by the 1 s backoff, and its
# spreads are narrow without it.
#
# Every faulty micro-batch waits out one 1 s backoff; its trigger is
# longer than such a batch, so triggers stay on their grid and each batch
# takes the same files in every run (with a shorter trigger the batches
# run back to back and their sizes wander). Latency is taken over every
# rung: more micro-batches steady its tail.
WORKLOADS = {
    "delivery_steady": Delivery((1000, 4000, 16000, 32000), 1000, 0.5, warmup_s=6.0),
    "delivery_faulty": Delivery((500, 1000, 2000), None, 2.0, reject_every=50,
                                call_error_every=2000),
}


def pipeline_config(in_dir: str, flush_timeout_s: float) -> dict:
    return {
        "input": {"paths": in_dir},
        "processors": [
            {"add_cloud_metadata": {"provider": CLOUD["cloud_provider"],
                                    "region": CLOUD["cloud_region"]}},
            {"drop_event": {"when_regexp": {"event_type": DROP_REGEX}}},
        ],
        "output": {"streams": {"region": CLOUD["cloud_region"], "stream_name": "perfbench",
                               "partition_key_provider": "xid", "batch_size": 500}},
        "queue": {"flush_timeout_s": flush_timeout_s},
    }


def read_acks(run_dir: str, seed: int):
    """Parse every worker's ack log: ``(acks, bad, calls)`` where acks is
    a list of ``(key, ack_us, attempt)`` and bad of ``(key, reason)``
    for every payload that fails ``check_payload``."""
    acks, bad, calls = [], [], []
    for path in glob.glob(os.path.join(run_dir, "acks-*.log")):
        with open(path) as fh:
            for line in fh:
                if not line.endswith("\n"):
                    continue  # a write still in progress
                kind, rest = line[0], line[2:]
                if kind == "A":
                    key, ack_us, attempt, data = rest.split(" ", 3)
                    acks.append((key, int(ack_us), int(attempt)))
                    why = check_payload(seed, key, data)
                    if why is not None:
                        bad.append((key, why))
                elif kind == "B":
                    bad.append(tuple(rest.rstrip("\n").split(" ", 1)))
                elif kind == "C":
                    calls.append([int(x) for x in rest.split()])
    return acks, bad, calls


def _rows_after(query, batch_id: int) -> int:
    """Input rows of the micro-batches after ``batch_id``."""
    progress = (json.loads(x.json) for x in query.recentProgress)
    return sum(p["numInputRows"] for p in progress if p["batchId"] > batch_id)


def _start(spark, tracer, wl, in_dir, ckpt, factory, parent):
    from awsbeats_spark.pipeline_config import build_pipeline

    t0 = time.time()
    with tracer.span("pipeline_config.start", parent):
        query = build_pipeline(spark, pipeline_config(in_dir, wl.flush_timeout_s),
                               checkpoint_dir=ckpt, client_factory=factory)
    return query, time.time() - t0


def _wait_rows(query, n: int, timeout_s: float = 60.0) -> None:
    deadline = time.time() + timeout_s
    while _rows_after(query, -1) < n:
        if time.time() > deadline or query.exception() is not None:
            raise RuntimeError(f"pipeline did not take its warm-up input: {query.exception()}")
        time.sleep(0.05)


def run(workload: str, seed: int, seconds: float, tracer: Tracer, run_dir: str,
        mem: MemorySampler) -> dict:
    wl = WORKLOADS[workload]
    acks_dir = os.path.join(run_dir, "acks")
    os.makedirs(acks_dir)
    factory = functools.partial(StandInKinesis, run_dir=acks_dir, seed=seed,
                                reject_every=wl.reject_every,
                                call_error_every=wl.call_error_every)
    layer = {"session.start_s": [], "catalog.ship_ms": [], "pipeline_config.start_ms": []}
    setups, spark, query = [], None, None
    root = tracer.add("workload", time.time(), time.time(), request=workload)
    # Set-up: session, package shipping, pipeline start and one warm-up
    # micro-batch, repeated so the median is steady.
    for cycle in range(SETUP_CYCLES):
        if query is not None:
            query.stop()
        t0 = time.time()
        with tracer.span("setup", root, request=f"setup-{cycle}") as sp:
            spark, start_s = new_session(tracer, spark, sp)
            ship_s = ship(spark, tracer, sp)
            in_dir = os.path.join(run_dir, f"in-{cycle}")
            os.makedirs(in_dir)
            query, pipe_s = _start(spark, tracer, wl, in_dir,
                                   os.path.join(run_dir, f"ckpt-{cycle}"), factory, sp)
            warm = next(ticks(seed, [(1000, 0.1)], int(time.time() * 1e6), WARM_ID))[3]
            with open(os.path.join(in_dir, "warm.json"), "w") as fh:
                fh.write(file_text(seed, warm))
            _wait_rows(query, 1)
        setups.append(time.time() - t0)
        layer["session.start_s"].append(start_s)
        layer["catalog.ship_ms"].append(ship_s * 1e3)
        layer["pipeline_config.start_ms"].append(pipe_s * 1e3)

    # Measured phase: the generator runs the ladder open-loop. The schedule
    # is worked out first, relative to its start, so the benchmark spends
    # no CPU on it while the engine is being measured.
    warm_batch = query.lastProgress["batchId"]
    gen_log = os.path.join(run_dir, "generator.json")
    ladder = parse_ladder(wl.ladder(seconds))
    # The warm-up is a rung before the ladder; its events are checked but
    # not timed, and carry the rung index -1.
    warm_us = int(wl.warmup_s * 1e6)
    gen_ladder = ([(wl.rates[-1], wl.warmup_s)] if warm_us else []) + ladder
    offsets: dict[int, tuple[int, int]] = {}  # event_id -> (us after t0, rung)
    for _k, rung, _end, events in ticks(seed, gen_ladder, -warm_us):
        for event_id, off_us in events:
            offsets[event_id] = (off_us, rung - (1 if warm_us else 0))
    expected = {e for e in offsets if event_fields(seed, e)["event_type"] != DROPPED_TYPE}
    lines = len(offsets) + sum(1 for e in offsets if is_malformed(seed, e))
    # Spark fires processing-time triggers on multiples of the interval
    # since the epoch; starting the schedule at a fixed phase of that grid
    # keeps each run's files at the same age when a trigger lists them.
    grid_us = int(wl.flush_timeout_s * 1e6)
    t0_us = (int(time.time() * 1e6) // grid_us + 2) * grid_us + TRIGGER_PHASE_US + warm_us
    gen = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "generator.py"), "--seed", str(seed),
         "--out", in_dir, "--ladder", ",".join(f"{r}:{d}" for r, d in gen_ladder),
         "--t0-us", str(t0_us - warm_us), "--log", gen_log], cwd=ROOT)
    mem.exclude.add(gen.pid)
    try:
        gen.wait(timeout=seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")

    # Drain: a micro-batch commits only after every partition's records
    # are acked, so wait until the committed batches hold every line the
    # generator wrote (or the deadline).
    deadline = time.time() + DRAIN_S
    while (_rows_after(query, warm_batch) < lines and time.time() < deadline
           and query.exception() is None):
        time.sleep(0.1)
    progress = [json.loads(p.json) for p in query.recentProgress]
    run_id = str(query.runId)
    query.stop()
    mem.active = False
    with open(gen_log) as fh:
        glog = json.load(fh)
    sched = {e: (t0_us + off, rung) for e, (off, rung) in offsets.items()}
    acks, bad, calls = read_acks(acks_dir, seed)

    # Correctness: every expected event acked with the scheduled key and a
    # valid payload, and nothing else acked.
    first_ack: dict[int, int] = {}
    wrong_keys = {key for key, _ in bad}
    for key, ack_us, _ in acks:
        event_id = int(key[16:])
        if event_id >= WARM_ID:
            continue
        if event_id not in expected or key != xid_key(sched[event_id][0], event_id):
            wrong_keys.add(key)
            continue
        first_ack[event_id] = min(ack_us, first_ack.get(event_id, ack_us))
    lost = len(expected - first_ack.keys())
    wrong = len(wrong_keys)

    lat_ms = {}
    for event_id, ack_us in first_ack.items():
        ts_us, rung = sched[event_id]
        lat_ms.setdefault(rung, []).append((ack_us - ts_us) / 1e3)
    if wl.nominal is None:
        nom = [x for rung, xs in lat_ms.items() if rung >= 0 for x in xs]
    else:
        nom = lat_ms.get(wl.rates.index(wl.nominal), [])
    tail_p = stats.tail_percentile(len(nom))
    if tail_p is None:
        raise RuntimeError(f"only {len(nom)} latency samples")

    measured = [p for p in progress if _trigger_us(p) >= t0_us]
    # Throughput is Spark's processing rate, the "Process Rate" of its
    # streaming UI: input rows over trigger execution time, here summed
    # over the micro-batches of the top rung (faulty: of every rung).
    # Unlike the offered rate it rises when the engine gets faster,
    # whether or not the rung is sustained.
    ladder_end = t0_us + int(sum(d for _, d in ladder) * 1e6)
    rate_from = t0_us if wl.nominal is None else ladder_end - int(ladder[-1][1] * 1e6)
    rated = [p for p in measured if rate_from <= _trigger_us(p) < ladder_end]
    busy_ms = sum(p["durationMs"].get("triggerExecution", 0) for p in rated)
    if not busy_ms:
        raise RuntimeError("no micro-batch ran on the rated rungs")

    # The ladder: a rung is sustained while its tail meets the limit and
    # its backlog does not grow.
    sustained = 0
    for rung, (rate, secs) in enumerate(ladder):
        start = t0_us + int(sum(d for _, d in ladder[:rung]) * 1e6)
        end = start + int(secs * 1e6)
        ls = lat_ms.get(rung, [])
        pairs = [(ts, first_ack.get(e)) for e, (ts, r) in sched.items() if r == rung and e in expected]
        p = stats.tail_percentile(len(ls))
        ok = p is not None and stats.percentile(ls, p) <= P99_LIMIT_MS
        ok = ok and stats.backlog_growth(pairs, start, end) < GROWTH_LIMIT
        if not ok:
            break
        sustained = rate

    late_ms = [(f[3] - f[2]) / 1e3 for f in glog["files"]]
    late_p99 = stats.percentile(late_ms, 99)
    result = {
        "attempted": len(sched),
        "failed": lost + wrong,
        # the open loop holds only while the generator keeps its schedule
        "valid": late_p99 <= GENERATOR_LATE_LIMIT_MS,
        "setup_s": stats.median(setups),
        "latency_p50_ms": stats.median(nom),
        "latency_p99_ms": stats.percentile(nom, tail_p),
        "throughput_per_s": sum(p["numInputRows"] for p in rated) / busy_ms * 1e3,
        "notes": {
            "latency_samples": len(nom), "tail_percentile": tail_p, "lost": lost,
            "rated_batches": len(rated), "sustained_events_per_s": sustained,
            "wrong": wrong, "generator_late_p99_ms": late_p99,
        },
    }
    if tracer.enabled:
        t0 = time.time()
        result["layers"] = _layers(spark, tracer, root, layer, measured, run_id, run_dir,
                                   glog, ladder, t0_us, acks, calls, late_p99, sustained)
        result["trace_read_s"] = time.time() - t0
    tracer.finish(root)
    return result


def _trigger_us(progress: dict) -> int:
    from datetime import datetime

    ts = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return int(ts.timestamp() * 1e6)


def _source_files(ckpt: str) -> dict[int, list[str]]:
    """batchId -> file paths the file source took, from its metadata log."""
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out.setdefault(rec["batchId"], set()).add(rec["path"])
    return {b: sorted(p) for b, p in out.items()}


def _layers(spark, tracer, root, layer, measured, run_id, run_dir, glog, ladder, t0_us, acks,
            calls, late_p99, sustained) -> dict:
    from perfbench import status

    m = {k: stats.median(v) for k, v in layer.items()}
    m["session.cold_start_s"] = layer["session.start_s"][0]
    # spans: workload -> rung -> micro-batch (progress) -> put call (stand-in log)
    rungs, start = [], t0_us / 1e6
    for rate, secs in ladder:
        rungs.append((start, tracer.add("rung", start, start + secs, root, request=f"rung-{rate}")))
        start += secs
    batches = []
    for p in measured:
        b0 = _trigger_us(p) / 1e6
        b1 = b0 + p["durationMs"].get("triggerExecution", 0) / 1e3
        parent = next((sid for r0, sid in reversed(rungs) if r0 <= b0), root)
        batches.append((b0, b1, tracer.add("streaming.batch", b0, b1, parent,
                                           request=f"batch-{p['batchId']}", rows=p["numInputRows"])))
    span_s = (batches[-1][0] - batches[0][0]) if batches else 0.0
    dur = lambda k: [p["durationMs"].get(k, 0) for p in measured]  # noqa: E731
    trig = dur("triggerExecution")
    m.update({
        "streaming.batches": len(measured),
        "streaming.trigger_ms": stats.median(trig),
        "streaming.latest_offset_ms": stats.median(dur("latestOffset")),
        "streaming.planning_ms": stats.median(dur("queryPlanning")),
        "streaming.add_batch_ms": stats.median(dur("addBatch")),
        "streaming.commit_ms": stats.median([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]),
        "streaming.busy_share": sum(trig[:-1]) / 1e3 / span_s if span_s else 0.0,
        "streaming.sustained_events_per_s": sustained,
    })
    # sources: files and rows per batch, and lag behind the newest file
    renamed = {f"part-{f[0]:06d}.json": f[3] for f in glog["files"]}
    files = _source_files(os.path.join(run_dir, "ckpt-%d" % (SETUP_CYCLES - 1)))
    fpb, lag = [], []
    for p in measured:
        names = [os.path.basename(x) for x in files.get(p["batchId"], [])]
        times = [renamed[n] for n in names if n in renamed]
        fpb.append(len(names))
        if times:
            lag.append((_trigger_us(p) - max(times)) / 1e3)
    m.update({
        "sources.files_per_batch": stats.median(fpb),
        "sources.rows_per_batch": stats.median([p["numInputRows"] for p in measured]),
        "sources.lag_ms": stats.median(lag) if lag else 0.0,
    })
    # sinks: put calls from the stand-in's call log, task time from the
    # status store
    # the measured phase only: not the set-up batches nor the warm-up rung
    calls = [c for c in calls if c[0] >= t0_us]
    acks = [a for a in acks if a[1] >= t0_us]
    for c in calls:
        c0 = c[0] / 1e6
        parent = next((sid for b0, b1, sid in reversed(batches) if b0 <= c0 <= b1), root)
        tracer.add("sinks.put_call", c0, c[1] / 1e6, parent, records=c[2])
    put_busy = sum(c[1] - c[0] for c in calls) / 1e3
    attempted = sum(c[2] for c in calls)
    retry_gaps = [c[7] / 1e3 for c in calls if c[6] > 0]
    task_ms = status.group_task_ms(spark, run_id)
    unique = len({a[0] for a in acks})
    m.update({
        "sinks.put_calls": len(calls),
        "sinks.records_per_call": attempted / len(calls) if calls else 0.0,
        "sinks.put_busy_ms": put_busy,
        "sinks.task_ms": task_ms,
        "sinks.overhead_ms": task_ms - put_busy,
        "sinks.records_attempted": attempted,
        "sinks.records_acked": len(acks),
        "sinks.useful_ratio": unique / attempted if attempted else 0.0,
        "sinks.max_attempts": max((a for _, _, a in acks), default=0),
        "sinks.backoff_ms": stats.median(retry_gaps) if retry_gaps else 0.0,
        "sinks.duplicate_ratio": (len(acks) - unique) / unique if unique else 0.0,
        "generator.late_ms": late_p99,
    })
    m.update(status.python_boundary(spark))
    return m
