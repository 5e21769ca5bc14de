"""Tests of the benchmark's own parts: the tail rule, the backlog
detector, the generator and the stand-in service.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import stats
from perfbench.delivery import read_acks
from perfbench.events import (CLOUD, DROPPED_TYPE, EVENT_TYPES, event_fields, is_malformed,
                              iso_micros, xid_key)
from perfbench.harness import Tracer
from perfbench.generator import ticks
from perfbench.standin import REJECT_CODE, StandInKinesis, fails_call

GENERATOR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "generator.py")


@pytest.mark.parametrize("n, p", [(5000, 99.0), (1000, 99.0), (999, 98.0), (500, 98.0),
                                  (100, 90.0), (57, 80.0), (40, 75.0), (20, 50.0), (19, None)])
def test_tail_percentile_keeps_ten_samples_above(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= stats.MIN_ABOVE


def test_percentile_interpolates():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50.5
    assert stats.percentile(xs, 0) == 1 and stats.percentile(xs, 100) == 100
    assert stats.median([3, 1, 2]) == 2


def _series(rate, seconds, serve):
    """(scheduled, ack) pairs for events at ``rate`` whose ack is ``serve(t)``."""
    step = 1e6 / rate
    return [(int(i * step), int(serve(i * step))) for i in range(int(rate * seconds))]


def test_backlog_flat_when_the_engine_keeps_up():
    # acked at the end of the next 0.5 s trigger, plus 200 ms of work
    pairs = _series(1000, 4, lambda t: (t // 500_000 + 1) * 500_000 + 200_000)
    assert abs(stats.backlog_growth(pairs, 0, 4_000_000)) < 0.02


def test_backlog_grows_when_the_engine_serves_half_the_rate():
    pairs = _series(1000, 4, lambda t: 2 * t + 300_000)
    assert stats.backlog_growth(pairs, 0, 4_000_000) == pytest.approx(0.5, abs=0.02)


def test_backlog_counts_an_unacked_event_as_growth():
    pairs = _series(1000, 4, lambda t: t + 100_000)
    pairs[-1] = (pairs[-1][0], None)
    assert stats.backlog_growth(pairs, 0, 4_000_000) == 1.0


def _generate(tmp, seed, name):
    out = tmp / name
    out.mkdir()
    log = tmp / f"{name}.json"
    # a start in the past: every file is overdue and written at once
    subprocess.run([sys.executable, GENERATOR, "--seed", str(seed), "--out", str(out),
                    "--ladder", "500:0.5,2000:0.5", "--t0-us", "1700000000000000",
                    "--log", str(log)], check=True, timeout=60)
    files = {p.name: p.read_bytes() for p in sorted(out.iterdir())}
    return files, json.loads(log.read_text())


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, log = _generate(tmp_path, 7, "a")
    b, _ = _generate(tmp_path, 7, "b")
    c, _ = _generate(tmp_path, 8, "c")
    assert a == b and len(a) == 10
    assert a != c
    assert not any(name.startswith(".") for name in a)
    # the schedule in the log is the one ticks() recomputes
    events = [e for _, _, _, evs in ticks(7, [(500, 0.5), (2000, 0.5)], log["t0_us"])
              for e in evs]
    assert len(events) == 1250 == sum(f[5] for f in log["files"])
    # overdue files report their lateness
    assert all(f[3] - f[2] > 0 for f in log["files"])
    lines = b"".join(a.values()).decode().splitlines()
    parsed = [json.loads(x) for x in lines if x.endswith("}")]
    assert len(parsed) == 1250 and len(lines) == 1250 + 25  # one line in 50 is malformed


def test_event_mix_follows_the_events_table():
    fields = [event_fields(4, i) for i in range(1, 20_001)]
    for event_type in EVENT_TYPES:
        share = sum(f["event_type"] == event_type for f in fields) / len(fields)
        assert share == pytest.approx(0.2, abs=0.01)
    assert {f["user_id"] for f in fields} == set(range(1500))
    assert max(f["value"] for f in fields) <= 560.21
    assert {json.loads(f["props"])["k"] for f in fields} == set(range(100))
    assert sum(is_malformed(4, i) for i in range(1, 20_001)) == 400


def _record(seed, event_id, ts_us=1_700_000_000_123_456):
    payload = {"event_id": event_id, "ts": iso_micros(ts_us)[:23] + "Z",
               **event_fields(seed, event_id), **CLOUD}
    return {"data": json.dumps(payload, separators=(",", ":")) + "\n",
            "partition_key": xid_key(ts_us, event_id)}


def _acks(run_dir, seed):
    """Ack-log lines with each payload checked as the benchmark does."""
    acks, bad, _ = read_acks(str(run_dir), seed)
    return [f"A {k} {t} {n}" for k, t, n in acks] + [f"B {k} {why}" for k, why in bad]


def _kept(seed, ids):
    return [i for i in ids if event_fields(seed, i)["event_type"] != DROPPED_TYPE]


def test_standin_rejects_its_seeded_share_and_accepts_the_retry(tmp_path):
    seed, ids = 3, _kept(3, range(1, 6001))
    client = StandInKinesis(run_dir=str(tmp_path), seed=seed, reject_every=10)
    records = [_record(seed, i) for i in ids]
    resp = client.put_records(records)
    rejected = [r for r, e in zip(records, resp["Records"]) if e["ErrorCode"] == REJECT_CODE]
    assert resp["FailedRecordCount"] == len(rejected)
    assert len(rejected) / len(records) == pytest.approx(0.1, abs=0.015)
    again = StandInKinesis(run_dir=str(tmp_path), seed=seed, reject_every=10).put_records(records)
    assert again["Records"] == resp["Records"]  # the same seed rejects the same records
    (tmp_path / "other").mkdir()
    other = StandInKinesis(run_dir=str(tmp_path / "other"), seed=seed + 1,
                           reject_every=10).put_records(records)
    assert other["Records"] != resp["Records"]
    assert client.put_records(rejected)["FailedRecordCount"] == 0
    acks = [x for x in _acks(tmp_path, seed) if x.startswith("A ")]
    assert not [x for x in _acks(tmp_path, seed) if x.startswith("B ")]
    assert len(acks) == 2 * (len(records) - len(rejected)) + len(rejected)
    assert {x.split()[3] for x in acks if x.split()[1] == rejected[0]["partition_key"]} == {"2"}


def test_standin_fails_calls_holding_a_picked_event_once(tmp_path):
    seed, every = 5, 200
    client = StandInKinesis(run_dir=str(tmp_path), seed=seed, call_error_every=every)
    ids = _kept(seed, range(1, 2001))
    chunks = [[_record(seed, i) for i in ids[k:k + 50]] for k in range(0, len(ids), 50)]
    failed = []
    for chunk in chunks:
        try:
            client.put_records(chunk)
        except ConnectionError:
            failed.append(chunk)
            assert client.put_records(chunk)["FailedRecordCount"] == 0  # the retry lands
    # one event in 200 is picked; a chunk fails when it holds a kept one
    picked = {i for i in range(1, 2001) if fails_call(seed, every, [xid_key(0, i)])}
    assert len(picked) == 10
    assert len(failed) == len({ids.index(i) // 50 for i in picked if i in ids})


def test_standin_flags_wrong_payloads(tmp_path):
    seed = 9
    client = StandInKinesis(run_dir=str(tmp_path), seed=seed)
    good = _record(seed, _kept(seed, range(1, 20))[0])
    dropped = next(i for i in range(1, 10_000)
                   if event_fields(seed, i)["event_type"] == DROPPED_TYPE)
    bad = [dict(good, data=good["data"].rstrip("\n")),
           dict(good, data=good["data"].replace('"aws"', '"gcp"')),
           dict(good, partition_key=good["partition_key"][:-1] + "0"),
           _record(seed, dropped)]
    client.put_records([good] + bad)
    flagged = [x for x in _acks(tmp_path, seed) if x.startswith("B ")]
    assert len(flagged) == len(bad)


def test_self_time_subtracts_the_union_of_children():
    tracer = Tracer(True)
    root = tracer.add("query", 0.0, 10.0)
    tracer.add("stage", 1.0, 4.0, root)
    tracer.add("stage", 2.0, 6.0, root)  # overlaps the first stage
    tracer.add("stage", 8.0, 12.0, root)  # runs past its parent
    assert tracer.self_ms() == {"query": 3000.0, "stage": 11000.0}
