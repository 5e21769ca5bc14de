"""Analytics workload: the headline queries of ``bench.HEADLINE``, each
forced through a ``noop`` write as in ``bench.py``, in a seeded order.
The results are checked against their DuckDB oracles after the timed
loop."""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import time

from perfbench import stats, status
from perfbench.harness import ROOT, MemorySampler, Tracer, new_session, ship, union_length

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")  # as bench.py reads it
SETUP_CYCLES = 3
PASS_S = 3.0  # seconds of --seconds per timed pass: 5 passes for 15 s
MIN_PASSES = 3
LLM_PREFIXES = ("dedup_", "sim_search_", "text_", "multimodal_decode", "sink_")
SINK_QUERY = "sink_kinesis_batched_retry"
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")


def family(name: str) -> str:
    """``llm`` for the shuffle- and Python-bound queries, else ``relational``."""
    return "llm" if name.startswith(LLM_PREFIXES) else "relational"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm_dir() -> str:
    warm = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    return warm if os.path.isdir(warm) else SF_DIR


def run(workload: str, seed: int, seconds: float, tracer: Tracer, run_dir: str,
        mem: MemorySampler) -> dict:
    from awsbeats_spark.catalog import tables
    from awsbeats_spark.registry import load_all
    from bench import HEADLINE

    if not os.path.isdir(SF_DIR):
        raise RuntimeError(f"test data {SF_DIR} not found")
    specs = load_all()
    layer = {"session.start_s": [], "catalog.ship_ms": [], "catalog.tables_ms": []}
    root = tracer.add("workload", time.time(), time.time(), request=workload)
    setups, spark = [], None
    # Set-up: session, package shipping, catalog, the Python worker pool
    # and the first answer (one headline query), repeated for a steady
    # median. Then untimed warm-up passes as in bench.py: JIT and codegen
    # at the smallest scale, then once at the measured scale.
    for cycle in range(SETUP_CYCLES):
        t0 = time.time()
        with tracer.span("setup", root, request=f"setup-{cycle}") as sp:
            spark, start_s = new_session(tracer, spark, sp)
            ship_s = ship(spark, tracer, sp)
            t1 = time.time()
            with tracer.span("catalog.tables", sp):
                tables(spark, SF_DIR)
            layer["catalog.tables_ms"].append((time.time() - t1) * 1e3)
            _noop(spark.range(32).mapInPandas(lambda it: it, schema="id long"))
            _noop(specs[HEADLINE[0]].fn(spark, SF_DIR))
        setups.append(time.time() - t0)
        layer["session.start_s"].append(start_s)
        layer["catalog.ship_ms"].append(ship_s * 1e3)
    for sf_dir in (_warm_dir(), SF_DIR):
        for name in HEADLINE:
            _noop(specs[name].fn(spark, sf_dir))

    # A fixed number of timed passes (the same work in every run), each in
    # a seeded order.
    rng = random.Random(seed)
    sc = spark.sparkContext
    walls: dict[str, list[float]] = {n: [] for n in HEADLINE}
    execs: list[dict] = []
    passes = max(MIN_PASSES, round(seconds / PASS_S))
    for p in range(passes):
        order = list(HEADLINE)
        rng.shuffle(order)
        with tracer.span("pass", root, request=f"pass-{p}") as ps:
            for name in order:
                group = f"perfbench-{p}-{name}"
                if tracer.enabled:
                    sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                with tracer.span("query", ps, request=group) as qs:
                    with tracer.span("operators.build", qs, request=group):
                        df = specs[name].fn(spark, SF_DIR)
                    with tracer.span("operators.action", qs, request=group) as act:
                        _noop(df)
                wall = time.perf_counter() - t0
                walls[name].append(wall)
                execs.append({"pass": p, "name": name, "group": group, "wall": wall,
                              "action": act})
    mem.active = False
    if tracer.enabled:
        sc.setJobGroup("perfbench-check", "check")

    failed, notes = _check(spark, specs, HEADLINE, run_dir)
    all_ms = [e["wall"] * 1e3 for e in execs]
    tail_p = stats.tail_percentile(len(all_ms))
    med = {n: stats.median(w) for n, w in walls.items()}
    result = {
        "attempted": len(HEADLINE),
        "failed": len(failed),
        "setup_s": stats.median(setups),
        "latency_p50_ms": stats.median(all_ms),
        "latency_p99_ms": stats.percentile(all_ms, tail_p),
        "throughput_per_s": len(all_ms) / sum(e["wall"] for e in execs),
        "notes": {
            "passes": passes, "latency_samples": len(all_ms), "tail_percentile": tail_p,
            "pass_s": [round(sum(e["wall"] for e in execs if e["pass"] == p), 3)
                       for p in range(passes)],
            "batch_total_s": sum(med.values()),
            "batch_relational_s": sum(v for n, v in med.items() if family(n) == "relational"),
            "batch_llm_s": sum(v for n, v in med.items() if family(n) == "llm"),
            "failed_checks": failed, **notes,
        },
    }
    if tracer.enabled:
        t0 = time.time()
        result["layers"] = _layers(spark, tracer, layer, execs, passes, result["notes"])
        result["trace_read_s"] = time.time() - t0
    tracer.finish(root)
    return result


def _check(spark, specs, names, run_dir: str):
    """Compare each query that has an oracle with DuckDB, and the sink
    query's row count with the events that have a key. Outside the timed
    loop; returns ``(failed names, notes)``."""
    import duckdb

    from awsbeats_spark.catalog import TABLE_NAMES
    from tools.verify_local import compare

    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(run_dir, 'duckdb')}'")
    stamp = []
    for t in TABLE_NAMES:
        path = f"{SF_DIR}/{t}.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        st = os.stat(path)
        stamp.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    failed, t0 = [], time.time()
    for name in names:
        spec = specs[name]
        try:
            if spec.oracle is not None:
                verdict, msg = compare(name, spec.fn(spark, SF_DIR).toPandas(),
                                       _oracle(con, spec.oracle, stamp))
                if verdict == "FAIL":
                    failed.append(f"{name}: {msg}")
            elif name == SINK_QUERY:
                got = spec.fn(spark, SF_DIR).count()
                want = con.sql("SELECT count(*) FROM events "
                               "WHERE ts IS NOT NULL AND event_id IS NOT NULL").fetchone()[0]
                if got != want:
                    failed.append(f"{name}: {got} rows delivered, {want} events with a key")
        except Exception as exc:  # noqa: BLE001 - an erroring query is a failed query
            failed.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
    return failed, {"check_s": time.time() - t0}


def _oracle(con, sql: str, stamp: list[str]):
    """The oracle's result, cached in the checkout by its SQL and the
    tables' sizes and mtimes: the big DuckDB oracles take ~15 s a run and
    their answer only changes with the query or the data."""
    key = hashlib.sha256("\n".join([sql, SF_DIR] + stamp).encode()).hexdigest()[:32]
    path = os.path.join(CACHE_DIR, f"oracle-{key}.pkl")
    try:
        with open(path, "rb") as fh:
            return pickle.load(fh)
    except FileNotFoundError:
        pass
    df = con.sql(sql).df()
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(df, fh)
    os.replace(tmp, path)
    return df


def _layers(spark, tracer: Tracer, layer: dict, execs: list[dict], passes: int,
            notes: dict) -> dict:
    """Per-layer numbers per pass (median over passes), from the spans and
    from Spark's status stores, attributed to queries by job group."""
    stages = status.stage_table(spark)
    per_pass: dict[int, dict] = {}
    job_ids: set[int] = set()
    keys = ("operators.build_ms", "operators.driver_ms", "operators.jobs", "operators.stages",
            "operators.tasks", "operators.stage_run_ms", "operators.cpu_ms", "operators.gc_ms",
            "operators.shuffle_write_bytes", "operators.shuffle_read_bytes",
            "operators.spill_bytes")
    skews = []
    spans = {s["id"]: s for s in tracer.spans}
    builds = {s["request"]: s for s in tracer.spans if s["name"] == "operators.build"}
    for e in execs:
        acc = per_pass.setdefault(e["pass"], dict.fromkeys(keys, 0.0))
        jobs = status.group_jobs(spark, e["group"])
        job_ids.update(j["id"] for j in jobs)
        act = spans[e["action"]]
        b = builds[e["group"]]
        acc["operators.build_ms"] += (b["end"] - b["start"]) * 1e3
        busy = union_length([(j["start_ms"], j["end_ms"]) for j in jobs
                             if j["start_ms"] is not None and j["end_ms"] is not None])
        acc["operators.driver_ms"] += max(0.0, (act["end"] - act["start"]) * 1e3 - busy)
        ids = {s for j in jobs for s in j["stages"] if s in stages}
        acc["operators.jobs"] += len(jobs)
        for j in jobs:
            if j["start_ms"] is None or j["end_ms"] is None:
                continue
            jid = tracer.add("operators.job", j["start_ms"] / 1e3, j["end_ms"] / 1e3,
                             e["action"], request=e["group"])
            for sid in j["stages"]:
                st = stages.get(sid)
                if st and st["start_ms"] is not None and st["end_ms"] is not None:
                    tracer.add("operators.stage", st["start_ms"] / 1e3, st["end_ms"] / 1e3, jid,
                               request=e["group"], tasks=st["tasks"])
        run = [stages[s] for s in ids if stages[s]["tasks"] > 0]
        acc["operators.stages"] += len(run)
        for st in run:
            acc["operators.tasks"] += st["tasks"]
            acc["operators.stage_run_ms"] += st["run_ms"]
            acc["operators.cpu_ms"] += st["cpu_ms"]
            acc["operators.gc_ms"] += st["gc_ms"]
            acc["operators.shuffle_write_bytes"] += st["shuffle_write"]
            acc["operators.shuffle_read_bytes"] += st["shuffle_read"]
            acc["operators.spill_bytes"] += st["spill"]
        if run:
            widest = max((s for s in ids if stages[s]["tasks"] > 0),
                         key=lambda s: (stages[s]["tasks"], stages[s]["run_ms"]))
            skews.append(status.task_skew(spark, widest, stages[widest]["attempt"]))
    m = {k: stats.median(v) for k, v in layer.items()}
    m["session.cold_start_s"] = layer["session.start_s"][0]
    m.update({k: stats.median([p[k] for p in per_pass.values()]) for k in keys})
    m["operators.task_skew"] = stats.median(skews) if skews else 1.0
    m["operators.relational_s"] = notes["batch_relational_s"]
    m["operators.llm_s"] = notes["batch_llm_s"]
    py = status.python_boundary(spark, job_ids)
    m.update({k: v / passes for k, v in py.items()})
    return m
