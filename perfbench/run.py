"""Benchmark entry point.

    python3 perfbench/run.py --workload delivery_steady --seed 1 --seconds 15 --trace 0

Runs one workload, checks the outputs, and prints as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans, reports the per-layer metrics instead and writes
its spans to ``.perfbench_trace/<workload>-<seed>.jsonl``. Must be run
from the repository root (it imports ``awsbeats_spark`` and ``bench``
from there).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
TRACE_DIR = os.path.join(ROOT, ".perfbench_trace")

WORKLOADS = ("delivery_steady", "delivery_faulty", "analytics_headline")
END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p99_ms": "ms",
              "throughput_per_s": "1/s"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "awsbeats_spark")):
        print("awsbeats_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    from perfbench.harness import MemorySampler, Tracer, prepare_env, stop_engine

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    prepare_env(run_dir)
    tracer = Tracer(bool(args.trace))
    try:
        with MemorySampler(tracer.enabled) as mem:
            if args.workload == "analytics_headline":
                from perfbench import analytics as mod
            else:
                from perfbench import delivery as mod
            result = mod.run(args.workload, args.seed, args.seconds, tracer, run_dir, mem)
        if tracer.enabled:
            result["notes"]["peak_pss_mb"] = mem.peak / 2**20
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.dump(os.path.join(TRACE_DIR, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_engine()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    notes = {k: result[k] for k in END_TO_END}
    notes.update(result["notes"])
    if args.trace:
        notes["self_ms"] = {k: round(v, 1) for k, v in sorted(tracer.self_ms().items())}
    print("perfbench", args.workload, "seed", args.seed, json.dumps(notes, sort_keys=True))
    if args.trace:
        # A layer a workload does not exercise reads 0.
        units = per_layer_units()
        layers = dict.fromkeys(units, 0.0)
        layers.update(result["layers"])
        layers["session.peak_pss_mb"] = result["notes"]["peak_pss_mb"]
        layers["trace.spans"] = len(tracer.spans)
        layers["trace.overhead_ms"] = result["trace_read_s"] * 1e3
        metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": float(result[k]), "unit": u} for k, u in END_TO_END.items()}
    out = {"correct": result["failed"] == 0 and result.get("valid", True),
           "attempted": int(result["attempted"]), "failed": int(result["failed"]),
           "metrics": metrics}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
