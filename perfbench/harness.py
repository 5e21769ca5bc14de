"""Shared run plumbing: the run directory, the Spark session cycle, the
process-tree memory sampler and the span recorder used by traced runs."""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(run_dir: str) -> None:
    """Keep every temp file of the process tree inside ``run_dir`` and let
    Python workers import ``perfbench`` (the stand-in client is pickled
    by reference). Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_e is None or start > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = start, end
        else:
            cur_e = max(cur_e, end)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans kept in memory and written out when the run ends. A span is
    ``(id, name, start_s, end_s, parent, request)``; a layer's self time
    is its span minus its child spans. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            request: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "request": request, **attrs})
        return sid

    def finish(self, sid: int | None) -> None:
        """Close a span opened with ``add`` when its end was not known."""
        if sid is not None:
            self.spans[sid - 1]["end"] = time.time()

    @contextmanager
    def span(self, name: str, parent: int | None = None, request: str | None = None, **attrs):
        """Time the block as a span; yields the span id for children."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": parent, "request": request, **attrs}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.time()

    def self_ms(self) -> dict[str, float]:
        """Self time per span name: each span's length minus the part of
        its interval that its children cover (children may overlap)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
            covered = union_length([(a, b) for a, b in clipped if b > a])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1e3
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _parents() -> dict[int, int]:
    """pid -> ppid for every process, read from /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it. Summing RSS instead counts the pages
    the Python daemon shares with every worker it forks once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak summed PSS of this process and its descendants (the driver,
    the JVM and the Python workers), excluding the ``exclude`` pids'
    subtrees, sampled every SAMPLE_S on a background thread while
    ``active`` (a run clears it before its own checks and bookkeeping).
    Reading a process's PSS walks its page tables, so only traced runs,
    which report the figure, sample; a disabled sampler does nothing."""

    # At 0.25 s the sampling cost traced delivery_steady runs about 10% of
    # their throughput; at 1 s about 2%, inside the run-to-run spread.
    SAMPLE_S = 1.0

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.exclude: set[int] = set()
        self.peak = 0
        self.active = True
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        tree = {os.getpid()} | _descendants(self.exclude)
        total = sum(_pss_bytes(p) for p in tree)
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.SAMPLE_S):
            if self.active:
                self.sample()

    def __enter__(self):
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.enabled:
            self._stop.set()
            self._thread.join()


def new_session(tracer: Tracer, old=None, parent: int | None = None):
    """Stop ``old`` (if any) and start a fresh engine session; returns
    ``(spark, start_s)``."""
    from awsbeats_spark.session import get_spark

    if old is not None:
        old.stop()
    t0 = time.time()
    with tracer.span("session.start", parent):
        spark = get_spark("perfbench", cpus=str(len(os.sched_getaffinity(0))))
    return spark, time.time() - t0


def stop_engine() -> None:
    """Stop the session (if any), shut the JVM down and wait until it and
    every other process this one started (the Python workers) have ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while _descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in _descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _descendants(exclude: set[int] = frozenset()) -> set[int]:
    """Processes below this one, without the ``exclude`` pids' subtrees."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = set(), [os.getpid()]
    while frontier:
        for kid in kids.get(frontier.pop(), []):
            if kid not in exclude:
                out.add(kid)
                frontier.append(kid)
    return out


def ship(spark, tracer: Tracer, parent: int | None = None) -> float:
    """Ship the package to the Python workers; returns seconds taken."""
    from awsbeats_spark.catalog import _ensure_package_shipped

    t0 = time.time()
    with tracer.span("catalog.ship", parent):
        _ensure_package_shipped(spark)
    return time.time() - t0
