"""Open-loop NDJSON event generator, run as its own process.

Every ``tick`` seconds it writes one file holding the events scheduled in
that tick. The file is written under a dot-name (which Spark's file
source ignores) and then renamed into place. Each event's ``ts`` is its
scheduled creation time, to the microsecond. The schedule never waits
for the engine: when the generator falls behind, it writes the overdue
files at once, and its own lateness is reported in the log so a run can
be judged valid or not.

    python3 perfbench/generator.py --seed 1 --out DIR --ladder 500:4,1000:4 \
        --t0-us 1760000000000000 --log gen.json

With the same seed, ladder and ``--t0-us`` the files are byte-identical.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.events import event_line, is_malformed, malformed_line, unit  # noqa: E402

TICK_S = 0.1


def parse_ladder(text: str) -> list[tuple[int, float]]:
    """``"500:4,1000:4"`` -> [(500 events/s, 4 s), (1000, 4)]."""
    return [(int(r), float(d)) for r, d in (step.split(":") for step in text.split(","))]


def ticks(seed: int, ladder, t0_us: int, first_id: int = 1):
    """Yield ``(tick_index, rung_index, end_us, [(event_id, ts_us), ...])``.

    Events are spread evenly over their tick with a seeded jitter, so the
    schedule is a pure function of its arguments."""
    tick_us = int(TICK_S * 1_000_000)
    k, event_id, start_us = 0, first_id, t0_us
    for rung, (rate, seconds) in enumerate(ladder):
        per_tick = rate * TICK_S
        carry = 0.0
        for _ in range(round(seconds / TICK_S)):
            carry += per_tick
            n = int(carry)
            carry -= n
            events = []
            for j in range(n):
                off = int((j + unit(seed, 3, event_id)) * tick_us / n)
                events.append((event_id, start_us + off))
                event_id += 1
            yield k, rung, start_us + tick_us, events
            k += 1
            start_us += tick_us


def file_text(seed: int, events) -> str:
    lines = []
    for event_id, ts_us in events:
        if is_malformed(seed, event_id):
            lines.append(malformed_line(seed, event_id))
        lines.append(event_line(seed, event_id, ts_us))
    return "\n".join(lines) + "\n" if lines else ""


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory the engine watches")
    ap.add_argument("--ladder", required=True, help="rate:seconds,rate:seconds,...")
    ap.add_argument("--t0-us", type=int, required=True, help="schedule start, epoch micros")
    ap.add_argument("--log", required=True, help="JSON log written at exit")
    args = ap.parse_args(argv)

    ladder = parse_ladder(args.ladder)
    t0_us = args.t0_us
    files = []
    for k, rung, end_us, events in ticks(args.seed, ladder, t0_us):
        text = file_text(args.seed, events)
        wait = end_us / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        if text:
            name = f"part-{k:06d}.json"
            tmp = os.path.join(args.out, f".{name}.tmp")
            with open(tmp, "w") as fh:
                fh.write(text)
            os.rename(tmp, os.path.join(args.out, name))
        rename_us = int(time.time() * 1e6)
        first = events[0][0] if events else None
        files.append([k, rung, end_us, rename_us, first, len(events)])
    with open(args.log, "w") as fh:
        json.dump({"seed": args.seed, "t0_us": t0_us, "ladder": ladder,
                   "files": files}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
