"""Seeded event content shared by the generator and the stand-in service.

Every event is a pure function of ``(seed, event_id)`` plus its scheduled
time, so the stand-in can check each delivered payload against what the
generator wrote without reading the generator's files.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

# The event mix is the repository's ``events`` test table's: its five
# event types, each about a fifth of the rows, user ids below 1500, values
# from 0 to 560.21 and a ``props`` JSON object with one key under 100. The
# drop rule removes one type, so it drops a fifth of the events.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DROPPED_TYPE = "signup"
DROP_REGEX = "^signup$"
USERS = 1500
MAX_VALUE_CENTS = 56021
# The table holds no malformed rows, so malformed lines are a probe, not a
# traffic estimate: one line in 50, spaced evenly, puts one in every file
# the generator writes at its lowest rate (500 events/s, a file per 0.1 s).
MALFORMED_EVERY = 50
CLOUD = {"cloud_provider": "aws", "cloud_region": "ap-northeast-1"}
WARM_ID = 10**9  # ids from here up are set-up traffic, which is never faulted

_MASK = (1 << 64) - 1


def mix64(x: int) -> int:
    """splitmix64 finaliser: a fast, well-spread 64-bit hash."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


def unit(seed: int, salt: int, n: int) -> float:
    """Deterministic uniform draw in [0, 1) for item ``n``."""
    return mix64(mix64(seed * 1_000_003 + salt) ^ n) / 2.0**64


def event_fields(seed: int, event_id: int) -> dict:
    """The seeded payload fields of one event, without ``ts``."""
    h = mix64(mix64(seed) ^ event_id)
    return {
        "user_id": (h >> 8) % USERS,
        "event_type": EVENT_TYPES[h % len(EVENT_TYPES)],
        "value": ((h >> 24) % (MAX_VALUE_CENTS + 1)) / 100.0,
        "props": json.dumps({"k": (h >> 48) % 100}),
    }


def iso_micros(us: int) -> str:
    """Epoch micros -> ISO-8601 UTC with all six fractional digits."""
    dt = datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{us % 1_000_000:06d}Z"


def event_line(seed: int, event_id: int, ts_us: int) -> str:
    rec = {"event_id": event_id, "ts": iso_micros(ts_us)}
    rec.update(event_fields(seed, event_id))
    return json.dumps(rec, separators=(",", ":"))


def is_malformed(seed: int, event_id: int) -> bool:
    """Whether a malformed line precedes event ``event_id`` in its file:
    one event in MALFORMED_EVERY, at a seeded offset."""
    return (event_id + mix64(seed * 31 + 7)) % MALFORMED_EVERY == 0


def malformed_line(seed: int, event_id: int) -> str:
    return '{"event_id": %d, "ts": "%x' % (event_id, mix64(seed ^ event_id) & 0xFFFF)


def xid_key(ts_us: int, event_id: int) -> str:
    """The engine's xid partition key: 16-digit micros ++ 12-digit id."""
    return f"{ts_us:016d}{event_id:012d}"


def check_payload(seed: int, key: str, data: str) -> str | None:
    """Why a delivered record is wrong, or None when it is right."""
    if len(key) != 28 or not key.isdigit():
        return "bad key"
    if not data.endswith("\n"):
        return "no trailing newline"
    try:
        obj = json.loads(data)
    except ValueError:
        return "payload is not JSON"
    ts_us, event_id = int(key[:16]), int(key[16:])
    if obj.get("event_id") != event_id:
        return "event_id does not match key"
    want = event_fields(seed, event_id)
    if want["event_type"] == DROPPED_TYPE:
        return "dropped event_type delivered"
    for k, v in list(want.items()) + list(CLOUD.items()):
        if obj.get(k) != v:
            return f"field {k} differs"
    # to_json renders timestamps to the millisecond, and drops a zero
    # fraction.
    ts, want_ts = str(obj.get("ts", "")), iso_micros(ts_us)
    if not (ts.startswith(want_ts[:23]) or (ts_us % 1_000_000 < 1000 and ts == want_ts[:19] + "Z")):
        return "ts does not match key"
    return None
