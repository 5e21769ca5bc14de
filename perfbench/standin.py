"""Stand-in Kinesis service owned by the benchmark.

A ``BulkPutClient`` for ``publish_records``. It answers each call at
once: it adds no service time of its own, so what the benchmark times is
the engine's work, not a guess at a remote service's latency. On faulty
settings one record in every ``reject_every`` is
rejected with an ``ErrorCode``, and a call fails as a whole when it holds
one of the records picked one in every ``call_error_every``. A record
the client has rejected before is always accepted, and a call that holds
such a record never fails, so a record that never arrives is an engine
fault, not the service's.

Like a remote service, it spends no CPU of the engine's cores on
checking: each delivered record is logged as
``A <partition_key> <ack_us> <attempt> <payload>`` to one file per worker
process, and the benchmark validates every payload when it reads the log
(``events.check_payload``). A payload that would break the line framing
is logged as ``B <key> <reason>``. Each call is logged as
``C <start_us> <end_us> <records> <acked> <rejected> <failed> <retried> <gap_us>``.
"""

from __future__ import annotations

import os
import time

from perfbench.events import WARM_ID, mix64

REJECT_CODE = "ProvisionedThroughputExceededException"


def _append(run_dir: str, text: str) -> None:
    """Append to this worker process's ack log."""
    with open(os.path.join(run_dir, f"acks-{os.getpid()}.log"), "a") as fh:
        fh.write(text)


def _every(seed: int, salt: int, every: int, event_id: int) -> bool:
    """True for one event id in every ``every``, at a seeded offset: faults
    spaced evenly, so every run of a workload meets the same pattern."""
    return 0 < every and event_id < WARM_ID and (event_id + mix64(seed * 31 + salt)) % every == 0


def rejects_record(seed: int, reject_every: int, key: str) -> bool:
    """Whether the service rejects this record on its first attempt."""
    return _every(seed, 11, reject_every, int(key[16:]))


def fails_call(seed: int, call_error_every: int, keys: list[str]) -> bool:
    """Whether a first-attempt call fails as a whole: it does when it holds
    one of the events picked one in ``call_error_every``."""
    return any(_every(seed, 13, call_error_every, int(k[16:])) for k in keys)


class StandInKinesis:
    """One client per partition, as ``foreach_batch_writer`` builds them."""

    def __init__(self, cfg=None, *, run_dir: str, seed: int, reject_every: int = 0,
                 call_error_every: int = 0):
        self.run_dir = run_dir
        self.seed = seed
        self.reject_every = reject_every
        self.call_error_every = call_error_every
        self.attempts: dict[str, int] = {}
        self.last_end_us = int(time.time() * 1e6)

    def put_records(self, records: list[dict]) -> dict:
        start_us = int(time.time() * 1e6)
        gap_us = start_us - self.last_end_us
        keys = [r["partition_key"] for r in records]
        retried = sum(1 for k in keys if k in self.attempts)
        for k in keys:
            self.attempts[k] = self.attempts.get(k, 0) + 1
        if not retried and fails_call(self.seed, self.call_error_every, keys):
            end_us = self.last_end_us = int(time.time() * 1e6)
            _append(self.run_dir, f"C {start_us} {end_us} {len(keys)} 0 0 1 {retried} {gap_us}\n")
            raise ConnectionError("stand-in service error: InternalFailure")
        entries, acked = [], []
        for rec, key in zip(records, keys):
            n = self.attempts[key]
            if n == 1 and rejects_record(self.seed, self.reject_every, key):
                entries.append({"ErrorCode": REJECT_CODE, "ErrorMessage": "Rate exceeded"})
                continue
            entries.append({"ErrorCode": ""})
            acked.append((key, n, rec["data"]))
        end_us = self.last_end_us = int(time.time() * 1e6)
        lines = [f"A {k} {end_us} {n} {data}" if data.find("\n") == len(data) - 1
                 else f"B {k} payload is not one line ending in a newline\n"
                 for k, n, data in acked]
        rejected = len(keys) - len(acked)
        lines.append(f"C {start_us} {end_us} {len(keys)} {len(acked)} {rejected} 0 {retried} {gap_us}\n")
        _append(self.run_dir, "".join(lines))
        return {"FailedRecordCount": rejected, "Records": entries}
