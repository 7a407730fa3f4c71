"""Structured logging + operation counters (reference M1/M2/M5).

The reference Lambda emits one-line JSON events ``{event, level, ts,
**fields}`` (reference dubai-dataset/lambdas/data-ingestion/
lambda_handler.py:18-31) and keeps async-safe per-operation counters
returned in the job summary (lambda_handler.py:35-59). The engine keeps
the same observable contract; counters additionally have a Spark-
accumulator-backed variant for distributed code paths.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from typing import Any


def log(event: str, level: str = "info", **fields: Any) -> dict[str, Any]:
    """Emit one structured JSON log line; returns the record."""
    record = {
        "event": event,
        "level": level,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        **fields,
    }
    print(json.dumps(record, default=str), file=sys.stderr, flush=True)
    return record


def overlap(spark, *thunks) -> list:
    """Run independent thunks (writes, measurements) concurrently and
    return their results in order, re-raising the first failure after
    every thunk has finished. Each thunk is wrapped on its own so its
    pool thread takes the caller's local properties (job group,
    scheduler pool) and its jobs stay in the caller's group; one wrap
    per thunk, since each write sets its own SQL execution id in the
    copy it gets."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        return [f.result() for f in futs]


class OpCounter:
    """Thread-safe named counters (reference S3RequestCounter parity).

    The reference counts S3 API calls per operation plus a total; the
    engine counts whatever operations a job cares about (files fetched,
    bytes written, rows quarantined, ...).
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counts: dict[str, int] = {}

    def incr(self, op: str, n: int = 1) -> None:
        with self._lock:
            self._counts[op] = self._counts.get(op, 0) + n

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            out = dict(self._counts)
        out["total"] = sum(out.values())
        return out


class Stopwatch:
    """Wall-clock + throughput accounting (reference M5 cost math)."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def mb_per_s(self, n_bytes: int) -> float:
        dt = self.elapsed()
        return (n_bytes / (1024 * 1024)) / dt if dt > 0 else 0.0
