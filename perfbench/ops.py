"""Operation runner: one worker thread, a timeout per operation, and
failure accounting that never aborts the benchmark."""

from __future__ import annotations

import itertools
import queue
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, List, Optional

# how long a timed-out operation may take to stop after its Spark jobs
# are cancelled
GRACE_S = 30.0


@dataclass
class Outcome:
    ok: bool
    latency_s: float
    value: Any = None
    error: Optional[str] = None  # exception class name


@dataclass
class Failures:
    """Failed operations with their latency and exception class."""

    attempted: int = 0
    records: List[dict] = field(default_factory=list)

    def add(self, name: str, out: Outcome) -> None:
        self.attempted += 1
        if not out.ok:
            self.records.append(
                {"op": name, "latency_s": out.latency_s, "error": out.error}
            )

    @property
    def failed(self) -> int:
        return len(self.records)


class Stuck(RuntimeError):
    """An operation outlived its timeout and the grace period after its
    Spark jobs were cancelled: its Python code cannot be interrupted."""


class OpRunner:
    """Runs each operation on a worker thread that lives for the whole
    run (one py4j connection), under a Spark job group so that a timeout
    cancels the operation's jobs. An exception inside an operation,
    including a failed Spark job, is returned as a failed Outcome."""

    def __init__(self, spark_context, timeout_s: float):
        self._sc = spark_context
        self.timeout_s = timeout_s
        self._ids = itertools.count()
        self._jobs: "queue.Queue" = queue.Queue()
        self._results: "queue.Queue" = queue.Queue()
        self._thread = threading.Thread(target=self._loop, name="perfbench-ops", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while True:
            job = self._jobs.get()
            if job is None:
                return
            op_id, fn = job
            self._sc.setJobGroup(f"perfbench-{op_id}", "perfbench operation", True)
            try:
                self._results.put((op_id, True, fn(), None))
            except Exception as e:  # the per-operation failure boundary
                traceback.print_exc()
                self._results.put((op_id, False, None, type(e).__name__))

    def _wait(self, op_id: int, deadline: float):
        while True:
            left = deadline - time.perf_counter()
            if left <= 0:
                return None
            try:
                rid, ok, value, err = self._results.get(timeout=left)
            except queue.Empty:
                return None
            if rid == op_id:
                return ok, value, err
            # a late result of an operation that already timed out

    def run(self, fn: Callable[[], Any]) -> Outcome:
        op_id = next(self._ids)
        t0 = time.perf_counter()
        self._jobs.put((op_id, fn))
        got = self._wait(op_id, t0 + self.timeout_s)
        if got is not None:
            ok, value, err = got
            return Outcome(ok, time.perf_counter() - t0, value, err)
        self._sc.cancelJobGroup(f"perfbench-{op_id}")
        latency = time.perf_counter() - t0
        if self._wait(op_id, time.perf_counter() + GRACE_S) is None:
            raise Stuck(f"operation {op_id} still running {latency + GRACE_S:.0f}s after start")
        return Outcome(False, latency, None, "Timeout")

    def close(self) -> None:
        self._jobs.put(None)
        self._thread.join(GRACE_S)
