"""In-memory span recorder, counting memo and process-tree RSS sampler.

The recorder lives in the benchmark, not in ``nlquery_spark``: spans are
taken around the calls the benchmark makes into each layer's public
functions. Spans and counts stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Dict, List

RSS_INTERVAL_S = 0.25


class Tracer:
    """Spans (name, start, end, parent, run id) and named counts.

    A disabled tracer records nothing and costs one attribute test per
    span, so the same code runs traced and untraced."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: List[dict] = []
        self.counts: Dict[str, float] = {}
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> Dict[str, float]:
        """Per span name: duration minus the time its children cover.
        Children of one span never overlap (one thread records), so the
        covered part is the sum of their durations."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"run": self.run_id, "spans": self.spans, "counts": self.counts,
                 "self_s": self.self_times(), "metrics": metrics},
                f,
            )


class CountingMemo(dict):
    """A chunk memo that counts its probes and hits.

    Passed as ``memo=`` to ``kernel.extract.extract_text_triples``, which
    probes every chunk with ``get`` exactly once, so the probe count is
    the chunk count and ``probed`` lists the chunks in page order.
    """

    def __init__(self):
        super().__init__()
        self.probes = 0
        self.hits = 0
        self.probed: list = []

    def get(self, key, default=None):
        self.probes += 1
        self.probed.append(key)
        value = super().get(key, default)
        if value is not None:
            self.hits += 1
        return value


def descendants(root: int) -> List[int]:
    """``root`` and every live process below it, from /proc."""
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes() -> int:
    """Summed resident set of this process and all its descendants: the
    driver, the JVM and the Python workers."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process-tree RSS on a background thread and keeps the
    peak. Use as a context manager; the thread is joined on exit."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def quartiles(values: List[float]) -> List[float]:
    """[q1, median, q3]; a single value repeats."""
    if len(values) < 2:
        return [values[0]] * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def percentile(values: List[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
