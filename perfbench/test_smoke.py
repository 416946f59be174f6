"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs untraced and traced; each run must pass its output
checks and emit exactly the metrics BENCHMARK.json names, with their
units, and leave no process behind, not even an unreaped one. The
operation runner must count an exception and a timeout as failed
operations. A copy of the benchmark without the program must fail
without printing a result.
"""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd, workload, trace):
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    # a session of its own, so that whatever the run starts can be found
    with subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, start_new_session=True) as p:
        out, err = p.communicate(timeout=300)
    done = subprocess.CompletedProcess(cmd, p.returncode, out, err)
    done.pid = p.pid
    return done


def _session_members(sid):
    """Processes of session ``sid``, zombies included."""
    out = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields resume after the command name: state, ppid, pgrp, session
        if fields[3] == str(sid):
            out.append(int(entry))
    return out


@pytest.mark.parametrize("trace", [0, 1])
# every workload run.py knows: nl_query runs by the same command but is
# not one of the workloads BENCHMARK.json gates
@pytest.mark.parametrize("workload", ["crawl_boilerplate", "crawl_gazetteer", "nl_query"])
def test_metrics_and_checks(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _session_members(proc.pid) == []
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_op_runner_counts_exceptions_and_timeouts():
    sys.path.insert(0, HERE)
    from ops import Failures, OpRunner

    class FakeContext:
        def __init__(self):
            self.cancelled = []

        def setJobGroup(self, group, description, interrupt):
            pass

        def cancelJobGroup(self, group):
            self.cancelled.append(group)

    def fail():
        raise RuntimeError("Too many merge passes")

    sc = FakeContext()
    runner = OpRunner(sc, timeout_s=0.2)
    failures = Failures()
    try:
        for fn in (lambda: 1, fail, lambda: time.sleep(0.6), lambda: 2):
            failures.add("op", runner.run(fn))
    finally:
        runner.close()
    assert failures.attempted == 4 and failures.failed == 2
    assert [r["error"] for r in failures.records] == ["RuntimeError", "Timeout"]
    assert sc.cancelled == ["perfbench-2"]


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), os.path.join(bare, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    try:
        proc = _run(bare, BENCH["workloads"][0]["name"], 0)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
