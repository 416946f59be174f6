"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_gazetteer --seed 1 --seconds 15 --trace 0

Run it from the repository root. It starts Spark on ``local[N]`` with N
the usable cores, builds the workload's inputs from ``--seed``, sets up
several times, measures for ``--seconds`` seconds, checks the outputs,
and prints one summary line per metric followed, as the last line, by a
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
every other operation of the window is traced, and the run reports
the per-layer metrics. The exit code is 1 when an output check fails and 2
when the program cannot be imported. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from spans import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# how long the JVM, and then any process left below this one, may take
# to exit before it is killed
EXIT_GRACE_S = 20.0
PR_SET_CHILD_SUBREAPER = 36


def _usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _become_subreaper() -> None:
    """Descendants orphaned while the run ends (the JVM's Python workers
    once the JVM exits) are re-parented to this process rather than to
    init, so that ``_reap_descendants`` can wait for every one."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _stop_spark(spark) -> None:
    """Stops the session and then its JVM, and waits for the JVM to end.
    ``spark.stop()`` alone leaves the JVM running until it sees this
    process's end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(EXIT_GRACE_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _reap_descendants() -> None:
    """Ends every process still below this one (TERM, then KILL after a
    grace period) and waits for each. As a subreaper this process is the
    parent of every live descendant's top, so "no child left" means no
    descendant left."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me)[1:]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + EXIT_GRACE_S
        while time.monotonic() < deadline:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    time.sleep(0.05)
            except ChildProcessError:
                return


def _pin_environment(workdir: str, nproc: int) -> None:
    """Everything the Spark workers inherit: the program on PYTHONPATH
    (the driver's sys.path does not reach them), scratch space inside the
    checkout, and the core count the session factory reads."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM would otherwise keep a perf-data file in /tmp, outside
    # the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def _start_spark(workdir: str, nproc: int):
    from nlquery_spark.plans.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            # the whole heap is committed and touched at start, so the
            # JVM's share of peak_rss_mb does not follow GC timing
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _window(w, runner, seconds: float, tracers, failures, min_ops: int) -> list:
    """Closed loop: the next operation starts when the last one ended,
    until ``seconds`` have passed and ``min_ops`` operations have run.
    Operations take the tracers in turn, so that a traced and an
    untraced series see the same drift of the machine. One result per
    tracer."""
    from ops import Stuck

    res = [{"lat": [], "missed": [], "item_rates": [], "output_rates": []} for _ in tracers]
    t_end = time.perf_counter() + seconds
    k = 0
    while k < min_ops or time.perf_counter() < t_end:
        tracer, r = tracers[k % len(tracers)], res[k % len(tracers)]
        k += 1
        try:
            with tracer.span("op"):
                out = runner.run(lambda: w.op(tracer))
        except Stuck as e:
            failures.records.append({"op": "stuck", "latency_s": runner.timeout_s, "error": str(e)})
            failures.attempted += 1
            break
        failures.add(type(w).__name__, out)
        if out.ok:
            r["lat"].append(out.latency_s)
            r["item_rates"].append(out.value[0] / out.latency_s)
            r["output_rates"].append(out.value[1] / out.latency_s)
            w.after_op()
        else:
            r["missed"].append(out.latency_s)
            r["item_rates"].append(0.0)
            r["output_rates"].append(0.0)
    # a failed operation counts as slower than any limit: it enters the
    # latency percentiles at the timeout and the rates at zero
    for r in res:
        r["lat_all"] = r["lat"] + [max(x, runner.timeout_s) for x in r.pop("missed")]
    return res


def run(args) -> int:
    nproc = _usable_cpus()
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(workdir, nproc)
    _become_subreaper()
    try:
        return _run(args, nproc, workdir)
    finally:
        _reap_descendants()
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, nproc: int, workdir: str) -> int:
    try:
        import nlquery_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    import workloads
    from ops import Failures, OpRunner
    from spans import RssSampler, Tracer, percentile, quartiles

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    spark = None
    runner = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = _start_spark(workdir, nproc)
            session_s = time.perf_counter() - t0
            w = workloads.make(args.workload, spark, args.seed, args.size, nproc, workdir)
            setup_s = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                w.setup()
                setup_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            w.warmup()
            runner = OpRunner(spark.sparkContext, w.op_timeout_s)
            failures = Failures()
            # the JVM's JIT and the workers settle over the first
            # operations: after a single warm-up pass, the first timed
            # crawl pass took 1.3-1.5x as long as the fifth
            _window(w, runner, 0.0, [Tracer(False, "")], failures, w.cfg["warmup_ops"])
            warmup_s = time.perf_counter() - t0
            # traced, every other operation of the window is traced
            traced_tracer = Tracer(True, f"{args.workload}-{args.seed}")
            tracers = [Tracer(False, "")] + ([traced_tracer] if args.trace else [])
            main, *traced = _window(w, runner, args.seconds, tracers, failures, len(tracers))
        t0 = time.perf_counter()
        checked = w.check()
        checked["check_s"] = round(time.perf_counter() - t0, 3)
        layer = {}
        if args.trace:
            layer = w.probe(traced_tracer, statistics.median(main["lat"]))
    finally:
        if runner is not None:
            runner.close()
        if spark is not None:
            _stop_spark(spark)

    lat = main["lat"]
    n = len(lat)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": nproc,
        "ops": n,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "failures": failures.records[:20],
        "session_s": round(session_s, 3),
        "setup_reps_s": [round(x, 3) for x in setup_s],
        "warmup_s": round(warmup_s, 3),
        "timings_s": {k: [round(x, 3) for x in v] for k, v in w.timings.items()},
        "checked": checked,
        "problems": w.problems[:20],
    }
    if lat:
        summary["op_ms_quartiles"] = [round(1000 * x, 1) for x in quartiles(lat)]
    print("perfbench " + json.dumps(summary))
    if not lat:
        print("perfbench: no operation succeeded", file=sys.stderr)
        return 1
    # rates are medians over operations: a crawl pass always has the same
    # pages and triples, and over a window of five to fifteen passes the
    # median moved less from run to run than total work over busy time
    q = quartiles(main["item_rates"])
    p50_ms = 1000 * statistics.median(main["lat_all"])
    e2e = {
        "setup_s": (session_s + statistics.median(setup_s) + warmup_s, "s"),
        "items_per_s": (q[1], "1/s"),
        "outputs_per_s": (statistics.median(main["output_rates"]), "1/s"),
        "op_p50_ms": (p50_ms, "ms"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    # workload-specific names, for reading; the gate uses the generic ones
    readable = {
        "failed_frac": (failures.failed / max(failures.attempted, 1), f"of {failures.attempted} ops"),
    }
    if args.workload == "nl_query":
        n_all = len(main["lat_all"])
        readable["nlq_p50_ms"] = (p50_ms, f"ms n={n_all}")
        readable["nlq_p90_ms"] = (1000 * percentile(main["lat_all"], 90), f"ms n={n_all}")
        readable["nlq_p95_ms"] = (1000 * percentile(main["lat_all"], 95), f"ms n={n_all}")
    else:
        readable["pages_per_s"] = (e2e["items_per_s"][0], f"1/s q1={q[0]:.1f} median={q[1]:.1f} q3={q[2]:.1f} passes={n}")
        readable["triples_per_s"] = (e2e["outputs_per_s"][0], "1/s")
    for name, (value, unit) in {**e2e, **readable}.items():
        print(f"perfbench metric {name} = {value:.6g} {unit}")

    if args.trace:
        layer["session.start_s"] = session_s
        layer["sources.generate_s"] = statistics.median(w.timings["sources.generate_s"])
        layer["trace.overhead_frac"] = (
            statistics.median(traced[0]["lat"]) / statistics.median(lat) - 1.0
            if traced[0]["lat"] else 0.0
        )
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}
        traced_tracer.write(
            os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-{args.seed}.json"),
            layer,
        )
        for k, v in sorted(layer.items()):
            print(f"perfbench layer {k} = {v:.6g} {_unit(k)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = not w.problems
    print(json.dumps({
        "correct": correct,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith("_ms_per_page") or name.endswith("_ms_per_chunk"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_per_s_1proc"):
        return "1/s"
    if name.endswith(("_ratio", "_frac", "_efficiency", "_skew")):
        return "ratio"
    return "count"


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # The kernel's work depends on string-hash order (the same pages
        # took 1.7 s to 3.1 s across hash seeds on one machine). Spark
        # already starts its Python workers with seed 0; the driver,
        # which parses the NL queries, runs again under it too.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    # a TERM unwinds like an exception, so the Spark JVM and every other
    # process the run started are still stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
