"""Benchmark entry point.

    python3 perfbench/run.py --workload {dt_stream,sql_batch} --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  The program is imported from that
checkout; inputs are generated from ``--seed`` under ``.perfbench_work/``
and deleted at exit.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, holding the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.  A trace run also writes its spans to
``.perfbench_work/trace-<workload>-<seed>.json``.  See NOTES.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

WORKLOADS = ("dt_stream", "sql_batch")
END_TO_END = ("setup_s", "first_pass_s", "pass_s", "rate_per_s")
HARD_LIMIT_S = 170.0
REQUIRED = ("fortymhz_spark/session.py", "fortymhz_spark/queries/__init__.py", "tests/diffcheck.py")


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters, from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


AGE_AT_T0 = _process_age_s()
TICKS_AT_T0 = _cpu_ticks()


def _isolate(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and give Spark's
    Python workers the checkout's package.  The shipped session defaults
    are left as they are: only knobs that override them are removed."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    for knob in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS"):
        os.environ.pop(knob, None)
    sys.path.insert(0, root)


def _jvm_proc():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def _watchdog() -> None:
    """Kill the JVM and exit non-zero if the run overruns its limit."""
    time.sleep(HARD_LIMIT_S)
    print(f"[perfbench] run exceeded {HARD_LIMIT_S:.0f}s; aborting", file=sys.stderr, flush=True)
    proc = _jvm_proc()
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(3)


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"[perfbench] not a checkout of the program (missing {missing}); "
              "run from the repository root", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(root, work)
    threading.Thread(target=_watchdog, daemon=True).start()

    import probe
    import workloads as wl

    tracer = probe.Tracer(bool(args.trace))
    nproc = len(os.sched_getaffinity(0))
    with tracer.span("setup.session", "setup"):
        import fortymhz_spark.queries  # noqa: F401  (registry import is set-up work)
        import fortymhz_spark.streaming  # noqa: F401

        spark = wl.start_session(f"local[{nproc}]")
    setup = {"setup.session_s": AGE_AT_T0 + time.perf_counter() - T0}

    try:
        if args.workload == "dt_stream":
            res = wl.run_dt_stream(spark, args.seed, work, bool(args.trace), tracer, setup)
        else:
            res = wl.run_batch(spark, wl.SQL_QUERIES, args.seed, work, args.seconds,
                               bool(args.trace), tracer, setup)
        wl.log(f"workload done at {time.perf_counter() - T0:.1f}s")
        peak_mb = probe.jvm_peak_rss_mb(spark)  # same JVM if the session was replaced
        ticks = [b - a for a, b in zip(TICKS_AT_T0, _cpu_ticks())]
    finally:
        from pyspark.sql import SparkSession

        _shutdown(SparkSession.getActiveSession() or spark)
        shutil.rmtree(work, ignore_errors=True)
        wl.log(f"shut down at {time.perf_counter() - T0:.1f}s")

    e2e = dict(res.end_to_end)
    e2e["setup_s"] = sum(setup.values())
    layers = {name: 0.0 for name in wl.PER_LAYER}
    layers.update(setup)
    layers.update(res.per_layer)
    layers["mem.peak_rss_mb"] = peak_mb
    # Share of CPU time the hypervisor gave to other guests (the 8th
    # /proc/stat counter): wall-clock noise this run could not avoid.
    layers["host.steal_ratio"] = ticks[7] / sum(ticks)
    if "trace.overhead_s" not in res.per_layer:
        layers["trace.overhead_s"] = tracer.self_s
    layers["trace.spans"] = len(tracer.spans)
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": wl.unit_of(k)} for k in wl.PER_LAYER}
        tracer.dump(
            os.path.join(base, f"trace-{args.workload}-{args.seed}.json"),
            workload=args.workload, seed=args.seed, per_layer=layers, end_to_end=e2e,
        )
    else:
        metrics = {k: {"value": e2e[k], "unit": wl.unit_of(k)} for k in END_TO_END if k in e2e}
    shown = {**e2e, **{k: v for k, v in layers.items() if v or k in res.per_layer}}
    wl.log(" ".join(f"{k}={v:.6g}" for k, v in shown.items()))
    correct = res.failed == 0 and res.attempted > 0 and (
        bool(args.trace) or all(k in metrics for k in END_TO_END)
    )
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
