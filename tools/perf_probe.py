#!/usr/bin/env python
"""Per-query perf probe (round-13 optimization, guide §1).

For each named query (default: the bench HEADLINE list), measures on a
fresh-session basis within one process:

  build_s    wall of registry[name](spark, sf_dir) — Python construction
             plus any EAGER driver actions the builder runs (.first()
             dim checks, driver EM loops, per-process index builds...)
  noop_s     wall of df.write.format("noop").save() — full computation
             of every column, no result transfer (guide §1.4)
  collect_s  wall of df.collect() — the bench's timed action
  jobs/stages/tasks  delta of the status-tracker counters across
             build+noop+collect, split per phase

Prints a TSV to stdout and writes JSON to tools/perf_probe.json
(or $PERF_PROBE_OUT).  Optionally captures .explain("formatted") to
--plans-dir/<name>_<tag>.txt.

Usage:
  python tools/perf_probe.py [--queries a,b,c] [--plans-dir plans/r13]
      [--tag before] [--reps 2]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="")
    ap.add_argument("--plans-dir", default="")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from fortymhz_spark.queries import all_queries
    from fortymhz_spark.session import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session("perf-probe", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
    else:
        import bench

        names = bench.headline_names(registry)

    # Warm the JVM/classloader once so query 1 is not charged for it.
    registry[names[0]](spark, args.sf_dir).limit(1).collect()

    st = spark.sparkContext.statusTracker()

    def counters():
        jobs = st.getJobIdsForGroup(None)
        return len(jobs)

    tracker_jobs_before = None

    out: dict[str, dict] = {}
    for name in names:
        recs = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"probe:{name}:r{rep}")
            j0 = counters()
            t0 = time.perf_counter()
            try:
                df = registry[name](spark, args.sf_dir)
            except Exception as ex:
                out[name] = {"error": f"build: {type(ex).__name__}: {str(ex)[:160]}"}
                break
            t1 = time.perf_counter()
            j1 = counters()
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as ex:
                out[name] = {"error": f"noop: {type(ex).__name__}: {str(ex)[:160]}"}
                break
            t2 = time.perf_counter()
            j2 = counters()
            try:
                rows = df.collect()
            except Exception as ex:
                out[name] = {"error": f"collect: {type(ex).__name__}: {str(ex)[:160]}"}
                break
            t3 = time.perf_counter()
            j3 = counters()
            recs.append(
                {
                    "build_s": round(t1 - t0, 4),
                    "noop_s": round(t2 - t1, 4),
                    "collect_s": round(t3 - t2, 4),
                    "build_jobs": j1 - j0,
                    "noop_jobs": j2 - j1,
                    "collect_jobs": j3 - j2,
                    "rows": len(rows),
                }
            )
            if rep == 0 and args.plans_dir:
                os.makedirs(args.plans_dir, exist_ok=True)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                with open(
                    os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w"
                ) as fh:
                    fh.write(buf.getvalue())
        if name in out and "error" in out[name]:
            print(f"{name}\tERROR\t{out[name]['error']}", flush=True)
            continue
        out[name] = {"reps": recs}
        warm = recs[-1]
        print(
            f"{name}\tbuild={warm['build_s']:.3f}({warm['build_jobs']}j)\t"
            f"noop={warm['noop_s']:.3f}({warm['noop_jobs']}j)\t"
            f"collect={warm['collect_s']:.3f}({warm['collect_jobs']}j)\t"
            f"cold_total={recs[0]['build_s'] + recs[0]['collect_s']:.3f}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    dest = os.environ.get(
        "PERF_PROBE_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "perf_probe.json"),
    )
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"# written {dest}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
