"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload sql_batch --seeds 1-10 \
        [--seconds S] [--against EARLIER.json] > THIS.json

Runs ``perfbench/run.py`` once per seed, one run at a time, from the
current directory (``--seconds`` defaults to BENCHMARK.json's
``run_seconds``), and prints per metric the median and the spread
(inter-quartile distance over median, ``probe.spread``), then one JSON
line with every run's result and its ``[perfbench]`` stderr lines.

A set passes when every end-to-end metric's spread, except that of
``setup_s``, is within its ``bound`` in BENCHMARK.json, and, with
``--against`` (the JSON line of an earlier set), when no median is worse
than the earlier one by more than the bound.  A spread under a third of
the bound is the margin the benchmark is tuned for, and is flagged too.
The exit code is 0 only if the set passes and every run was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import probe  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--against", help="JSON output of an earlier set, to compare medians")
    args = ap.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    earlier = {}
    if args.against:
        with open(args.against) as fh:
            earlier = _medians([r["result"] for r in json.load(fh) if r["result"]])

    runs = []
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        log = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench]")]
        runs.append({"seed": seed, "wall_s": wall, "exit": proc.returncode, "result": result,
                     "log": log})
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
              f"{json.dumps(result) if result else proc.stderr[-2000:]}", file=sys.stderr, flush=True)

    ok = [r["result"] for r in runs if r["result"]]
    passed = True
    for name, med in _medians(ok).items():
        values = [r["metrics"][name]["value"] for r in ok]
        line = f"{name:32s} median {med:12.6g}"
        bound = metrics.get(name, {}).get("bound")
        if len(values) >= 2 and med:
            sp = probe.spread(values)
            line += f"  spread {sp:.3f}"
            if bound is not None and name != "setup_s":
                passed &= sp <= bound
                line += f" (bound {bound}: {'ok' if sp <= bound else 'OVER'}"
                line += f"{', under a third' if sp < bound / 3 else ''})"
        if bound is not None and earlier.get(name):
            change = (med - earlier[name]) / earlier[name]
            worse = change if metrics[name]["better"] == "lower" else -change
            passed &= worse <= bound
            line += f"  vs earlier {change:+.3f}{' OVER' if worse > bound else ''}"
        print(line, file=sys.stderr)
    print(f"correct {sum(r['correct'] for r in ok)}/{len(runs)}  "
          f"wall median {statistics.median(r['wall_s'] for r in runs):.1f}s "
          f"max {max(r['wall_s'] for r in runs):.1f}s", file=sys.stderr)
    print(json.dumps(runs))
    return 0 if passed and len(ok) == len(runs) and all(r["correct"] for r in ok) else 1


def _medians(results: list[dict]) -> dict[str, float]:
    names = results[0]["metrics"] if results else []
    return {n: statistics.median(r["metrics"][n]["value"] for r in results) for n in names}


if __name__ == "__main__":
    sys.exit(main())
