#!/usr/bin/env python
"""Same-code window A/B: attribute bench movement to HOST vs CODE.

Round-over-round bench ratios are only meaningful when the two
windows are comparable; this repo's documented noise band (first
recorded round 9, proven same-code round 10) is a degraded co-tenant
window inflating code-untouched probes uniformly.  This tool makes
the attribution a measurement instead of an inference: check out a
reference commit into a fresh worktree, run an 8-query
code-untouched probe set against BOTH trees in the SAME window, and
compare.  Code effect = HEAD/ref ratio (≈1.0× means any movement vs
a recorded baseline is the window, not the code).

Round-10 recorded result: r9 commit 19.7 s vs HEAD 20.8 s (1.06×,
inside noise) in a window measuring ~1.55-1.7× against the r9 driver
reference of 12.4 s for the same probes — see BASELINE.md.

Run:  python tools/window_ab.py [ref_commit]   (default: HEAD~20;
      master local[$SPARK_GRAFT_CPUS], default local[32])
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import time

PROBES = [
    "q1_pricing_summary",
    "q_docs_token_stats",
    "q_snapshot_merge_orders",
    "q_docs_bpe_merges",
    "q_docs_exact_dedup",
    "q_events_sessionize",
    "q_emb_ann_ivfpq_codes",
    "q_docs_gopher_repetition",
]

SF_DIR = "/root/testdata/sf0.1"
# Each tree builds its session through its own session.get_session, so
# a change to the session posture is part of what the A/B measures.
MASTER = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"


def run_tree(tree: str) -> dict[str, float]:
    """Run the probe set from ``tree``'s code in a fresh subprocess
    (fresh JVM — no cross-tree session contamination), 3 reps,
    per-query medians."""
    body = f"""
import sys, time, statistics, json
sys.path.insert(0, {tree!r})
from fortymhz_spark.session import get_session
spark = get_session('window-ab', master={MASTER!r})
spark.sparkContext.setLogLevel('ERROR')
from fortymhz_spark.queries import all_queries
qs = all_queries()
times = {{}}
for rep in range(3):
    for n in {PROBES!r}:
        t0 = time.perf_counter()
        qs[n](spark, {SF_DIR!r}).collect()
        times.setdefault(n, []).append(time.perf_counter() - t0)
print("RESULT " + json.dumps(
    {{n: statistics.median(v) for n, v in times.items()}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", body],
        capture_output=True, text=True, timeout=1800,
        cwd=tempfile.gettempdir(),
    )
    import json

    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"probe run failed:\n{out.stderr[-2000:]}")


def main() -> int:
    ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD~20"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tree = tempfile.mkdtemp(prefix="fmhz_ab_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", tree, ref],
        cwd=repo, check=True, capture_output=True,
    )
    try:
        t0 = time.time()
        ref_times = run_tree(tree)
        head_times = run_tree(repo)
        print(f"# window: {time.strftime('%F %T')}  wall {time.time()-t0:.0f}s")
        print("| probe | ref s | HEAD s | HEAD/ref |")
        print("|---|---|---|---|")
        for n in PROBES:
            r, h = ref_times[n], head_times[n]
            print(f"| {n} | {r:.2f} | {h:.2f} | {h / r:.2f}x |")
        tr, th = sum(ref_times.values()), sum(head_times.values())
        print(f"| TOTAL | {tr:.2f} | {th:.2f} | {th / tr:.2f}x |")
        print(
            "# code effect = the TOTAL ratio; compare either column "
            "against the recorded driver reference to size the window."
        )
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", tree],
            cwd=repo, capture_output=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
