#!/usr/bin/env python
"""Generate EXPLAIN.md: physical-plan audit of the headline queries.

For every bench headline query (plus the LSH/stateful extras), capture
the executed plan at $SPARK_GRAFT_SF_DIR (default sf0.001 for speed)
and report the scale-relevant properties:

- pushed filters / read schema on every parquet scan
- join strategies chosen (broadcast vs sort-merge vs nested-loop)
- exchange (shuffle) count
- codegen stage count
- Python boundaries (ArrowEval/MapInPandas vs row-at-a-time)

Run:  python tools/explain_audit.py [outfile]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(plan: str) -> dict[str, object]:
    # AQE plans print "== Final Plan ==" then "== Initial Plan ==";
    # audit only the final one or everything double-counts.
    plan = plan.split("== Initial Plan ==")[0]
    scans = []
    for line in plan.splitlines():
        if "FileScan parquet" in line or "FileScan csv" in line:
            cols = re.search(r"FileScan \w+ \[([^\]]*)\]", line)
            # NB: toString truncates long lines, so the closing bracket
            # of PushedFilters may be missing — don't require it.
            pushed = re.search(r"PushedFilters: \[([^\],]*)", line)
            scans.append(
                {
                    "columns": [
                        c.split("#")[0] for c in (cols.group(1).split(",") if cols else [])
                    ],
                    "pushed": pushed.group(1) if pushed else "",
                }
            )
    return {
        "scans": scans,
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "nested_loop_joins": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "shuffles": len(re.findall(r"Exchange (hash|range)partitioning", plan)),
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "arrow_python": plan.count("MapInPandas") + plan.count("ArrowEvalPython"),
        "row_python": plan.count("BatchEvalPython"),
        "plan_chars": len(plan),
    }


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "EXPLAIN.md"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    from bench import AUDIT, HEADLINE
    from fortymhz_spark.queries import all_queries
    from fortymhz_spark.session import get_session

    # extras beyond HEADLINE: the bench AUDIT rows (their plan shape
    # wants auditing even though their walls stay out of the
    # headline) plus the named stragglers, skipping anything HEADLINE
    # already covers
    extra = [
        q
        for q in (*AUDIT, "q_docs_simhash_near_dups", "q_emb_ann_lsh")
        if q not in HEADLINE
    ]
    spark = get_session("explain-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    lines = [
        "# EXPLAIN audit — physical plans of the headline queries",
        "",
        f"Generated by `tools/explain_audit.py` at `{sf_dir}`.",
        "Plan shape is scale posture: a pruned scan stays pruned at 100 TB,",
        "a broadcast join stays shuffle-free, and a missing pushdown here",
        "is a full-table scan there.  Asserted invariants live in",
        "`tests/test_plan_properties.py`; this file is the human-readable",
        "snapshot.",
        "",
        "| query | scans (cols read) | pushdown | bcast | smj | nlj | shuffles | codegen | topk | arrow-py | plan KB |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name in HEADLINE + extra:
        df = registry[name](spark, sf_dir)
        df.collect()  # final (post-AQE) plan
        a = audit(df._jdf.queryExecution().executedPlan().toString())
        scan_desc = "; ".join(str(len(s["columns"])) + " cols" for s in a["scans"])
        push = "yes" if any(s["pushed"] for s in a["scans"]) else "—"
        lines.append(
            f"| {name} | {scan_desc or '—'} | {push} | {a['broadcast_joins']} "
            f"| {a['sortmerge_joins']} | {a['nested_loop_joins']} | {a['shuffles']} "
            f"| {a['codegen_stages']} | {'yes' if a['take_ordered'] else '—'} "
            f"| {a['arrow_python']} | {a['plan_chars'] / 1024:.0f} |"
        )
        print(f"audited {name}", file=sys.stderr)

    lines += [
        "",
        "Legend: bcast/smj/nlj = broadcast-hash / sort-merge / nested-loop-or-",
        "cartesian join counts; shuffles = hash+range exchanges; codegen =",
        "whole-stage codegen spans; arrow-py = Arrow-batched Python operators",
        "(row-at-a-time BatchEvalPython must stay 0); plan KB = plan-string",
        "size — a sudden jump flags the CollapseProject expression-blowup",
        "trap (operators/dedup.py docstring).",
        "",
        "Intentional nlj=1 rows: the broadcast-nested-loop joins are the",
        "DECLARED small-side ground-truth branches — brute-force kNN's",
        "broadcast query set (the scoring work itself), BM25's 1-row",
        "corpus stats, k-means' 1-row init-inertia comparison — never a",
        "fact-fact cartesian (those are asserted absent in",
        "tests/test_plan_properties.py).",
        "",
    ]
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
