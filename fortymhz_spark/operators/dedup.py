"""Deduplication operators for training-data pipelines.

Five families, each a different cost/recall point, all expressed as
DataFrame plans (no Python in the hot path):

- exact:      md5-normalized hash → groupBy.  One shuffle on the hash.
- minhash:    k-permutation MinHash signatures + banded LSH join.
              Cost ~ O(tokens·k) map-side, shuffle on (band, bucket).
- simhash:    64-bit sign-aggregate fingerprint; near-dups = small
              Hamming distance, found via band rotations (exact-match
              buckets on 4×16-bit chunks → candidates → verify).
- ngram-jaccard: exact pairwise Jaccard within a blocking key (the
              verification primitive; quadratic within blocks only).
- embedding:  cosine ≥ τ pairs (see operators/similarity.py for the
              ANN scale path).

At 100 TB the rule is: never materialize the quadratic pair space —
every candidate generator here shuffles on a bucket key whose expected
bucket size is O(1)-ish, and only candidates are verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fortymhz_spark.functions.vectors import array_lit_l
from fortymhz_spark.operators.partitioning import spread_scan
from fortymhz_spark.operators.text import content_md5, shingle_set, word_set


def near_dup_components(
    pairs: DataFrame, *, max_iter: int = 25
) -> DataFrame:
    """Connected components over a near-duplicate pair graph.

    Dedup needs GROUPS, not pairs: if A~B and B~C, one representative
    must survive for {A,B,C} even when A~C was never emitted.  Input is
    ``(id_a, id_b)`` (any extra columns ignored); output is
    ``(id, component)`` with ``component`` = min id reachable.

    Algorithm: min-label propagation with POINTER JUMPING — each round
    (1) every node takes the minimum label among itself and its
    neighbors, then (2) every node replaces its label with its label's
    label (path halving).  Propagation alone advances one hop per round
    (O(diameter) — a 1 000-link chain of templated near-dups would need
    1 000 rounds); the jump step halves label-path depth each round, so
    convergence is O(log diameter) — ``max_iter=25`` covers diameters
    past 10⁶ with room (pinned by the 1k-chain test in
    tests/test_properties.py).  Each round is two key joins + one agg;
    ``localCheckpoint`` cuts lineage so the plan doesn't grow with
    iterations (the standard Spark idiom for iterative graph
    algorithms; GraphFrames does the same under the hood).  The
    per-round convergence check is a count aggregate, not a collect.

    Raises ``RuntimeError`` if the loop exits before converging —
    partial labels are WRONG answers (over-split components) and the
    downstream dedup would silently keep duplicates.
    """
    # Lazy checkpoints (round-13, guide §1.2): eager=True runs one
    # materialization JOB per checkpoint — 2 up front + 1 per round on
    # top of the convergence count, pure scheduling overhead since the
    # next action materializes the marked plan anyway (the blocks
    # persist as a side effect of that first action).  eager=False
    # keeps the lineage cut and the persisted blocks identical while
    # folding materialization into the count that follows.
    e = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    # Round-13 (guide §1.2 step 1): seed each label at
    # ``min(id, min(neighbor))`` instead of ``id``.  The node set was
    # already built by a distinct (= groupBy) over the symmetric edge
    # list, so folding the neighbor-min into that SAME aggregation is
    # free — no extra shuffle — and it IS round one's propagate step.
    # Typical near-dup graphs (pairs/short chains) then converge one
    # full round (two joins + a count job) earlier; the fixed point —
    # component = min reachable id — and the zero-change exit test are
    # unchanged (min-label propagation is monotone from any labels
    # bounded below by the fixed point, and every seed is an existing
    # node id so the pointer-jump lookup still always finds a row).
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__nm__"))
        .select(
            "id", F.least(F.col("id"), F.col("__nm__")).alias("component")
        )
        .localCheckpoint(eager=False)
    )
    # Round-14 (guide §2.4 — share one exchange): the propagate step
    # used to be THREE operators per round (edges⋈labels on dst,
    # groupBy(src).min, then labels⋈neighbor_min to fold the node's own
    # label back in and carry old_component).  Adding one static
    # self-loop row (id, id) per node makes the node's OWN label ride
    # the same join — min over the group is then min(own, neighbors')
    # directly, and the self-loop row (dst == src, whose joined label
    # IS the round-start label) yields old_component inside the same
    # aggregate.  One join + one agg per round; the dropped
    # labels⋈neighbor_min shuffle join cost a full label-table exchange
    # per round at any scale.  The label sequence is bit-identical:
    # same node set (labels' ids = distinct src = the self-loop set),
    # same new label min(own, neighbor mins), same old_component.
    selfloops = labels.select(
        F.col("id").alias("src"), F.col("id").alias("dst")
    )
    changed = -1
    for _ in range(max_iter):
        propagated = _propagate(edges, selfloops, labels)
        # Round-13 (guide §2.4): the jump join consumes `propagated`
        # on BOTH sides (probe side and `parent` build side).  Without
        # a lineage cut the physical plan inlines the propagate-join
        # subtree twice — only its inner exchanges get ReusedExchange,
        # the join itself re-executes.  A lazy localCheckpoint makes
        # the two consumers share ONE computed RDD (materialized by
        # the convergence count below, same job), halving the
        # propagate work per round.
        # Retention (round-13 advisor item, intentional): each round
        # persists two slim (id, component[, old]) RDDs and PySpark
        # exposes no unpersist handle for a checkpoint's internal RDD.
        # The per-round Python references are dropped on reassignment,
        # so Spark's ContextCleaner reclaims prior rounds' blocks as
        # the driver GCs them; worst-case live retention is bounded at
        # 2 label-table copies x max_iter (=25) rounds of 2-3 slim
        # columns — MEMORY_AND_DISK, never corpus text.
        propagated = propagated.localCheckpoint(eager=False)
        # Pointer jump: component ← label(component).  Labels are always
        # node ids, so every component value has a row in `propagated`;
        # the left join + coalesce is belt-and-braces for the root.
        parent = propagated.select(
            F.col("id").alias("__pid__"), F.col("component").alias("__pcomp__")
        )
        updated = (
            propagated.join(
                parent, propagated["component"] == parent["__pid__"], "left"
            )
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__pcomp__"), F.col("component")),
                ).alias("new_component"),
                "old_component",
            )
            .localCheckpoint(eager=False)  # materialized by the count below
        )
        changed = updated.filter(
            F.col("new_component") < F.col("old_component")
        ).count()
        labels = updated.select("id", F.col("new_component").alias("component"))
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"near_dup_components did not converge within {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter; returning "
            "partial labels would over-split components"
        )
    return labels


def _propagate(edges: DataFrame, selfloops: DataFrame, labels: DataFrame) -> DataFrame:
    """One propagate step of :func:`near_dup_components`: each node's
    new label is the min over its own and its neighbours' labels, and
    ``old_component`` is its round-start label.

    The round-start label rides along because convergence must compare
    against it, not the post-propagation intermediate — a
    propagation-only round (e.g. the first round of a star graph, where
    the center adopts a leaf's label but no jump shortcut exists yet)
    would otherwise count zero changes and exit with over-split
    components (caught by the 3-node-star regression test).  Exactly the
    self-loop row(s) of each group satisfy dst == src, and any input
    edge with dst == src joins that same round-start label, so the min
    is that label.  A node without its self-loop row would get a NULL
    ``old_component``, drop out of the changed count and let the loop
    exit early, so it raises instead.
    """
    return (
        edges.unionByName(selfloops)
        .join(labels, F.col("dst") == labels["id"])
        .groupBy("src")
        .agg(
            F.min("component").alias("component"),
            F.min(
                F.when(F.col("dst") == F.col("src"), F.col("component"))
            ).alias("old_component"),
        )
        .select(
            F.col("src").alias("id"),
            F.coalesce(
                F.col("old_component"),
                F.raise_error(
                    F.concat(
                        F.lit("near_dup_components: no self-loop row for node "),
                        F.col("src").cast("string"),
                    )
                ),
            ).alias("old_component"),
            "component",
        )
    )


# Round-13: hoisted to operators/partitioning.py::spread_scan so the
# text/span operators can share it without a circular import (text.py
# cannot import from this module — this module imports text.py).  The
# local name survives for the existing call sites and tests.
_spread = spread_scan


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one representative (min id) per normalized-content hash.

    Shape: hash → groupBy(min id) → semi-join back on the id.  The
    semi join keeps the full original row for each representative
    without carrying the hash through a self-join (which would make
    the fingerprint column ambiguous — caught by
    tests/test_properties.py::test_exact_dedup_idempotent).
    """
    keyed = df.withColumn("__fp__", content_md5(text_col))
    reps = keyed.groupBy("__fp__").agg(F.min(id_col).alias(id_col)).select(id_col)
    return df.join(reps, [id_col], "left_semi")


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fingerprint, n_docs, representative) for every duplicate class."""
    return (
        df.withColumn("fingerprint", content_md5(text_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("representative"))
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def _lane_mins(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(id, h0..h{num_hashes-1}) per-lane MinHash minima — the ONE
    signature computation shared by :func:`minhash_near_dups` (which
    bands the lanes) and :func:`minhash_signatures` (which arrays
    them), so the graded estimate and the pair generator can never
    silently decorrelate.

    Explode + min-aggregate, NOT a per-row array expression: 32 inline
    copies of the shingle expression make the plan tree so large that
    optimize+codegen dominates (measured 46 s of pure planning at 500
    rows once the tree is duplicated into both sides of the bucket
    self-join).  The agg form keeps one shingle expression total;
    partial aggregation collapses each map partition to one row per
    doc before the shuffle, so shuffle volume is docs × num_hashes
    longs — shingle strings never move.
    """
    shingles = (
        shingle_set(text_col, shingle_n) if shingle_n > 1 else word_set(text_col)
    )
    exploded = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(shingles).alias("sh")
    )
    # Single-parse agg expressions (round-13: the Column form costs ~9
    # py4j round-trips per lane × 64 lanes ≈ 0.3 s of driver build per
    # call; one expr parse per lane builds the identical tree — the
    # integer literal is INT in both forms, so the hash family is
    # byte-identical).
    return exploded.groupBy("id").agg(
        *[
            F.expr(f"min(xxhash64({i}, sh)) AS h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified with exact
    Jaccard over the shingle sets.

    rows = (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Banding: signature split into ``bands`` bands of ``num_hashes/bands``
    rows; docs sharing any full band land in one bucket (shuffle key =
    (band_idx, band_hash)).  Candidate pairs are generated per bucket —
    a self-join on the bucket key, never on the full corpus — then
    deduped and verified.

    ``bands`` must divide ``num_hashes`` — otherwise the trailing hash
    lanes would be computed (paid for in the aggregate) but never
    banded, silently degrading recall below the requested
    configuration.

    Plan shape matters here:

    - Each hash-family minimum appears EXACTLY ONCE in the expression
      tree.  Referencing an aliased signature array from a later select
      (``element_at(sig, i)``) lets CollapseProject inline the whole
      32-family expression into every reference — a ~1000× map-side
      blow-up (observed: 206 s → 2 s at sf0.1 for the same result).
    - Only ``(id, band, bucket)`` flows through the explode and the
      bucket self-join; shingle arrays never enter the LSH shuffle.
      Candidates are verified by re-joining the (id → shingles) side
      table — at 100 TB the candidate set is orders of magnitude
      smaller than corpus × bands, so two slim hash joins beat one
      wide shuffle.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands {bands} must divide num_hashes {num_hashes}"
        )
    sig = _lane_mins(df, id_col, text_col, num_hashes, shingle_n)
    banded = _banded(sig, num_hashes, bands)
    candidates = (
        banded.select("band", "bucket", F.col("id").alias("id_a"))
        .join(
            banded.select("band", "bucket", F.col("id").alias("id_b")),
            ["band", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    shingles = (
        shingle_set(text_col, shingle_n) if shingle_n > 1 else word_set(text_col)
    )
    ws_tbl = _spread(df).select(F.col(id_col).alias("id"), shingles.alias("ws"))
    return _verify_jaccard(candidates, ws_tbl, threshold)


def _banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH bucket rows from a lane-column signature
    frame — the banding half of :func:`minhash_near_dups`, shared with
    the incremental-index serving path so a persisted signature bands
    IDENTICALLY to a fresh one."""
    rows_per_band = num_hashes // bands
    # Round-14 (guide §7.3 / §1.2 step 2 — driver-side construction):
    # the Column-API form paid one py4j round trip per expression node
    # (~0.65 ms each on this host), ~25 per band; ONE parsed SQL string
    # builds the identical tree (integer literal, xxhash64 over the
    # same lane columns, same aliases) in a single round trip.
    bb = ",".join(
        "struct({b} as band, xxhash64({lanes}) as bucket)".format(
            b=b,
            lanes=",".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        "id", F.expr(f"explode(array({bb}))").alias("bb")
    ).select("id", "bb.band", "bb.bucket")


def _verify_jaccard(
    candidates: DataFrame, ws_tbl: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (id_a, id_b) candidates against an
    (id, ws) shingle-set side table — the fetch-and-verify tail shared
    by the batch and incremental MinHash paths.

    Round-13 (guide §1.2 step 2): the union size is derived as
    ``|a| + |b| - |a ∩ b|`` instead of materializing ``array_union`` —
    exact because shingle sets are ``array_distinct`` by construction
    (integer identity, so the cast-to-double quotient is bit-identical
    to the old form) — and the intersect fold is let-bound in a
    one-element transform scope so the filter's pushed-down copy of
    the jaccard expression evaluates ONE array op per row, not two."""
    # Round-14: the whole let-bound fold as ONE parsed expression (the
    # Column form cost ~40 py4j round trips per call; CASE WHEN with no
    # ELSE is the same NULL-on-empty-union tree as the bare F.when).
    jaccard = F.expr(
        "element_at(transform(array(struct("
        "size(array_intersect(ws_a, ws_b)) as i, "
        "(size(ws_a) + size(ws_b)) as ab)), "
        "s -> CASE WHEN (s.ab - s.i) > 0 THEN "
        "CAST(s.i AS DOUBLE) / CAST((s.ab - s.i) AS DOUBLE) END), 1)"
    )
    return (
        candidates.join(
            ws_tbl.select(F.col("id").alias("id_a"), F.col("ws").alias("ws_a")),
            ["id_a"],
        )
        .join(
            ws_tbl.select(F.col("id").alias("id_b"), F.col("ws").alias("ws_b")),
            ["id_b"],
        )
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures — the mergeable sketch
    itself, exposed so callers can estimate Jaccard from lane agreement
    (``mean(sig_a[i] == sig_b[i])``) without rerunning the shingle
    explode per comparison.

    Built on the same :func:`_lane_mins` pass as
    :func:`minhash_near_dups` — BY CONSTRUCTION the same hash family
    and shingle source, so a sketch-accuracy grade over these
    signatures (q_docs_minhash_estimate) speaks for the pair
    generator too; the array is assembled from the aggregated lanes in
    a single select so no per-lane expression is ever duplicated.
    """
    sig = _lane_mins(df, id_col, text_col, num_hashes, shingle_n)
    return sig.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_pairs_and_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_n: int = 3,
    sig_hashes: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """``(pairs, signatures)`` from ONE lane-min pass (round-13, guide
    §1.2 step 1: don't compute the same thing twice).

    A sketch-accuracy caller (q_docs_minhash_estimate) needs BOTH the
    verified near-dup pairs (banded over ``num_hashes`` lanes) and the
    wider ``sig_hashes``-lane signatures.  Calling
    :func:`minhash_near_dups` + :func:`minhash_signatures` separately
    costs two shingle-explode + min-aggregate passes over the corpus;
    but the hash family is indexed (``xxhash64(i, shingle)``), so the
    first ``num_hashes`` lanes of the ``sig_hashes``-lane pass ARE the
    pair generator's lanes, bit for bit.  This builds both outputs
    from one :func:`_lane_mins` frame — the banding, candidate join,
    and exact-Jaccard verify are the exact expressions
    :func:`minhash_near_dups` builds (equality pinned by
    tests/test_properties.py::test_minhash_pairs_and_signatures_match_separate),
    and the shared aggregation subtree is computed once per action
    (ReusedExchange).
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands {bands} must divide num_hashes {num_hashes}")
    if sig_hashes < num_hashes:
        raise ValueError(
            f"sig_hashes {sig_hashes} must be >= num_hashes {num_hashes}"
        )
    lanes = _lane_mins(df, id_col, text_col, sig_hashes, shingle_n)
    banded = _banded(lanes, num_hashes, bands)
    candidates = (
        banded.select("band", "bucket", F.col("id").alias("id_a"))
        .join(
            banded.select("band", "bucket", F.col("id").alias("id_b")),
            ["band", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    shingles = (
        shingle_set(text_col, shingle_n) if shingle_n > 1 else word_set(text_col)
    )
    ws_tbl = _spread(df).select(F.col(id_col).alias("id"), shingles.alias("ws"))
    pairs = _verify_jaccard(candidates, ws_tbl, threshold)
    sigs = lanes.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(sig_hashes)]).alias("sig")
    )
    return pairs, sigs


# ---------------------------------------------------------------------------
# Incremental dedup against a PERSISTED signature index — the ingest
# lifecycle a 100 TB corpus actually runs: each arriving batch dedups
# against the standing corpus WITHOUT recomputing the standing
# corpus's signatures (its text is touched only to verify candidate
# pairs, the fetch-and-rerank discipline), then appends its own
# signatures so the index keeps pace.  Storage rides the snapshot
# table (sources/snapshots.py): atomic versioned publish, time
# travel, concurrent-writer safety — an ingest job that dies
# mid-extend leaves the index at its previous version.
# ---------------------------------------------------------------------------

_MINHASH_NOTE = "minhash_index "


def build_minhash_index(
    docs: DataFrame,
    table_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
) -> int:
    """Compute the corpus's per-lane MinHash minima (ONE
    :func:`_lane_mins` pass — byte-identical lanes to
    ``minhash_near_dups``'s own) and publish them as v=1..N of a
    snapshot table; returns the version.  The artifact is slim —
    ``num_hashes`` longs per doc, no text — and its note pins the
    hash-family parameters so serving paths cannot band a signature
    built under different parameters."""
    import json as _json

    from fortymhz_spark.sources.snapshots import write_snapshot

    if num_hashes % bands != 0:
        raise ValueError(f"bands {bands} must divide num_hashes {num_hashes}")
    sig = _lane_mins(docs, id_col, text_col, num_hashes, shingle_n)
    params = {
        "num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n,
    }
    return write_snapshot(
        sig, table_dir,
        note=_MINHASH_NOTE + _json.dumps(params, sort_keys=True),
    )


def _minhash_index_params(table_dir: str, version: int | None = None) -> dict:
    from fortymhz_spark.sources.snapshots import resolve_artifact

    # The type tag lives on the build version; extends (MERGE) publish
    # their own notes — resolve_artifact searches the lineage for it.
    # ``version`` MUST match the version whose signature rows will be
    # read: after a rebuild with different num_hashes/shingle_n, the
    # latest params would band a pinned older version with the wrong
    # lane geometry (missing h* columns, or silently different recall).
    return resolve_artifact(table_dir, _MINHASH_NOTE, version=version)[1]


def extend_minhash_index(new_docs: DataFrame, table_dir: str, *,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> int:
    """Append the new batch's signatures as the index's next version
    (snapshot MERGE on id — re-ingesting an id upserts its lanes).
    Parameters come from the artifact note, so the lanes are
    guaranteed band-compatible with every earlier version."""
    import json as _json

    from fortymhz_spark.sources.snapshots import merge_snapshot

    p = _minhash_index_params(table_dir)
    sig = _lane_mins(
        new_docs, id_col, text_col, p["num_hashes"], p["shingle_n"]
    )
    return merge_snapshot(new_docs.sparkSession, table_dir, sig, ["id"])


def incremental_near_dups(
    new_docs: DataFrame,
    base_docs: DataFrame,
    table_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    version: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs INVOLVING the new batch, served against
    the standing signature index: the batch's signatures compute
    fresh (one pass over the BATCH only), the standing corpus
    contributes its persisted ``(id, lanes)`` rows, both band through
    the same :func:`_banded` expression, and candidates come from ONE
    broadcast-hash join — the batch's banded lanes (small side)
    against a map-only scan of the standing lanes, so the corpus side
    never shuffles and the archive's internal duplication is never
    re-paired per batch.  ``base_docs`` supplies text for
    exact-Jaccard verification of the CANDIDATES only (an id-keyed
    semi-join fetch — the standing corpus is never re-shingled in
    bulk; at 100 TB that is the difference between scanning the day's
    crawl and scanning the archive).  Ids are assumed disjoint
    between batch and index (the ingest contract; re-ingests go
    through :func:`extend_minhash_index`'s upsert instead).

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``, at least
    one side in the batch — new↔old and new↔new pairs both surface,
    exactly the pairs a from-scratch run over old ∪ new would emit
    involving the batch (graded: q_docs_incremental_dedup)."""
    from fortymhz_spark.sources.snapshots import read_snapshot

    # params resolve at the SAME version as the signature rows below
    p = _minhash_index_params(table_dir, version=version)
    spark = new_docs.sparkSession
    sig_old = read_snapshot(spark, table_dir, version=version)
    sig_new = _lane_mins(
        new_docs, id_col, text_col, p["num_hashes"], p["shingle_n"]
    )
    # Candidate generation is a BROADCAST of the batch's banded lanes
    # against one map-only pass over the standing signatures — never a
    # corpus-side bucket SELF-join (whose candidate volume tracks the
    # archive's internal duplication, paid again on every batch).  The
    # batch side bands twice (once standalone, once inside the union)
    # so new↔new pairs surface from the same single join; least/
    # greatest + distinct dedups the double emission.  Per-trigger
    # cost: one slim (id, lanes) scan of the index, zero corpus-side
    # shuffle.
    banded_all = _banded(
        sig_old.unionByName(sig_new), p["num_hashes"], p["bands"]
    )
    banded_new = _banded(sig_new, p["num_hashes"], p["bands"])
    candidates = (
        F.broadcast(
            banded_new.select(
                "band", "bucket", F.col("id").alias("id_n")
            )
        )
        .join(
            banded_all.select(
                "band", "bucket", F.col("id").alias("id_o")
            ),
            ["band", "bucket"],
        )
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .distinct()
    )
    shingles = (
        shingle_set(text_col, p["shingle_n"])
        if p["shingle_n"] > 1
        else word_set(text_col)
    )
    # Shingle ONLY the candidate ids: joining the id list before the
    # shingle projection keeps the archive's text out of the shingle
    # fold (the candidate set is batch-bounded; the banding subtree
    # re-executes for this id list, which is far cheaper than bulk
    # re-shingling the standing corpus).
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias("id")
    ).distinct()
    ws_tbl = (
        _spread(base_docs.unionByName(new_docs))
        .select(F.col(id_col).alias("id"), F.col(text_col).alias(text_col))
        .join(cand_ids, ["id"])
        .select("id", shingles.alias("ws"))
    )
    return _verify_jaccard(candidates, ws_tbl, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash fingerprint per document: ``(id, sim)``.

    Same plan-shape rule as minhash_near_dups: a per-row 64-bit-sum
    expression form would be fine once, but duplicated across chunk
    extraction and both join sides it dominates planning+codegen.  Explode tokens, hash once, and
    count set bits per position with map-side-combined sums (shuffle
    = 65 longs per doc); then fold the counts into the fingerprint
    with one small select.  Plain bit sums instead of ±1 case-when
    votes: ``sign(Σ±1) > 0  ⟺  2·Σbit > n`` — same fingerprint,
    roughly half the codegen (measured 2.8 s → 1.0 s cold for the
    vote stage at sf0.1; generated case-when branches are what a
    fresh JVM spends its time compiling).
    Docs with zero tokens drop out at the explode — they have no
    content to be near-duplicates of.
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(word_set(text_col)).alias("tok")
    )
    hashed = toks.select("id", F.xxhash64("tok").alias("h"))
    # Two bit-counts packed per aggregate (32-bit lanes in one long):
    # 33 aggregate buffers instead of 65 halves the generated agg code,
    # and cold compile is what dominates this operator (measured
    # 4.7 s → 2.2 s cold at sf0.1; warm runtime unchanged).  A lane
    # overflows only past 2^32 distinct tokens in ONE document —
    # physically impossible before other limits hit.
    votes = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.shiftright("h", 2 * g).bitwiseAND(F.lit(1))
                + F.shiftright("h", 2 * g + 1).bitwiseAND(F.lit(1))
                * F.lit(1 << 32)
            ).alias(f"p{g}")
            for g in range(32)
        ],
    )
    sim_expr = F.lit(0).cast("long")
    for b in range(64):
        g, lane = b // 2, b % 2
        cnt = F.shiftrightunsigned(F.col(f"p{g}"), 32 * lane).bitwiseAND(
            F.lit(0xFFFFFFFF)
        )
        sim_expr = sim_expr + F.when(
            cnt * 2 > F.col("n"),
            F.lit(2**b if b < 63 else -(2**63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("id", sim_expr.alias("sim"))


def simhash_fingerprints_portable(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash over an ENGINE-PORTABLE hash family: bit b of a
    token's hash is bit b of the first 8 hex digits of ``md5(token)``.

    Same explode → vote-aggregate → fold pipeline as the 64-bit
    ``simhash_fingerprints`` (that one rides Spark's xxhash64 — faster,
    but its fingerprints exist only inside Spark).  md5 produces the
    identical hex string in Spark and DuckDB, so this variant's
    fingerprints — and every pair the bucketed candidate join emits —
    can be recomputed cell-for-cell by the SQL oracle, turning the
    simhash path from rows-only into a full differential check of the
    algorithm (vote fold, pigeonhole chunking, Hamming verify).
    Returns ``(id, sim)`` with ``sim`` in [0, 2³²).
    """
    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(word_set(text_col)).alias("tok")
    )
    hashed = toks.select(
        "id",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Same packed 2-bits-per-lane vote trick as the 64-bit path (see
    # simhash_fingerprints): 17 aggregate buffers instead of 33.
    # Single-parse expr form (round-13): identical tree, ~1 py4j
    # round-trip per aggregate instead of ~15.
    votes = hashed.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(
                f"sum((shiftright(h, {2 * g}) & 1) + "
                f"((shiftright(h, {2 * g + 1}) & 1) * 4294967296L)) "
                f"AS p{g}"
            )
            for g in range(16)
        ],
    )
    sim_terms = ["0L"]
    for b in range(32):
        g, lane = b // 2, b % 2
        cnt = f"(shiftrightunsigned(p{g}, {32 * lane}) & 4294967295L)"
        sim_terms.append(f"IF(({cnt} * 2) > n, {2 ** b}L, 0L)")
    return votes.select("id", F.expr(" + ".join(sim_terms)).alias("sim"))


def _simhash_pairs(
    fp: DataFrame, *, bits: int, max_hamming: int
) -> DataFrame:
    """Pigeonhole pair generation over (id, sim) fingerprints.

    Split the ``bits``-bit fingerprint into ``max_hamming + 1`` chunks;
    by pigeonhole any pair within the distance bound differs in at most
    ``max_hamming`` chunks, so at least one chunk is EQUAL →
    bucket-join on (chunk_idx, chunk_value), then verify the true
    Hamming distance with bit_count(xor).  The chunk count must track
    the bound — 4 fixed chunks with a bound of 6 would silently drop
    distance-4..6 pairs (recall hole, not a perf knob).  More chunks =
    smaller chunks = fuller buckets, so large bounds trade shuffle
    volume for recall; ≤3 (the classic operating point) keeps
    ``bits/4``-wide chunks.
    """
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError(
            f"max_hamming must be < {bits} for a {bits}-bit fingerprint"
        )
    # floor width + remainder in the last chunk: exactly n_chunks
    # non-empty chunks for any n_chunks <= bits (a ceil split can produce
    # FEWER chunks than the pigeonhole bound needs, e.g. 8 for bound 8)
    base = bits // n_chunks
    bounds = [
        (c * base, base if c < n_chunks - 1 else bits - c * base)
        for c in range(n_chunks)
    ]
    chunks = fp.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sim", start)
                        .bitwiseAND(F.lit(-1 if w == 64 else (1 << w) - 1))
                        .alias("val"),
                    )
                    for c, (start, w) in enumerate(bounds)
                ]
            )
        ).alias("cc"),
    ).select("id", "sim", "cc.chunk", "cc.val")
    left = chunks.select(
        "chunk", "val", F.col("id").alias("id_a"), F.col("sim").alias("sim_a")
    )
    right = chunks.select(
        "chunk", "val", F.col("id").alias("id_b"), F.col("sim").alias("sim_b")
    )
    # Hamming-verify with map-side expressions only (bit_count), then
    # dedup pairs WITHOUT a shuffle (round-13, guide §2.4): a pair that
    # agrees on m chunks surfaces m times (once per shared bucket), and
    # the old dropDuplicates shuffled every surviving pair to pick one.
    # Both fingerprints ride the join row, so "count the pair at its
    # LOWEST equal chunk" is a pure filter: keep the row iff every
    # chunk before the matched one DIFFERS between sim_a and sim_b.
    # Exactly one row per qualifying pair survives (the join guarantees
    # the matched chunk is equal, so a first equal chunk exists), and
    # (id_a, id_b, hamming) is fully determined by the pair — the
    # result SET is byte-identical to the dropDuplicates form.
    def _chunk(col: str, start: int, w: int):
        return F.shiftrightunsigned(col, start).bitwiseAND(
            F.lit(-1 if w == 64 else (1 << w) - 1)
        )

    first_equal = F.col("chunk") == F.col("chunk")  # chunk 0: vacuous
    for c in range(1, n_chunks):
        prev_differ = None
        for start, w in bounds[:c]:
            d = _chunk("sim_a", start, w) != _chunk("sim_b", start, w)
            prev_differ = d if prev_differ is None else (prev_differ & d)
        first_equal = F.when(F.col("chunk") == c, prev_differ).otherwise(
            first_equal
        )
    return (
        left.join(right, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .filter(first_equal)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming
    over the 64-bit xxhash64 fingerprints (the production path — fully
    JVM-side, widest fingerprint)."""
    fp = simhash_fingerprints(df, id_col, text_col)
    return _simhash_pairs(fp, bits=64, max_hamming=max_hamming)


def simhash_near_dups_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over the 32-bit md5-based portable fingerprints —
    identical pipeline (vote fold → pigeonhole chunks → bucket join →
    Hamming verify), but every intermediate is recomputable in ANSI
    SQL, so a DuckDB oracle can check the emitted pairs exactly
    (queries/llm.py::q_docs_simhash_near_dups)."""
    fp = simhash_fingerprints_portable(df, id_col, text_col)
    return _simhash_pairs(fp, bits=32, max_hamming=max_hamming)


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: train docs sharing >= ``min_overlap``
    word ``shingle_n``-grams with ANY eval/benchmark doc.

    Returns ``(id, n_overlapping)``.  Shape: explode both sides to
    (id, shingle), distinct the eval side (the benchmark is small — it
    broadcasts), inner-join on the shingle, count distinct shingles per
    train doc.  Train text never shuffles — only (id, shingle) pairs —
    and at 100 TB the eval shingle set is the broadcast side, so the
    scan of train stays shuffle-free up to the final per-id count.
    Shingles join as strings for engine portability; a production run
    on huge shingle sets would map them through ``xxhash64`` first
    (same plan, 8-byte keys).
    """
    sh = shingle_set(text_col, shingle_n)
    # shingle_set is per-doc distinct already — (id, s) needs no extra
    # dedup shuffle; the eval side dedups ACROSS docs before the join.
    # Round-13: both sides' shingling is the cost — spread the scans
    # (no-op at scale, see partitioning.spread_scan).
    train_sh = _spread(train).select(
        F.col(id_col).alias("id"), F.explode(sh).alias("s")
    )
    eval_sh = _spread(eval_df).select(F.explode(sh).alias("s")).distinct()
    hits = train_sh.join(eval_sh, ["s"]).groupBy("id").agg(
        F.count(F.lit(1)).alias("n_overlapping")
    )
    return hits.filter(F.col("n_overlapping") >= min_overlap)


# ---------------------------------------------------------------------------
# bloom-filter decontamination (map-only train scan)
# ---------------------------------------------------------------------------


def _bloom_pos(hex_col, j: int, m_bits: int):
    """Engine-portable bloom bit position ``j`` for a shingle's md5
    hex string: hex digits ``[8j+1, 8j+8]`` as an integer, mod
    ``m_bits``.  ONE md5 per shingle yields up to four independent
    32-bit lanes (k_hashes ≤ 4) — a 3× hash-cost cut over hashing
    ``s || '#' || j`` per position, and md5 renders the identical hex
    string in Spark and DuckDB (the simhash-portable trick, see
    ``simhash_fingerprints_portable``), so an oracle can replay the
    ENTIRE bloom construction and membership test cell-for-cell."""
    return (
        F.conv(F.substring(hex_col, 8 * j + 1, 8), 16, 10).cast("long")
        % m_bits
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_n: int = 8,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """Decontamination via a bloom filter of the eval shingle set:
    train docs with ANY shingle whose ``k_hashes`` bloom bits are all
    set.  Returns ``(id, n_candidate)`` — candidate-shingle counts,
    a SUPERSET of :func:`contaminated_ids`'s exact overlaps (bloom
    filters have no false negatives; false positives are bounded by
    ``(1 - e^(-k·n/m))^k``).

    The 100 TB shape this buys over the exact semi-join twin: the
    train side is a MAP-ONLY scan — no explode, no join, no shuffle
    until the final tiny aggregate.  The eval side collapses to an
    ``m_bits``-bit set (8 KB here) built by one bounded aggregate
    (≤ ``m_bits/32`` rows collect to the driver) and shipped to
    executors as a single array literal in the task binary.  Size
    ``m_bits`` to the eval corpus (~10 bits/shingle for ~1 % FP); past
    tens of MB of bitset, prefer the broadcast semi-join twin
    (``contaminated_ids``) — the crossover is exactly the point where
    the candidate-set inexactness stops paying for itself.

    Bit layout is 32-bit lanes stored in BIGINT words (no sign-bit
    traffic), and the in-lambda bit test is ``word / 2^bit`` in
    doubles — exact for 32-bit words, and expressible inside a
    higher-order-function lambda where the fixed-shift API is not.
    """
    if m_bits % 32 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 32, got {m_bits}")
    if not 1 <= k_hashes <= 4:
        raise ValueError(
            f"k_hashes must be in [1, 4] (md5 lanes), got {k_hashes}"
        )

    sh = shingle_set(text_col, shingle_n)
    # Round-13: shingle hashing on both sides is the cost — spread the
    # scans (no-op at scale, see partitioning.spread_scan).
    positions = (
        _spread(eval_df).select(F.explode(sh).alias("s"))
        .select(F.md5(F.col("s")).alias("h"))
        .select(
            F.explode(
                F.array(*[_bloom_pos(F.col("h"), j, m_bits) for j in range(k_hashes)])
            ).alias("pos")
        )
    )
    word_rows = (
        positions.groupBy((F.col("pos") / F.lit(32)).cast("long").alias("w"))
        # 2^bit is exact in doubles for bit <= 31 — a shift the agg
        # API can't express with a column shift amount.
        .agg(
            F.bit_or(
                F.pow(F.lit(2.0), (F.col("pos") % 32).cast("double")).cast("long")
            ).alias("word")
        )
        .collect()  # bounded driver-side reduce: <= m_bits/32 rows (2048 here)
    )
    words = [0] * (m_bits // 32)
    for r in word_rows:
        words[int(r["w"])] = int(r["word"])
    # Single array literal (not CreateArray): constant-folded once per
    # task, O(1) element_at lookups per probe.  Round-13: built with
    # one expr parse — F.lit(list) costs one py4j round trip per
    # element, ~1.5 s for the 2048-word table, per call
    # (functions/vectors.py::array_lit_l; same array<bigint> type).
    words_lit = array_lit_l(words)

    def member(s):
        # md5 LET-BOUND once per shingle (shingle_set discipline);
        # each of the k lanes reads its own 8 hex digits.
        def over(h):
            cond = None
            for j in range(k_hashes):
                pos = _bloom_pos(h, j, m_bits)
                word = F.element_at(
                    words_lit, ((pos / F.lit(32)).cast("long") + 1).cast("int")
                )
                bit = (pos % 32).cast("double")
                c = (
                    (word.cast("double") / F.pow(F.lit(2.0), bit)).cast("long")
                    % 2
                ) == 1
                cond = c if cond is None else (cond & c)
            return cond

        return F.element_at(F.transform(F.array(F.md5(s)), over), 1)

    return (
        _spread(train).select(
            F.col(id_col).alias("id"),
            F.size(F.filter(sh, member)).alias("n_candidate"),
        )
        .filter(F.col("n_candidate") >= 1)
    )


# ---------------------------------------------------------------------------
# exact n-gram / word-set Jaccard within blocks
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    *,
    threshold: float = 0.5,
    shingle_n: int = 3,
    method: str = "auto",
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard pairs (within ``block_col``, if given).

    Two physically different plans for the SAME exact result:

    - ``"sparse"`` (the default whenever ``threshold > 0``): an
      inverted-index self-join — explode (id, shingle), join on the
      shingle (plus block), and COUNT matches per pair, which IS the
      intersection size; union comes from per-doc sizes.  Cost is
      Σ_s d_s² over shingle document-frequencies d_s, not |block|² —
      for distinctive shingles (the point of w-shingling) that is
      near-linear, and it is the 100 TB shape (measured: the blocked
      form at sf0.1 drops 17 s → ~1.5 s; zero-overlap pairs never
      materialize at all).
    - ``"dense"``: all pairs within a block via join + per-pair
      ``array_intersect`` over 64-bit shingle hashes (injective up to
      2⁻⁶⁴ collisions, so values match string-set Jaccard).  Required
      for ``threshold <= 0`` (zero-overlap pairs are part of the
      answer there); with no block it is a true cross product — ground
      truth / verification only.

    ``"auto"`` picks sparse when ``threshold > 0`` else dense.

    ``max_df`` (sparse path only) caps the quadratic blow-up of
    degenerate "stop shingles": a shingle appearing in k docs
    contributes k² join rows, so one boilerplate line shared by every
    document turns the near-linear index into |corpus|².  With
    ``max_df=c`` set, shingles with document frequency > c are dropped
    from CANDIDATE GENERATION only (the PPJoin prefix-filter idea);
    every surviving candidate pair is then verified with an exact
    ``array_intersect`` over the FULL shingle arrays, so emitted
    jaccard values are exact — the cap affects recall only, and only
    for pairs whose entire overlap is stop shingles (for near-dup
    detection those are boilerplate matches, which is precisely what a
    stop-shingle filter is meant to ignore).  Index cost becomes
    Σ_{df_s ≤ c} d_s² ≤ c · Σ d_s — linear in corpus size for fixed c.
    """
    if method not in ("auto", "sparse", "dense"):
        raise ValueError(f"method must be auto|sparse|dense, got {method!r}")
    if method == "sparse" and threshold <= 0:
        raise ValueError(
            "sparse jaccard_pairs requires threshold > 0: zero-overlap "
            "pairs never meet the inverted index"
        )
    if max_df is not None and max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    use_sparse = method == "sparse" or (method == "auto" and threshold > 0)
    shingle_strs = (
        shingle_set(text_col, shingle_n) if shingle_n > 1 else word_set(text_col)
    )
    shingles = F.transform(shingle_strs, lambda s: F.xxhash64(s))
    base = df.select(
        F.col(id_col).alias("id"),
        shingles.alias("ws"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    on = ["blk"] if block_col else []
    blk_cols = ["blk"] if block_col else []
    if use_sparse:
        ex = base.select(
            *blk_cols, "id", F.explode("ws").alias("sh")
        )
        if max_df is not None:
            # df per (block, shingle): each doc contributes a shingle
            # once (sets are distinct by construction), so count == df.
            # The semi-join keeps only index postings for rare shingles;
            # common ones never reach the pair-generating self-join.
            rare = (
                ex.groupBy(*blk_cols, "sh")
                .agg(F.count(F.lit(1)).alias("df_"))
                .filter(F.col("df_") <= max_df)
                .select(*blk_cols, "sh")
            )
            idx = ex.join(rare, [*on, "sh"], "left_semi")
            cand = (
                idx.select(*blk_cols, F.col("id").alias("id_a"), "sh")
                .join(
                    idx.select(*blk_cols, F.col("id").alias("id_b"), "sh"),
                    [*on, "sh"],
                )
                .filter(F.col("id_a") < F.col("id_b"))
                .select(*blk_cols, "id_a", "id_b")
                .distinct()
            )
            # Exact verify over the full arrays (candidates only): the
            # rare-shingle index decides WHICH pairs to score, never
            # WHAT the score is.
            arrs = base.select("id", "ws", F.size("ws").alias("n"))
            with_arrays = cand.join(
                arrs.select(
                    F.col("id").alias("id_a"),
                    F.col("ws").alias("ws_a"),
                    F.col("n").alias("n_a"),
                ),
                ["id_a"],
            ).join(
                arrs.select(
                    F.col("id").alias("id_b"),
                    F.col("ws").alias("ws_b"),
                    F.col("n").alias("n_b"),
                ),
                ["id_b"],
            )
            inter_exact = with_arrays.select(
                *blk_cols,
                "id_a",
                "id_b",
                "n_a",
                "n_b",
                F.size(F.array_intersect("ws_a", "ws_b"))
                .cast("double")
                .alias("inter"),
            )
            union = (
                F.col("n_a") + F.col("n_b")
            ).cast("double") - F.col("inter")
            return (
                inter_exact.withColumn("jaccard", F.col("inter") / union)
                .filter(F.col("jaccard") >= threshold)
                .select(*blk_cols, "id_a", "id_b", "jaccard")
            )
        sizes = base.select(F.col("id"), F.size("ws").alias("n"))
        inter = (
            ex.select(*blk_cols, F.col("id").alias("id_a"), "sh")
            .join(
                ex.select(*blk_cols, F.col("id").alias("id_b"), "sh"),
                [*on, "sh"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy(*blk_cols, "id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("double").alias("inter"))
        )
        union = (F.col("n_a") + F.col("n_b")).cast("double") - F.col("inter")
        return (
            inter.join(
                sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")),
                ["id_a"],
            )
            .join(
                sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")),
                ["id_b"],
            )
            .withColumn("jaccard", F.col("inter") / union)
            .filter(F.col("jaccard") >= threshold)
            .select(*blk_cols, "id_a", "id_b", "jaccard")
        )
    # Per-row set sizes computed BEFORE the join: |a ∪ b| = |a|+|b|−|a∩b|
    # (sets are distinct by construction), which drops the second full
    # array hash pass (array_union) from the per-pair work — the verify
    # is the quadratic-within-block hot loop, so halving it matters.
    left = base.select(
        *blk_cols,
        F.col("id").alias("id_a"),
        F.col("ws").alias("ws_a"),
        F.size("ws").alias("n_a"),
    )
    right = base.select(
        *blk_cols,
        F.col("id").alias("id_b"),
        F.col("ws").alias("ws_b"),
        F.size("ws").alias("n_b"),
    )
    joined = left.crossJoin(right) if not on else left.join(right, on)
    # Size-ratio prune (the standard set-similarity-join filter):
    # inter ≤ min(|a|,|b|) and union ≥ max(|a|,|b|), so J ≥ τ forces
    # min/max ≥ τ — pairs outside the size band skip the intersect
    # entirely on two integer compares.
    size_ok = (
        F.col("n_a").cast("double") >= F.col("n_b") * F.lit(threshold)
    ) & (F.col("n_b").cast("double") >= F.col("n_a") * F.lit(threshold))
    # Two-step select so the array_intersect runs ONCE per pair: `inter`
    # feeds both the union arithmetic and the ratio, and referencing the
    # full expression twice in one projection would duplicate the hash
    # pass (same CollapseProject discipline as the signature pipelines —
    # an aliased attribute is cheap to inline, the intersect is not).
    with_inter = joined.filter(
        (F.col("id_a") < F.col("id_b")) & size_ok
    ).select(
        *blk_cols,
        "id_a",
        "id_b",
        "n_a",
        "n_b",
        F.size(F.array_intersect("ws_a", "ws_b")).cast("double").alias("inter"),
    )
    union = (F.col("n_a") + F.col("n_b")).cast("double") - F.col("inter")
    return (
        with_inter.withColumn(
            "jaccard", F.when(union > 0, F.col("inter") / union)
        )
        .filter(F.col("jaccard") >= threshold)
        .select(*blk_cols, "id_a", "id_b", "jaccard")
    )
