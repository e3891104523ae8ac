"""Deterministic sampling operators for training-data pipelines.

``df.sample()`` is seed-stable only for a fixed partitioning — a
repartition, a cluster resize, or AQE re-planning changes which rows
are picked.  At 100 TB that breaks reproducibility (and makes
train/test splits drift between runs).  Everything here derives the
keep/drop decision from the DATA (a key column), so the same rows are
selected on any cluster, any partitioning, any engine:

    score(key) = (key * KNUTH) mod SCORE_MOD          -- pure int ops
    keep  ⟺  score < rate * SCORE_MOD

Multiplicative (Knuth) hashing over a unique key spreads scores
uniformly; the arithmetic is plain 64-bit integer multiply/mod, so a
SQL oracle (DuckDB) reproduces the exact sample — no engine-specific
hash function in the contract.  All operators are single column
expressions (no shuffle, no Python); stratified sampling adds one
broadcast-sized map at plan time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Knuth's multiplicative constant (2^32 / phi) and a prime modulus.
KNUTH = 2_654_435_761
SCORE_MOD = 1_000_003

# NULL-group sentinel, the ONE definition: budget_sample keys groups
# as strings (the cut-table literal's type) with NULL mapped here, and
# the streaming quota sink (streaming/sinks.py::start_budget_ingest_sink)
# must key its ledger IDENTICALLY or a NULL group's quota silently
# splits across two phantom groups between the batch and stream forms.
NULL_GROUP = "\x00<null>"


def sample_score(key: Column | str) -> Column:
    """Deterministic pseudo-uniform score in [0, SCORE_MOD) from an
    integer key.  ``pmod`` keeps it non-negative for negative keys."""
    k = F.col(key) if isinstance(key, str) else key
    return F.pmod(k.cast("long") * F.lit(KNUTH), F.lit(SCORE_MOD))


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict[str, float], key_col: str
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language quotas when
    rebalancing a pretraining mix).  ``fractions`` maps stratum value →
    keep rate; missing strata keep rate 0.  The per-stratum threshold is
    a small CASE expression (plan-time literal map — no join)."""
    thresh = None
    for value, rate in sorted(fractions.items()):
        cond = F.col(strata_col) == value
        lit = F.lit(int(rate * SCORE_MOD))
        thresh = F.when(cond, lit) if thresh is None else thresh.when(cond, lit)
    thresh = thresh.otherwise(F.lit(0)) if thresh is not None else F.lit(0)
    return df.filter(sample_score(key_col) < thresh)


def epoch_shuffle_key(key: Column | str, epoch: int) -> Column:
    """Deterministic per-epoch shuffle position for a row.

    Training runs re-shuffle the corpus every epoch, but the
    permutation must be REPRODUCIBLE (resume mid-epoch, re-run a job,
    audit what the model saw).  Mixing the epoch into the
    multiplicative hash gives each epoch an independent-looking,
    engine-portable permutation from pure integer arithmetic:

        pos(key, epoch) = ((key + epoch·P) · KNUTH) mod SCORE_MOD

    Sorting by (pos, key) is a total order (key breaks score ties).
    At scale the sort is a range-partitioned exchange — the standard
    price of a global permutation; for shard-local shuffling partition
    first and sort within partitions (`sortWithinPartitions`).
    """
    k = F.col(key) if isinstance(key, str) else key
    return F.pmod(
        (k.cast("long") + F.lit(epoch * 1_000_000_007)) * F.lit(KNUTH),
        F.lit(SCORE_MOD),
    )


def repeat_weighted(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Deterministic UPSAMPLING: replicate each row ``w`` times where
    ``w`` may be fractional — weight 2.5 yields 2 copies always plus a
    3rd for a deterministic 50% of keys.  The mixture-rebalancing
    counterpart to ``stratified_sample`` (which can only drop):
    low-resource strata get repeated into the training mix with an
    auditable, engine-portable decision (integer hash, no RNG state).

    Adds ``copy_idx`` (0-based).  Rows in strata missing from
    ``weights`` keep weight 1.  The replication is an ``explode`` over
    a per-row sequence — fan-out is w per row with no shuffle, and the
    copies land next to their original (shuffle only when a downstream
    op asks)."""
    whole = None
    frac_t = None
    for value, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"negative weight for {value!r}: {w}")
        cond = F.col(strata_col) == value
        wi, fr = int(w), int(round((w - int(w)) * SCORE_MOD))
        whole = F.when(cond, wi) if whole is None else whole.when(cond, wi)
        frac_t = F.when(cond, fr) if frac_t is None else frac_t.when(cond, fr)
    whole = (whole.otherwise(1) if whole is not None else F.lit(1)).cast("int")
    frac_t = frac_t.otherwise(0) if frac_t is not None else F.lit(0)
    n_copies = whole + F.when(sample_score(key_col) < frac_t, 1).otherwise(0)
    # 0-based indices directly (a generator cannot be nested inside
    # arithmetic); sequence(0, -1) would descend, hence greatest+slice.
    copies = F.slice(
        F.sequence(F.lit(0), F.greatest(n_copies - 1, F.lit(0))), 1, n_copies
    )
    return df.withColumn("copy_idx", F.explode(copies))


def budget_sample(
    df: DataFrame,
    token_budget: int,
    *,
    group_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """TOKEN-BUDGET selection — the data-mixing primitive a pretraining
    run actually needs ("give me 50 B tokens of web, 5 B of code"):
    keep the maximal PREFIX of a deterministic hash order whose token
    sum stays ≤ ``token_budget`` — per ``group_col`` value when given
    (each source fills its own quota), else globally.  Doc-count
    sampling (``stratified_sample``) cannot hit a token target when
    document lengths differ across sources; this selects by the unit
    the training budget is denominated in.  Prefix semantics: order by
    ``(sample_score(id), id)``, keep each doc iff the running total
    INCLUDING it is ≤ budget, stop at the first overflow (later
    shorter docs are not back-filled — the decision for any doc is
    independent of the corpus ordering AFTER it, so an audit can
    replay it).  Deterministic, engine-portable, RNG-free.

    Output: the kept rows with ``n_tokens`` appended.

    Scale shape — the naive form is a full window cumsum per group
    (one task serializes an entire source: a non-starter at 100 TB).
    This runs the two-phase form instead: bucket the hash order into
    ``n_buckets`` contiguous score ranges, aggregate per-bucket token
    sums (map-side combined; ≤ groups × n_buckets rows to the driver),
    locate each group's CUTOFF bucket driver-side, then keep buckets
    before the cutoff wholesale and run the exact cumsum window ONLY
    inside the one cutoff bucket per group (≈ corpus/n_buckets rows).
    Same result as the naive window, bit for bit — the buckets are
    contiguous in the order key, so prefix-by-bucket + prefix-in-bucket
    IS the global prefix."""
    from fortymhz_spark.operators.partitioning import spread_scan
    from fortymhz_spark.operators.text import token_count

    if token_budget < 0:
        raise ValueError(f"token_budget must be >= 0, got {token_budget}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    # Round-13: both executions (the bucket-sum collect and the keep
    # pass) tokenize every doc on the scan's partitioning — ONE task
    # for a single-file corpus; no-op at scale (partitioning.spread_scan).
    df = spread_scan(df)
    # group key carried as string (the literal cut table's type); NULL
    # groups map to a sentinel so the equi-join cannot drop them.
    # NULL text counts 0 tokens (totality — a NULL doc costs nothing).
    grp = F.col(group_col).cast("string") if group_col else F.lit("")
    grp = F.coalesce(grp, F.lit(NULL_GROUP))
    score = sample_score(id_col)
    bucket = F.floor(score * F.lit(n_buckets) / F.lit(SCORE_MOD)).cast("int")
    base = df.select(
        "*",
        token_count(F.coalesce(F.col(text_col), F.lit(""))).alias(
            "n_tokens"
        ),
        grp.alias("__g__"),
        score.alias("__s__"),
        bucket.alias("__b__"),
    )
    stats = (
        base.groupBy("__g__", "__b__")
        .agg(F.sum("n_tokens").alias("__t__"))
        .collect()
    )
    by_group: dict[object, list[tuple[int, int]]] = {}
    for r in stats:
        by_group.setdefault(r["__g__"], []).append((r["__b__"], int(r["__t__"])))
    # per group: buckets strictly before the cutoff fit entirely;
    # cutoff bucket -1 means "everything fits" (no window needed)
    cut_rows = []
    for g, pairs in by_group.items():
        running = 0
        cutoff, before = -1, 0
        for b, t in sorted(pairs):
            if running + t > token_budget:
                cutoff, before = b, running
                break
            running += t
        cut_rows.append((g, cutoff, before))
    spark = df.sparkSession
    cuts = F.broadcast(
        spark.createDataFrame(
            cut_rows, "__g__ string, __cut__ int, __before__ long"
        )
    )
    joined = base.join(cuts, ["__g__"], "left")
    whole = joined.filter(
        (F.col("__cut__") == -1) | (F.col("__b__") < F.col("__cut__"))
    )
    w = Window.partitionBy("__g__").orderBy(
        F.col("__s__").asc(), F.col(id_col).asc()
    )
    edge = (
        joined.filter(F.col("__b__") == F.col("__cut__"))
        .withColumn("__cum__", F.sum("n_tokens").over(w))
        .filter(F.col("__before__") + F.col("__cum__") <= F.lit(token_budget))
        .drop("__cum__")
    )
    drop = ["__g__", "__s__", "__b__", "__cut__", "__before__"]
    return whole.unionByName(edge).drop(*drop)
