"""Property-based tests (SURVEY.md §5 strategy item 4): JSON round-trip
on the wire format, dedup idempotence, Jaccard symmetry.

Each hypothesis example is a whole dataset (a list of rows) so one
Spark job serves one example; max_examples is kept small because a
local Spark round trip costs ~0.5 s.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fortymhz_spark.operators.dedup import exact_dedup, jaccard_pairs
from fortymhz_spark.schemas import DT_HIT
from fortymhz_spark.streaming.sinks import to_kafka_records
from fortymhz_spark.streaming.sources import decode_json_value

hit_rows = st.lists(
    st.tuples(
        st.integers(0, 3),                 # HEAD
        st.integers(0, 1),                 # FPGA
        st.integers(1, 128),               # TDC_CHANNEL
        st.integers(0, 2**40),             # ORBIT_CNT
        st.integers(0, 3563),              # BX_COUNTER
        st.integers(1, 30),                # TDC_MEAS
    ),
    min_size=1,
    max_size=50,
)

texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("abc d")),  # tiny alphabet → collisions
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=20,
)

_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=hit_rows)
@_SETTINGS
def test_json_roundtrip_identity(spark, rows):
    """to_json → from_json is the identity on the wire schema (the
    serialize/deserialize pair replacing the reference's
    json.dumps/json.loads, SURVEY §2.1 S12)."""
    df = spark.createDataFrame(rows, schema=DT_HIT)
    back = decode_json_value(
        to_kafka_records(df).withColumn("value", F.col("value").cast("binary")),
        DT_HIT,
    )
    assert sorted(map(tuple, back.collect())) == sorted(rows)


@given(txts=texts)
@_SETTINGS
def test_exact_dedup_idempotent(spark, txts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(txts)], "doc_id long, text string"
    )
    once = exact_dedup(df)
    twice = exact_dedup(once)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    # every surviving text is unique
    texts_out = [r["text"] for r in once.collect()]
    assert len(set(texts_out)) == len(texts_out)


@given(txts=texts)
@_SETTINGS
def test_jaccard_pairs_canonical_and_bounded(spark, txts):
    """Pairs are canonical (id_a < id_b, no duplicates) and scores lie
    in (0, 1]; identical docs always score 1."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(txts)], "doc_id long, text string"
    )
    rows = jaccard_pairs(df, threshold=0.0, shingle_n=1).collect()
    seen = set()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert (r["id_a"], r["id_b"]) not in seen
        seen.add((r["id_a"], r["id_b"]))
        assert 0.0 <= r["jaccard"] <= 1.0
    dup_ids = {}
    for i, t in enumerate(txts):
        if t.replace(" ", "") == "":
            continue  # empty word set ⇒ Jaccard undefined (null, dropped)
        dup_ids.setdefault(t, []).append(i)
    for ids in dup_ids.values():
        for a in ids:
            for b in ids:
                if a < b:
                    match = [
                        r for r in rows if r["id_a"] == a and r["id_b"] == b
                    ]
                    assert match and abs(match[0]["jaccard"] - 1.0) < 1e-12


def test_jaccard_max_df_stop_shingle_hardening(spark):
    """Adversarial stop-shingle corpus: every document shares one
    boilerplate line, so the unfiltered inverted index pays ~N² join
    rows for the boilerplate shingles.  Asserts three things:

    1. NEAR-LINEAR: the actual cost driver of the sparse plan —
       Σ_s df_s² over index postings — is quadratic in N unfiltered
       but ≤ max_df · (total postings) after the df-filter, i.e. the
       quadratic term is gone (structural check on the real data, not
       a wall-clock race).
    2. EXACT VALUES: every pair the max_df path emits carries the
       same jaccard as the dense ground truth (the rare-shingle index
       decides WHICH pairs to score, never WHAT the score is).
    3. RECALL: the engineered near-dups (which share rare shingles,
       as real near-dups do) are all found — the result set equals
       the dense ground truth at this threshold.
    """
    from fortymhz_spark.operators.text import shingle_set

    n = 120
    boiler = "the terms of service apply to all documents in this corpus"
    rows = []
    for i in range(n):
        uniq = " ".join(f"w{i}x{j}" for j in range(20))
        rows.append((i, f"{boiler} {uniq}"))
    rows.append((n, rows[0][1]))                 # exact dup of doc 0
    rows.append((n + 1, rows[1][1] + " tail"))   # near dup of doc 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    max_df = 4

    # (1) structural near-linearity of the index join
    postings = df.select(F.explode(shingle_set("text", 3)).alias("sh"))
    dfreq = postings.groupBy("sh").agg(F.count(F.lit(1)).alias("df_"))
    full_cost, capped_cost, total_postings = dfreq.agg(
        F.sum(F.col("df_") * F.col("df_")),
        F.sum(
            F.when(F.col("df_") <= max_df, F.col("df_") * F.col("df_"))
        ),
        F.sum("df_"),
    ).first()
    assert full_cost >= n * n  # the boilerplate really is quadratic
    assert capped_cost <= max_df * total_postings  # filtered: linear

    # (2) + (3) exactness and recall vs the dense ground truth
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, threshold=0.3, shingle_n=3, max_df=max_df
        ).collect()
    }
    dense = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, threshold=0.3, shingle_n=3, method="dense"
        ).collect()
    }
    assert (0, n) in dense and (1, n + 1) in dense  # corpus sanity
    assert got.keys() == dense.keys()
    for pair, j in got.items():
        assert abs(j - dense[pair]) < 1e-12


def test_jaccard_max_df_validation(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_df"):
        jaccard_pairs(df, max_df=0)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    txts=st.lists(
        st.text(alphabet=" abc", max_size=400),
        min_size=1,
        max_size=6,
    )
)
def test_chunk_windows_cover_and_tile(spark, txts):
    """Every chunk is <= window tokens, chunks tile the token stream at
    stride offsets, and concatenating stride-prefixes + the last chunk
    reconstructs the full token sequence."""
    from fortymhz_spark.operators.text import chunk_token_windows

    window, stride = 16, 12
    df = spark.createDataFrame([(i, t) for i, t in enumerate(txts)], "doc_id int, text string")
    out = (
        df.select("doc_id", F.posexplode(chunk_token_windows("text", window=window, stride=stride)))
        .select("doc_id", "pos", "col.chunk_idx", "col.start_tok", "col.chunk_text")
        .collect()
    )
    toks = {i: [w for w in t.split(" ") if w] for i, t in enumerate(txts)}
    by_doc: dict[int, list] = {}
    for r in out:
        assert r.pos == r.chunk_idx
        assert r.start_tok == r.chunk_idx * stride + 1
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, tk in toks.items():
        rows = sorted(by_doc.get(doc_id, []), key=lambda r: r.chunk_idx)
        if not tk:
            assert rows == []
            continue
        rebuilt: list[str] = []
        for r in rows:
            ctoks = [w for w in r.chunk_text.split(" ") if w]
            assert 0 < len(ctoks) <= window
            start = r.chunk_idx * stride
            assert ctoks == tk[start : start + window]
            rebuilt = rebuilt[:start] + ctoks
        assert rebuilt == tk


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    txts=st.lists(
        st.text(alphabet=" ab", max_size=60),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_stats_match_python_reference(spark, txts):
    """The sort+run-length fold must equal a brute-force Counter on any
    input, including empty docs and single tokens."""
    from collections import Counter

    from fortymhz_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(txts)], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", repetition_stats("text").alias("r")
        ).select("doc_id", "r.*").collect()
    }
    for i, t in enumerate(txts):
        toks = [w for w in t.split(" ") if w]
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        c = Counter(bigrams)
        r = out[i]
        assert r["n_tok"] == len(toks)
        assert r["n_distinct_tok"] == len(set(toks))
        assert r["n_bigrams"] == len(bigrams)
        assert r["n_distinct_bigrams"] == len(c)
        assert r["top_bigram_count"] == (max(c.values()) if c else 0)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1"]), st.integers(0, 200)),
        min_size=1,
        max_size=30,
    )
)
def test_pack_sequences_invariants(spark, rows):
    """Pack ids are dense and monotone within a shard; a pack never
    starts past the budget boundary of its cumulative position; doc
    order within a shard is preserved by (pack_id, tokens_before)."""
    from fortymhz_spark.operators.packing import pack_sequences

    budget = 64
    data = [(shard, i, n) for i, (shard, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "shard string, doc_id int, n int")
    out = pack_sequences(
        df, token_col="n", shard_col="shard", order_col="doc_id", budget=budget
    ).collect()
    by_shard: dict[str, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            assert r["pack_id"] == cum // budget
            assert r["tokens_before"] == cum - r["pack_id"] * budget
            cum += r["n_tok"]


def test_misra_gries_containment_guarantee(spark):
    """Every term with true frequency > total_tokens/counters must
    appear in the merged summary, with est_count <= true count."""
    from collections import Counter

    from fortymhz_spark.operators.sketches import frequent_terms

    rows = []
    # skewed corpus: 'alpha' dominates, 'beta' frequent, long tail
    for i in range(60):
        body = ["alpha"] * 5 + ["beta"] * 3 + [f"tail{i}_{j}" for j in range(10)]
        rows.append((i, " ".join(body)))
    df = spark.createDataFrame(rows, "doc_id int, text string").repartition(4)
    counters = 50
    out = {
        r["term"]: r["est_count"]
        for r in frequent_terms(df, text_col="text", k=10, counters=counters).collect()
    }
    true = Counter()
    for _, t in rows:
        true.update(t.split(" "))
    total = sum(true.values())
    for term, cnt in true.items():
        if cnt > total / counters:
            assert term in out, f"heavy hitter {term} missing"
    for term, est in out.items():
        assert est <= true[term]
    assert out["alpha"] > out["beta"]


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-10.0, 10.0, allow_nan=False, width=32),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_int8_quant_error_matches_python_reference(spark, vecs):
    """The JVM fold must reproduce the reference formula bit-for-bit —
    same IEEE ops in the same order — including zero vectors."""
    import math

    from fortymhz_spark.functions.vectors import int8_quant_sq_err_e15

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["e"]
        for r in df.select(
            "vec_id", int8_quant_sq_err_e15("embedding").alias("e")
        ).collect()
    }
    import struct as _struct

    for i, v in enumerate(vecs):
        xs = [_struct.unpack("f", _struct.pack("f", x))[0] for x in v]  # float32 round
        m = 0.0
        for x in xs:
            m = max(m, abs(x))
        if m == 0:
            want = 0
        else:
            want = 0
            for x in xs:
                deq = math.floor(x * 127.0 / m + 0.5) * m / 127.0
                want += math.floor((x - deq) * (x - deq) * 1e15)
        assert got[i] == want, f"vec {i}: {got[i]} != {want}"


def test_python_udtf_chunker_matches_column_expr(spark):
    """Spark-4 Python UDTF surface: a class-based table function
    producing chunk rows must agree with the pure-column
    chunk_token_windows (the production path — the UDTF exists to
    cover the API surface for logic that can't be a column expr)."""
    from pyspark.sql.functions import udtf

    from fortymhz_spark.operators.text import chunk_token_windows

    @udtf(returnType="chunk_idx: long, chunk_text: string")
    class ChunkUDTF:
        def eval(self, text: str):
            toks = [t for t in (text or "").split(" ") if t]
            window, stride = 16, 12
            i, idx = 0, 0
            while i < len(toks):
                yield idx, " ".join(toks[i : i + window])
                if i + window >= len(toks):
                    break
                i, idx = i + stride, idx + 1

    spark.udtf.register("chunk_udtf", ChunkUDTF)
    docs = [(i, " ".join(f"w{j}" for j in range(i * 7 % 50))) for i in range(12)]
    spark.createDataFrame(docs, "doc_id long, text string").createOrReplaceTempView(
        "udtf_docs"
    )
    got = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT doc_id, chunk_idx, chunk_text "
                "FROM udtf_docs, LATERAL chunk_udtf(text)"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.sql("SELECT doc_id, text FROM udtf_docs")
            .select(
                "doc_id",
                F.explode(chunk_token_windows("text", window=16, stride=12)).alias("c"),
            )
            .select("doc_id", "c.chunk_idx", "c.chunk_text")
            .collect(),
        )
    )
    assert got == want


def test_operator_parameter_validation():
    """Degenerate parameters fail fast at plan-build time, not with an
    ANSI division error mid-job on a cluster."""
    import pytest as _pytest

    from fortymhz_spark.operators.packing import pack_sequences
    from fortymhz_spark.operators.sketches import frequent_terms
    from fortymhz_spark.operators.text import chunk_token_windows

    with _pytest.raises(ValueError):
        chunk_token_windows("text", window=0, stride=1)
    with _pytest.raises(ValueError):
        chunk_token_windows("text", window=16, stride=17)
    with _pytest.raises(ValueError):
        chunk_token_windows("text", window=16, stride=0)
    with _pytest.raises(ValueError):
        pack_sequences(None, token_col="n", shard_col="s", order_col="i", budget=0)
    with _pytest.raises(ValueError):
        frequent_terms(None, k=0)


def test_near_dup_components_converges_on_long_chain(spark):
    """Adversarial diameter: a 1 000-link chain (the shape templated
    spam produces — each doc a near-dup of the next).  Plain min-label
    propagation advances one hop per round, so 25 rounds would return
    WRONG (over-split) labels; the pointer-jumping step compresses
    label paths each round, giving O(log diameter) convergence.  All
    nodes must land in component 0 within the default round budget."""
    from fortymhz_spark.operators.dedup import near_dup_components

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels = near_dup_components(pairs).collect()
    assert len(labels) == n
    assert {r["component"] for r in labels} == {0}


def test_near_dup_components_raises_rather_than_partial(spark):
    """Exiting the round budget with labels still changing must raise —
    partial labels silently over-split components downstream."""
    import pytest as _pytest

    from fortymhz_spark.operators.dedup import near_dup_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_components(pairs, max_iter=2)


def test_asof_join_sweep_matches_reference_and_never_joins(spark):
    """The sort-merge sweep form of asof_join: (a) output equals an
    independently computed per-row argmax reference on a randomized
    history (ties, equal timestamps, unmatched lefts, null keys and
    null timestamps all present), with and without tolerance; (b) the
    physical plan contains NO join node at all — the pair-materializing
    shape the old implementation warned about is structurally gone, so
    the unbounded form is scale-safe and warning-free."""
    import warnings as _warnings
    from datetime import datetime, timedelta

    from fortymhz_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    # deterministic pseudo-random history: 40 left rows / 60 right rows
    # over 5 keys, timestamps colliding on purpose (mod 7 buckets)
    lrows = [
        (i, (i * 7919) % 5 if i % 11 else None,
         base + timedelta(days=(i * 13) % 7) if i % 9 else None)
        for i in range(40)
    ]
    rrows = [
        (j, (j * 104729) % 5, base + timedelta(days=(j * 17) % 7), f"v{j}")
        for j in range(60)
    ]
    left = spark.createDataFrame(lrows, "lid long, k long, ts timestamp")
    right = spark.createDataFrame(
        rrows, "rid long, k long, rts timestamp, v string"
    )

    def reference(tolerance_days):
        out = {}
        for lid, k, ts in lrows:
            best = None
            if k is not None and ts is not None:
                for rid, rk, rts, v in rrows:
                    if rk != k or rts > ts:
                        continue
                    if tolerance_days is not None and not (
                        rts > ts - timedelta(days=tolerance_days)
                    ):
                        continue
                    if best is None or (rts, rid) > (best[2], best[0]):
                        best = (rid, rk, rts, v)
            out[lid] = best
        return out

    for tol_days, tol in ((None, None), (3, "3 days")):
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            got_rows = asof_join(
                left,
                right,
                left_on="k",
                right_on="k",
                left_ts="ts",
                right_ts="rts",
                tie_breakers=["rid"],
                tolerance=tol,
            ).collect()
        assert not any("tolerance" in str(w.message) for w in caught)
        ref = reference(tol_days)
        assert len(got_rows) == len(lrows)  # how='left' keeps all
        for r in got_rows:
            want = ref[r["lid"]]
            got = (
                None
                if r["rid"] is None
                else (r["rid"], None, None, r["v"])
            )
            if want is None:
                assert got is None, (r["lid"], r)
            else:
                assert got is not None and got[0] == want[0], (r["lid"], r, want)

    plan = asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts", right_ts="rts"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_portable_simhash_matches_python_reference(spark):
    """The md5-based portable fingerprint (the q_docs_simhash_near_dups
    oracle basis) re-implemented independently in pure Python: bit b of
    a token's hash is bit b of the first 8 hex digits of md5(token);
    fingerprint bit b is set iff a strict majority of the doc's
    DISTINCT lowercase tokens set it.  Any drift in the Spark pipeline
    (tokenization, vote fold, lane packing, bit order) breaks equality
    here without needing DuckDB."""
    import hashlib

    from fortymhz_spark.operators.dedup import simhash_fingerprints_portable

    docs = [
        (0, "alpha beta gamma alpha"),
        (1, "alpha beta gamma delta"),
        (2, "one two three four five six"),
        (3, "  spaced   out   tokens  "),
        (4, "MiXeD Case TOKENS mixed case"),
        (5, "solo"),
    ]

    def ref_sim32(text: str) -> int:
        toks = sorted({t for t in text.lower().split(" ") if t})
        votes = [0] * 32
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            for b in range(32):
                votes[b] += (h >> b) & 1
        n = len(toks)
        return sum(1 << b for b in range(32) if 2 * votes[b] > n)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["id"]: r["sim"]
        for r in simhash_fingerprints_portable(df).collect()
    }
    want = {i: ref_sim32(t) for i, t in docs if {w for w in t.lower().split() if w}}
    assert got == want


def test_near_dup_components_star_graph_regression(spark):
    """Regression for the convergence-check bug: on a star [(0,2),(1,2)]
    the first round's PROPAGATION moves the center (2 → 0) but no
    pointer-jump shortcut exists yet; a check that compares against the
    post-propagation intermediate counts zero changes and exits with
    leaf 1 stranded in its own component.  Convergence must be measured
    against the ROUND-START labels."""
    from fortymhz_spark.operators.dedup import near_dup_components

    pairs = spark.createDataFrame([(0, 2), (1, 2)], "id_a long, id_b long")
    labels = {r["id"]: r["component"] for r in near_dup_components(pairs).collect()}
    assert labels == {0: 0, 1: 0, 2: 0}

    # a two-star chain (two hubs bridged) — propagation + jump interplay
    pairs2 = spark.createDataFrame(
        [(0, 4), (1, 4), (4, 5), (2, 5), (3, 5)], "id_a long, id_b long"
    )
    labels2 = {
        r["id"]: r["component"] for r in near_dup_components(pairs2).collect()
    }
    assert labels2 == {i: 0 for i in (0, 1, 2, 3, 4, 5)}


def test_near_dup_components_missing_self_loop_raises(spark):
    """The round-start label is read off each node's self-loop row.  A
    node fed without one would get a NULL old label, drop out of the
    changed count and let the loop exit with over-split components, so
    the propagate step must raise instead."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    from fortymhz_spark.operators.dedup import _propagate

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1)], "src long, dst long"
    )
    labels = spark.createDataFrame([(0, 0), (1, 0), (2, 1)], "id long, component long")
    all_loops = labels.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    got = {r["id"]: r["old_component"] for r in _propagate(edges, all_loops, labels).collect()}
    assert got == {0: 0, 1: 0, 2: 1}

    without_2 = all_loops.filter(F.col("src") != 2)
    with pytest.raises((PySparkException, Py4JJavaError), match="no self-loop row for node 2"):
        _propagate(edges, without_2, labels).collect()


def test_near_dup_components_random_graphs_vs_union_find(spark):
    """Randomized differential: min-label components on random graphs
    must equal a driver-side union-find.  Catches convergence-check
    and jump-interplay bugs that hand-picked shapes miss (the star
    regression above was found exactly this way)."""
    import random

    from fortymhz_spark.operators.dedup import near_dup_components

    rng = random.Random(42)
    for trial in range(5):
        n = rng.randint(5, 60)
        m = rng.randint(1, 90)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue

        parent = list(range(n))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {v: find(v) for v in sorted(touched)}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["id"]: r["component"]
            for r in near_dup_components(pairs).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_ngram_list_keeps_order_and_duplicates(spark):
    """ngram_list is the NON-distinct, ordered counterpart of
    shingle_set: duplicates stay (an LM scores occurrences), short
    docs yield an empty array (no whole-doc fallback), and text is
    lowercased before splitting."""
    from fortymhz_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "A b a B"),
            (2, "one"),
            (3, ""),
            (4, "x  y"),  # double space: empty tokens dropped
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r["bgs"]
        for r in df.select(
            "id", tx.ngram_list(F.col("text"), 2).alias("bgs")
        ).collect()
    }
    assert out[1] == ["a b", "b a", "a b"]
    assert out[2] == []
    assert out[3] == []
    assert out[4] == ["x y"]


def test_minhash_signature_estimate_bounds(spark):
    """Lane-agreement Jaccard estimation sanity: identical docs agree
    on every lane (estimate 1.0), token-disjoint docs agree on ~none,
    and signatures are deterministic across runs."""
    from fortymhz_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely different words with zero overlap here today"),
        ],
        "doc_id long, text string",
    )
    sigs = {r["id"]: r["sig"] for r in minhash_signatures(df, num_hashes=64).collect()}
    assert len(sigs[1]) == 64
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    agree_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree_13 <= 4  # disjoint shingles -> near-zero agreement
    sigs2 = {r["id"]: r["sig"] for r in minhash_signatures(df, num_hashes=64).collect()}
    assert sigs == sigs2  # deterministic


@given(txts=texts)
@_SETTINGS
def test_ngram_list_matches_python_reference(spark, txts):
    """ngram_list agrees with a 5-line pure-Python reference on random
    tiny-alphabet strings (collision-heavy: repeated tokens, empty
    tokens from doubled spaces, docs below the n threshold)."""
    from fortymhz_spark.operators import text as tx

    def ref(t: str, n: int = 2) -> list[str]:
        toks = [w for w in t.lower().split(" ") if w != ""]
        if len(toks) < n:
            return []
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(txts)], "id long, text string"
    )
    got = {
        r["id"]: r["bgs"]
        for r in df.select(
            "id", tx.ngram_list(F.col("text"), 2).alias("bgs")
        ).collect()
    }
    for i, t in enumerate(txts):
        assert got[i] == ref(t), (i, t)


def test_profile_table_single_scan_stats(spark):
    """profile_table: exact stats per column from one aggregate —
    null counting, NDV excluding nulls, stringified min/max — plus
    input validation."""
    from fortymhz_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "b"), (2, None), (2, "a"), (None, "a")],
        "k long, s string",
    )
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert set(out) == {"k", "s"}
    assert out["k"]["n_rows"] == 4 and out["s"]["n_rows"] == 4
    assert out["k"]["n_nulls"] == 1 and out["s"]["n_nulls"] == 1
    assert out["k"]["n_distinct"] == 2 and out["s"]["n_distinct"] == 2
    assert (out["k"]["min_value"], out["k"]["max_value"]) == ("1", "2")
    assert (out["s"]["min_value"], out["s"]["max_value"]) == ("a", "b")

    with pytest.raises(ValueError, match="unknown columns"):
        profile_table(df, ["nope"])
    with pytest.raises(ValueError, match="at least one"):
        profile_table(df, [])
    # the whole profile is ONE scan
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1


def test_profile_table_approx_expand_free(spark):
    """profile_table(approx=True): the HLL++ NDV swap must remove the
    RewriteDistinctAggregates Expand (the (columns+1)x row replication
    the exact form pays), keep everything else identical, and land
    within the sketch's error band on a known-cardinality column."""
    from fortymhz_spark.operators.profile import profile_table

    df = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("s"),
    )
    exact_plan = (
        profile_table(df)._jdf.queryExecution().executedPlan().toString()
    )
    approx_plan = (
        profile_table(df, approx=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" in exact_plan  # the documented exact-NDV cost
    assert "Expand" not in approx_plan
    out = {r["column"]: r for r in profile_table(df, approx=True).collect()}
    # non-NDV stats stay exact under approx=True
    assert out["k"]["n_rows"] == 5000 and out["k"]["n_nulls"] == 0
    assert (out["s"]["min_value"], out["s"]["max_value"]) == ("0", "6")
    # rsd=0.05 default: 3-sigma band on NDV 5000; tiny NDVs sit in the
    # sketch's near-exact sparse regime
    assert abs(out["k"]["n_distinct"] - 5000) <= 0.15 * 5000
    assert abs(out["s"]["n_distinct"] - 7) <= 2
    # determinism on a different partitioning (hash + merge are fixed)
    rep = {
        r["column"]: r["n_distinct"]
        for r in profile_table(df.repartition(13), approx=True).collect()
    }
    assert rep == {c: out[c]["n_distinct"] for c in out}


def test_keep_list_all_singletons_when_no_pairs(spark):
    """The semantic keep-list's singleton handling must hold in the
    degenerate no-pairs case: components over an empty pair set is
    empty, and the left-join + coalesce makes every vector its own
    representative."""
    from fortymhz_spark.operators.dedup import near_dup_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    comp = near_dup_components(empty)
    assert comp.count() == 0
    emb = spark.createDataFrame([(1,), (2,), (3,)], "vec_id long")
    kl = (
        emb.join(
            comp.select(F.col("id").alias("vec_id"), "component"),
            ["vec_id"],
            "left",
        ).select(
            F.coalesce("component", "vec_id").alias("component"),
            "vec_id",
            (F.coalesce("component", "vec_id") == F.col("vec_id")).alias(
                "is_rep"
            ),
        )
    )
    assert sorted(map(tuple, kl.collect())) == [
        (1, 1, True),
        (2, 2, True),
        (3, 3, True),
    ]


def test_columnar_and_text_format_round_trips(spark, tmp_path):
    """Format surface beyond parquet: ORC (the other columnar
    built-in), CSV, and JSON lines all round-trip the TPC-H-ish row
    shape with declared schemas (CSV/JSON read back with the writer's
    schema — streaming-safe, no inference)."""
    df = spark.createDataFrame(
        [(1, "a b", 1.5, True), (2, None, -0.25, False)],
        "k long, s string, x double, f boolean",
    )
    want = sorted(map(tuple, df.collect()))
    orc_p, csv_p, json_p = (str(tmp_path / n) for n in ("o", "c", "j"))
    df.write.orc(orc_p)
    df.write.option("header", True).csv(csv_p)
    df.write.json(json_p)
    assert sorted(map(tuple, spark.read.orc(orc_p).collect())) == want
    assert (
        sorted(
            map(
                tuple,
                spark.read.schema(df.schema)
                .option("header", True)
                .csv(csv_p)
                .collect(),
            )
        )
        == want
    )
    assert (
        sorted(map(tuple, spark.read.schema(df.schema).json(json_p).collect()))
        == want
    )


def test_bloom_decontaminate_superset_and_maponly_plan(spark):
    """Bloom candidates must be a SUPERSET of the exact semi-join
    overlaps (bloom filters have no false negatives — a miss here is a
    broken bit layout, not bad luck), and the train-side plan must be
    join-free with no KEYED exchange up to the operator's output (the
    whole point of the bloom twin: decontamination as a map-only
    scan).  Round-13: the scan-spread round-robin repartition
    (operators/partitioning.py::spread_scan — a no-op at scale, fires
    only on an under-split local scan) is the one exchange allowed;
    a hash-partitioned exchange would mean a join/aggregate snuck in."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators import dedup as dd
    from fortymhz_spark.sources.batch import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    exact = {
        r["id"]
        for r in dd.contaminated_ids(train, eval_df, shingle_n=4).collect()
    }
    bloom_df = dd.bloom_decontaminate(train, eval_df, shingle_n=4)
    bloom = {r["id"] for r in bloom_df.collect()}
    assert exact, "fixture regression: exact decontamination found nothing"
    assert exact <= bloom, f"false negatives: {sorted(exact - bloom)[:5]}"
    plan = bloom_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    # An executed AdaptiveSparkPlan prints BOTH the final and the
    # initial plan, so the one allowed exchange renders twice; count
    # within the final-plan section only.
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("Exchange") <= 1, plan  # spread_scan round-robin only


def test_bloom_decontaminate_validates_parameters():
    import pytest as _pytest

    from fortymhz_spark.operators import dedup as dd

    with _pytest.raises(ValueError, match="m_bits"):
        dd.bloom_decontaminate(None, None, m_bits=100)
    with _pytest.raises(ValueError, match="k_hashes"):
        dd.bloom_decontaminate(None, None, k_hashes=0)


def test_hashed_linear_score_matches_python_reference(spark):
    """Pin the hashed-feature classifier logit against a pure-Python
    md5 reference (the portable-simhash pinning pattern), including
    the empty-text → 0 edge."""
    import hashlib

    from pyspark.sql import functions as F

    from fortymhz_spark.operators.text import hashed_linear_score

    texts = [
        "The quick brown Fox jumps",
        "  padded   tokens   here ",
        "",
        "one",
        "repeat repeat repeat",
    ]

    def ref_logit(text: str, scale: int = 1000) -> int:
        toks = [t for t in text.lower().split(" ") if t != ""]
        out = 0
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            out += h % (2 * scale + 1) - scale
        return out

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {
        r["text"]: r["logit"]
        for r in df.select(
            "text", hashed_linear_score("text").alias("logit")
        ).collect()
    }
    for t in texts:
        assert got[t] == ref_logit(t), t


def test_pq_knn_exact_when_rerank_covers_corpus(spark):
    """With a shortlist as wide as the corpus, PQ's ADC ordering cannot
    drop a true neighbor — the exact-cosine re-rank must reproduce
    brute-force top-k exactly (ids AND tie-order).  Also pins run
    determinism of the trained-codebook path."""
    import math
    import random

    from pyspark.sql import functions as F

    from fortymhz_spark.operators import similarity as sim

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(48)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    queries = df.filter(F.col("vec_id") < 3)
    exact = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_knn(df, queries, k=5).collect()
    )
    got1 = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_knn(
            df, queries, k=5, n_sub=4, n_cells=8, rerank=10, train_sample=48
        ).collect()
    )
    got2 = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_knn(
            df, queries, k=5, n_sub=4, n_cells=8, rerank=10, train_sample=48
        ).collect()
    )
    assert got1 == exact
    assert got2 == got1


def test_pq_knn_validates_dimension():
    import pytest as _pytest

    from fortymhz_spark.operators import similarity as sim

    with _pytest.raises(ValueError, match="divisible"):
        sim.pq_knn(None, None, n_sub=5, dim=64)


def test_ivfpq_knn_exact_when_probes_and_rerank_cover_corpus(spark):
    """With every coarse cell probed and a shortlist as wide as the
    corpus, IVFPQ loses nothing to either approximation — the exact
    re-rank must reproduce brute-force top-k exactly, and two runs
    must agree (trained-codebook + coarse-cell determinism)."""
    import random

    from pyspark.sql import functions as F

    from fortymhz_spark.operators import similarity as sim

    rnd = random.Random(11)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(48)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    queries = df.filter(F.col("vec_id") < 3)
    exact = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_knn(df, queries, k=5).collect()
    )
    kwargs = dict(
        k=5, n_coarse=4, nprobe=4, n_sub=4, n_cells=8, rerank=10,
        train_sample=48,
    )
    got1 = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivfpq_knn(df, queries, **kwargs).collect()
    )
    got2 = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivfpq_knn(df, queries, **kwargs).collect()
    )
    assert got1 == exact
    assert got2 == got1


def test_ivfpq_candidates_are_cell_bounded(spark):
    """The IVFPQ candidate join must key on the coarse cell — no
    CartesianProduct and no full corpus x queries broadcast join ahead
    of the shortlist (the plan property that separates IVFPQ's
    candidate generation from pq_knn's full ADC scan)."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators import similarity as sim
    from fortymhz_spark.sources.batch import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = sim.ivfpq_knn(emb, queries, k=5, n_coarse=8, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "cell" in plan  # the candidate join's key survives to the plan


@given(txts=texts)
@_SETTINGS
def test_bloom_never_false_negative_on_random_corpora(spark, txts):
    """No-false-negative is a MATHEMATICAL property of the bloom
    construction (every inserted shingle's bits are set), so it must
    hold for arbitrary corpora and any train/eval split — not just the
    fixture.  Exact overlaps ⊆ bloom candidates, always."""
    from fortymhz_spark.operators.dedup import bloom_decontaminate, contaminated_ids

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(txts)], "doc_id long, text string"
    )
    eval_df = df.filter(F.col("doc_id") % 3 == 0)
    train = df.filter(F.col("doc_id") % 3 != 0)
    exact = {
        r["id"] for r in contaminated_ids(train, eval_df, shingle_n=2).collect()
    }
    bloom = {
        r["id"]
        for r in bloom_decontaminate(
            train, eval_df, shingle_n=2, m_bits=1 << 10
        ).collect()
    }
    assert exact <= bloom, sorted(exact - bloom)


@given(txts=texts)
@_SETTINGS
def test_hashed_linear_score_reference_on_random_texts(spark, txts):
    """The classifier logit equals the pure-Python md5 fold for
    arbitrary texts (not just the fixed pinning examples) — token
    splitting edge cases (leading/trailing/repeated spaces, empty
    strings) included."""
    import hashlib

    from fortymhz_spark.operators.text import hashed_linear_score

    def ref(text: str) -> int:
        return sum(
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 2001 - 1000
            for t in text.lower().split(" ")
            if t != ""
        )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(txts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["logit"]
        for r in df.select(
            "doc_id", hashed_linear_score("text").alias("logit")
        ).collect()
    }
    for i, t in enumerate(txts):
        assert got[i] == ref(t), (i, t)


def test_null_and_empty_text_conventions(spark):
    """Real lakes contain null and empty payloads; pin each operator's
    convention so a refactor can't silently change it: exact_dedup
    keeps null and empty as DISTINCT contents; the classifier scores
    both 0 (total filter decision — matches its oracle's COALESCE);
    quality_score degrades to 0.0 on null; shingle_set gives the
    empty-string whole-doc shingle for both."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.dedup import exact_dedup
    from fortymhz_spark.operators.text import (
        hashed_linear_score,
        quality_score,
        shingle_set,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")], "doc_id long, text string"
    )
    assert sorted(r["doc_id"] for r in exact_dedup(df).collect()) == [1, 2, 3]
    logits = {
        r["doc_id"]: r["l"]
        for r in df.select(
            "doc_id", hashed_linear_score("text").alias("l")
        ).collect()
    }
    assert logits[2] == 0 and logits[3] == 0 and logits[1] is not None
    quals = {
        r["doc_id"]: r["q"]
        for r in df.select("doc_id", quality_score("text").alias("q")).collect()
    }
    assert quals[2] == 0.0
    sh = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", shingle_set("text", 2).alias("s")).collect()
    }
    assert sh[2] == [""] and sh[3] == [""]


def test_bpe_merges_match_python_reference(spark):
    """Full differential of the distributed BPE learner against a
    pure-Python Sennrich-style reference (get_stats + merge_vocab with
    the same (count DESC, left, right) tie order) — merge pairs AND
    counts, in order, on a corpus exercising overlapping repeats
    ('aaaa'), cross-word frequency ties, and the end-of-word marker."""
    import collections

    from fortymhz_spark.operators.bpe import learn_bpe_merges

    text = (
        "low low low low low lower lower newest newest newest newest "
        "newest newest widest widest widest aaaa aaaa aa"
    )

    def ref_bpe(word_cnt, n_merges, min_count):
        vocab = {tuple(list(w) + ["</w>"]): n for w, n in word_cnt.items()}
        out = []
        for _ in range(n_merges):
            stats = collections.Counter()
            for syms, n in vocab.items():
                for i in range(len(syms) - 1):
                    stats[(syms[i], syms[i + 1])] += n
            if not stats:
                break
            (left, right), c = min(
                stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if c < min_count:
                break
            out.append((left, right, c))
            new = {}
            for syms, n in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        res.append(left + right)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                new[tuple(res)] = new.get(tuple(res), 0) + n
            vocab = new
        return out

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = learn_bpe_merges(df, n_merges=12, min_count=2)
    want = ref_bpe(collections.Counter(text.split()), 12, 2)
    assert got == want


def test_bpe_learner_validates_parameters():
    import pytest as _pytest

    from fortymhz_spark.operators.bpe import learn_bpe_merges

    with _pytest.raises(ValueError, match="n_merges"):
        learn_bpe_merges(None, n_merges=0)
    with _pytest.raises(ValueError, match="min_count"):
        learn_bpe_merges(None, min_count=0)


def test_bpe_encode_matches_python_and_reconstructs(spark):
    """The encode side: applying the learned merge table must produce
    the same symbol sequences as the Python reference encoder, and
    concatenating any word's symbols must reconstruct word + '</w>'
    (merges only ever join adjacent symbols — a lossless regrouping)."""
    from fortymhz_spark.operators.bpe import (
        END_OF_WORD,
        encode_words,
        learn_bpe_merges,
    )

    text = (
        "low low low low low lower lower newest newest newest newest "
        "newest newest widest widest widest"
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = learn_bpe_merges(docs, n_merges=6, min_count=2)

    words = sorted(set(text.split()))
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: list(r["symbols"])
        for r in encode_words(wdf, merges=merges).collect()
    }

    def ref_encode(word):
        syms = list(word) + [END_OF_WORD]
        for left, right, _ in merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return syms

    for w in words:
        assert got[w] == ref_encode(w), w
        assert "".join(got[w]) == w + END_OF_WORD, w


def test_review_fix_conventions(spark):
    """Pins for the round-4 review fixes: char_ngrams' short-text
    fallback, lsh_knn's dim inference (a wrong dim must not silently
    single-bucket the corpus), and the banding divisibility
    validations."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.dedup import minhash_near_dups
    from fortymhz_spark.operators.similarity import lsh_knn
    from fortymhz_spark.operators.text import char_ngrams

    df = spark.createDataFrame(
        [("ab",), ("",), ("abcd",)], "text string"
    )
    got = {r["text"]: r["g"] for r in df.select(
        "text", char_ngrams("text", 3).alias("g")).collect()}
    assert got["ab"] == ["ab"]      # whole-text fallback, documented
    assert got[""] == [""]
    assert got["abcd"] == ["abc", "bcd"]

    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    # 2-dim corpus with the old hard-coded dim=64 would have NULLed
    # every hyperplane dot; inference must produce buckets that do not
    # collapse into a single candidate set per band
    out = lsh_knn(emb, emb.filter(F.col("vec_id") < 2), k=2)
    assert out.count() > 0

    with pytest.raises(ValueError, match="bands"):
        minhash_near_dups(df, num_hashes=32, bands=6)
    with pytest.raises(ValueError, match="bands"):
        lsh_knn(emb, emb, n_planes=16, bands=3)


def test_variant_json_path_matches_string_path(spark):
    """Spark 4's VARIANT type (parse_json once → typed variant_get
    extractions) must agree row-for-row with the get_json_object
    string path the graded q_events_json_props rides — the modern
    semi-structured route a production build would migrate to (parse
    once, extract many, no per-extraction re-parse)."""
    from pyspark.sql import functions as F

    from fortymhz_spark.sources.batch import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    both = ev.select(
        F.get_json_object("props", "$.k").cast("long").alias("k_str"),
        F.try_variant_get(
            F.parse_json(F.col("props")), "$.k", "long"
        ).alias("k_var"),
    )
    n = both.count()
    assert n > 0
    agree = both.filter(
        (F.col("k_str") == F.col("k_var"))
        | (F.col("k_str").isNull() & F.col("k_var").isNull())
    ).count()
    assert agree == n


def test_mergeable_sketches_union_and_estimates(spark):
    """The production sketch pipeline Spark 4 ships (Apache
    DataSketches): per-partition HLL sketches SERIALIZE, persist, and
    MERGE to the same estimate as sketching the union directly — the
    property that lets a 100 TB pipeline store tiny daily sketches
    and answer cross-day cardinality at query time (which
    approx_count_distinct alone cannot: its sketch never leaves the
    aggregation).  Theta sketches additionally support set algebra on
    the sketches themselves (union/intersection estimates).  Exact on
    these small domains; approx_top_k must agree with the exact
    top-k."""
    from pyspark.sql import functions as F

    a = spark.range(0, 800).select((F.col("id") % 500).cast("string").alias("k"))
    b = spark.range(0, 800).select(
        ((F.col("id") % 500) + 300).cast("string").alias("k")
    )
    # daily sketches -> stored binary -> merged estimate == direct
    sk_a = a.agg(F.hll_sketch_agg("k").alias("sk"))
    sk_b = b.agg(F.hll_sketch_agg("k").alias("sk"))
    merged = (
        sk_a.unionAll(sk_b)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
        .first()["n"]
    )
    direct = (
        a.unionAll(b)
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("k")).alias("n"))
        .first()["n"]
    )
    exact = a.unionAll(b).select("k").distinct().count()  # 800
    # union-of-sketches and direct sketching take different estimator
    # paths (806 vs 804 here) — the merge contract is estimate
    # closeness, not register equality
    assert abs(merged - direct) / exact < 0.01
    assert abs(merged - exact) / exact < 0.05

    # theta sketches: set algebra on sketches (intersection estimate)
    inter = (
        spark.sql("select 1")
        .crossJoin(a.agg(F.expr("theta_sketch_agg(k)").alias("ta")))
        .crossJoin(b.agg(F.expr("theta_sketch_agg(k)").alias("tb")))
        .select(
            F.expr(
                "theta_sketch_estimate(theta_intersection(ta, tb))"
            ).alias("n")
        )
        .first()["n"]
    )
    exact_inter = a.join(b, ["k"], "left_semi").distinct().count()  # 200
    assert abs(inter - exact_inter) / exact_inter < 0.1

    # approx_top_k agrees with exact top-k on a skewed domain
    skewed = spark.range(0, 1000).select(
        F.when(F.col("id") < 700, "hot")
        .otherwise((F.col("id") % 13).cast("string"))
        .alias("k")
    )
    top = skewed.agg(F.expr("approx_top_k(k, 3)").alias("t")).first()["t"]
    assert top[0]["item"] == "hot" and top[0]["count"] == 700


def test_bpe_local_learner_matches_distributed_and_python(spark):
    """The production-shape learner (one corpus pass + driver-local
    Sennrich loop, operators/bpe.py::learn_bpe_merges_local) must
    produce the IDENTICAL merge table to both the distributed
    per-round learner and the pure-Python reference — pairs, counts,
    and order — on the overlapping-repeat/tie fixture."""
    import collections

    from fortymhz_spark.operators.bpe import (
        learn_bpe_merges,
        learn_bpe_merges_local,
    )

    text = (
        "low low low low low lower lower newest newest newest newest "
        "newest newest widest widest widest aaaa aaaa aa"
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    dist = learn_bpe_merges(df, n_merges=12, min_count=2)
    local = learn_bpe_merges_local(df, n_merges=12, min_count=2, top_v=None)
    assert local == dist

    # and at a REALISTIC merge count on the real documents fixture,
    # against the pure-Python loop over the exact word counts
    from fortymhz_spark.operators.bpe import _local_merge_loop
    from fortymhz_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = learn_bpe_merges_local(docs, n_merges=64, min_count=2, top_v=None)
    cnt = collections.Counter(
        w
        for r in docs.select("text").collect()
        for w in (r["text"] or "").lower().split()
        if w
    )
    vocab = [(tuple(w) + ("</w>",), n) for w, n in cnt.items()]
    assert got == _local_merge_loop(vocab, 64, 2)
    assert len(got) == 64
    counts = [c for _, _, c in got]
    assert counts == sorted(counts, reverse=True) or all(
        counts[i] >= counts[i + 1] for i in range(len(counts) - 1)
    )


def test_bpe_local_top_v_truncates_vocabulary(spark):
    """top_v bounds the driver collect: merges must equal the Python
    loop over only the top_v most frequent words (ties by word), and
    the parameter is validated."""
    import pytest as _pytest

    from fortymhz_spark.operators.bpe import (
        _local_merge_loop,
        learn_bpe_merges_local,
    )

    text = "aa aa aa aa bb bb bb cc cc dd"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = learn_bpe_merges_local(df, n_merges=4, min_count=2, top_v=2)
    # top-2 words by (n desc, w asc): aa(4), bb(3)
    vocab = [(("a", "a", "</w>"), 4), (("b", "b", "</w>"), 3)]
    assert got == _local_merge_loop(vocab, 4, 2)

    with _pytest.raises(ValueError, match="top_v"):
        learn_bpe_merges_local(df, top_v=0)


def test_bpe_encode_arrow_matches_expression_and_reconstructs(spark):
    """The Arrow encode kernel (rank-priority, one closure-captured
    merge table) must agree with the expression-fold encoder on a
    small merge table, and with the sequential rank-order Python
    reference on a REALISTIC 64-merge table — plus the lossless
    regrouping property (concat(symbols) == word + '</w>')."""
    from fortymhz_spark.operators.bpe import (
        END_OF_WORD,
        encode_words,
        encode_words_arrow,
        learn_bpe_merges_local,
    )
    from fortymhz_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = learn_bpe_merges_local(docs, n_merges=64, min_count=2, top_v=None)
    assert len(merges) == 64

    words = sorted(
        {
            w
            for r in docs.select("text").limit(50).collect()
            for w in (r["text"] or "").lower().split()
            if w
        }
    )
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    arrow = {
        r["w"]: list(r["symbols"])
        for r in encode_words_arrow(wdf, merges=merges).collect()
    }

    def ref_encode(word):  # sequential rank-order application
        syms = list(word) + [END_OF_WORD]
        for left, right, _ in merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    res.append(left + right)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return syms

    for w in words:
        assert arrow[w] == ref_encode(w), w
        assert "".join(arrow[w]) == w + END_OF_WORD, w

    # expression-fold agreement at a plan-friendly table size
    small = merges[:8]
    expr = {
        r["w"]: list(r["symbols"])
        for r in encode_words(wdf, merges=small).collect()
    }
    arrow_small = {
        r["w"]: list(r["symbols"])
        for r in encode_words_arrow(wdf, merges=small).collect()
    }
    assert arrow_small == expr


def test_hashed_linear_score_trained_weight_array(spark):
    """The trained-model slot: an explicit bucketed weight array must
    score exactly like the pure-Python feature-hashing fold
    (w[md5prefix % n_buckets], every occurrence counted), stay
    map-only (no BatchEvalPython), and validate emptiness."""
    import hashlib

    import pytest as _pytest

    from fortymhz_spark.operators.text import hashed_linear_score

    weights = [((7 * i + 3) % 41) - 20 for i in range(64)]  # fake trained head
    rows = [
        (1, "the quick brown fox the fox"),
        (2, ""),
        (3, None),
        (4, "singleton"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id", hashed_linear_score("text", weights=weights).alias("logit")
    )
    assert "BatchEvalPython" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r["doc_id"]: r["logit"] for r in out.collect()}

    def ref(text):
        s = 0
        for tok in (text or "").lower().split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            s += weights[h % len(weights)]
        return s

    for i, text in rows:
        assert got[i] == ref(text), (i, text)

    with _pytest.raises(ValueError, match="non-empty"):
        hashed_linear_score("text", weights=[])


def test_vocab_linear_score_matches_python_fold(spark):
    """The vocabulary-keyed scorer: broadcast-joined (token, weight)
    table, term frequency counted, OOV = 0, NULL/empty text = 0 — all
    matching a pure-Python fold over the same weights fixture; the
    plan must broadcast the weight table and contain no Python."""
    from fortymhz_spark.operators.text import vocab_linear_score

    wfix = {"the": -5, "fox": 12, "quick": 7, "lazy": -9}
    weights = spark.createDataFrame(
        list(wfix.items()), "token string, weight long"
    )
    rows = [
        (1, "the quick brown fox the fox"),
        (2, "unseen words only"),
        (3, ""),
        (4, None),
        (5, "lazy lazy LAZY"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = vocab_linear_score(docs, weights)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    got = {r["doc_id"]: r["logit"] for r in out.collect()}

    def ref(text):
        return sum(wfix.get(t, 0) for t in (text or "").lower().split())

    for i, text in rows:
        assert got[i] == ref(text), (i, text)
    # schema: original columns + logit
    assert set(out.columns) == {"doc_id", "text", "logit"}


def test_media_decode_kernel_vectorized_matches_per_byte_reference():
    """The vectorized lane-sum kernel (np.frombuffer + strided-reshape
    column sums) must produce identical integers to the original
    per-byte Python fold on every size class — including the pad
    boundary cases and empty/None payloads — and be measurably faster
    at 10x payload size (the sanity bar for 'the codec slot is no
    longer the bottleneck's bottleneck')."""
    import os
    import time

    from fortymhz_spark.operators.multimodal import FEATURE_DIM, _decode_one

    def ref(payload):
        if payload is None:
            return [0.0] * FEATURE_DIM, [0] * FEATURE_DIM
        acc = [0] * FEATURE_DIM
        for i, byte in enumerate(payload):
            acc[i % FEATURE_DIM] += byte
        total = max(len(payload), 1)
        return [a / total for a in acc], acc

    payloads = [
        None,
        b"",
        b"x",
        bytes(range(FEATURE_DIM)),
        bytes(range(FEATURE_DIM + 3)),
        os.urandom(1023),
        os.urandom(4096),
    ]
    for p in payloads:
        got_f, got_l = _decode_one(p, "image", fake=True)
        want_f, want_l = ref(p)
        assert got_l == want_l, (p if p is None else len(p))
        assert got_f == want_f, (p if p is None else len(p))

    big = os.urandom(1 << 20)  # 1 MiB ~ 10x a realistic thumbnail
    vec = min(
        _timed(lambda: _decode_one(big, "image", fake=True))
        for _ in range(5)
    )
    loop = _timed(lambda: ref(big))
    # BEST-of-5 vectorized pass vs ONE python-loop pass with only a 2x
    # bar: the uncontended gap is ~60x, but this asserts under a fully
    # loaded test host where a co-tenant stall can inflate any single
    # sample (it did — a 3-pass sum form flaked at 4.4x once)
    assert vec * 2 < loop, (vec, loop)


def _timed(fn):
    import time

    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def test_bpe_vocab_and_token_ids_round_trip(spark):
    """The tokenizer artifact chain: vocab_from_merges assigns
    deterministic prefix-stable ids (specials, sorted base chars +
    '</w>', merges in rank order); encode_token_ids produces ids whose
    inverse-vocab decode reconstructs the lowercased text exactly; a
    truncated vocab maps the missing symbols to <unk>; and the id
    count column is what pack_sequences budgets on."""
    from fortymhz_spark.operators.bpe import (
        encode_token_ids,
        learn_bpe_merges_local,
        vocab_from_merges,
    )
    from fortymhz_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = learn_bpe_merges_local(docs, n_merges=64, min_count=2, top_v=None)
    vocab = vocab_from_merges(merges)

    # prefix-extension property holds for a FIXED base alphabet —
    # here the corpus's character set, so every word is decodable
    corpus_chars = sorted(
        {
            ch
            for r in docs.select("text").collect()
            for ch in (r["text"] or "").lower()
            if ch != " "
        }
    )
    vocab = vocab_from_merges(merges, base_chars=corpus_chars)
    v32 = vocab_from_merges(merges[:32], base_chars=corpus_chars)
    for sym, i in v32.items():
        assert vocab[sym] == i, sym
    assert vocab["<unk>"] == 0 and vocab["<pad>"] == 1

    sample = docs.select("doc_id", "text").limit(20)
    enc = encode_token_ids(sample, merges=merges, vocab=vocab)
    inv = {i: s for s, i in vocab.items()}
    for r in enc.collect():
        decoded = "".join(inv[i] for i in r["token_ids"])
        want = "".join(
            w + "</w>" for w in (r["text"] or "").lower().split()
        )
        assert decoded == want, r["doc_id"]
        assert r["n_tok"] == len(r["token_ids"])

    # OOV: a vocab truncated past the base alphabet maps to <unk>
    small_vocab = {
        s: i for s, i in vocab.items() if i < len(v32)
    }
    enc2 = encode_token_ids(sample, merges=merges, vocab=small_vocab)
    unk = small_vocab["<unk>"]
    ids2 = [i for r in enc2.collect() for i in r["token_ids"]]
    assert all(i < len(small_vocab) for i in ids2)
    # and the missing merged symbols really do appear as <unk>
    assert unk in ids2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unk"):
        encode_token_ids(sample, merges=merges, vocab={"a": 0})


def test_bpe_ids_feed_pack_sequences(spark):
    """learn → encode_token_ids → pack_sequences composes: packs
    respect the budget on the REAL id counts and every doc lands in
    exactly one pack (start-of-doc rule)."""
    from pyspark.sql import functions as F

    from fortymhz_spark.operators.bpe import (
        encode_token_ids,
        learn_bpe_merges_local,
    )
    from fortymhz_spark.operators.packing import pack_sequences
    from fortymhz_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = learn_bpe_merges_local(docs, n_merges=32, min_count=2, top_v=None)
    enc = encode_token_ids(
        docs.select("doc_id", "text"), merges=merges
    ).withColumn("shard", F.pmod(F.col("doc_id"), F.lit(4)))
    packed = pack_sequences(
        enc, token_col="n_tok", shard_col="shard", order_col="doc_id",
        budget=256,
    )
    rows = packed.select("shard", "doc_id", "n_tok", "pack_id").collect()
    assert rows
    # every doc exactly once, pack ids dense-ish and budget-derived
    assert len({(r["shard"], r["doc_id"]) for r in rows}) == len(rows)
    by_pack = {}
    for r in rows:
        by_pack.setdefault((r["shard"], r["pack_id"]), []).append(r)
    for (_, _), members in by_pack.items():
        starts = sorted(m["doc_id"] for m in members)
        assert starts  # non-empty packs only


def test_vocab_linear_score_rejects_duplicate_tokens(spark):
    """A duplicate vocabulary token fans out the join and silently
    inflates every containing document's logit — rejected upfront."""
    import pytest as _pytest

    from fortymhz_spark.operators.text import vocab_linear_score

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    dup = spark.createDataFrame(
        [("a", 1), ("a", 2)], "token string, weight long"
    )
    with _pytest.raises(ValueError, match="duplicate tokens"):
        vocab_linear_score(docs, dup)


# ---------------------------------------------------------------------------
# Gopher rule-based quality filtering (operators/text.py::gopher_flags)
# ---------------------------------------------------------------------------


def test_gopher_flags_rules_fire_individually(spark):
    """Each rule trips on its designed pathology and only there."""
    from fortymhz_spark.operators.text import gopher_flags

    good = (
        "the cat sat with a hat and that dog may have to be here "
        + "word " * 45
    )
    rows = [
        (1, good),                                    # passes everything
        (2, "short text"),                            # wc + stopwords fail
        (3, "\n".join(["- b"] * 9 + ["plain"])),      # 90% bullet lines
        (4, "#" * 30 + " the be to of and " + "x " * 60),  # symbols + mwl
        (5, good.replace("word ", "... ")),           # symbol ratio via '...'
        (6, None),                                    # NULL → empty → wc fail
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_flags(df, "text").collect()
    }
    assert got[1]["gopher_pass"]
    assert not got[2]["wc_ok"] and not got[2]["stop_ok"]
    assert got[2]["mwl_ok"] and got[2]["sym_ok"]
    assert not got[3]["bullet_ok"]
    assert not got[4]["sym_ok"] and not got[4]["mwl_ok"]
    assert not got[5]["sym_ok"]
    assert not got[6]["wc_ok"] and not got[6]["gopher_pass"]


def test_gopher_flags_cross_multiplication_matches_float_form(spark):
    """The integer cross-multiplied ratio tests agree with the naive
    float forms on a randomized corpus (the portability discipline
    must not change semantics)."""
    import random

    from fortymhz_spark.operators.text import GOPHER_STOPWORDS, gopher_flags

    rng = random.Random(7)
    vocab = ["alpha", "beta", "x1", "##", "...", "the", "of", "with", "km"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 120))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in gopher_flags(df, "text").collect():
        toks = [t for t in r["text"].split(" ") if t]
        n = len(toks)
        total = sum(len(t) for t in toks)
        assert r["wc_ok"] == (50 <= n <= 100_000)
        assert r["mwl_ok"] == (3 * n <= total <= 10 * n)
        n_alpha = sum(1 for t in toks if any(c.isalpha() for c in t))
        assert r["alpha_ok"] == (5 * n_alpha >= 4 * n)
        n_stop = len(
            {t.lower() for t in toks} & set(GOPHER_STOPWORDS)
        )
        assert r["stop_ok"] == (n_stop >= 2)
        n_sym = r["text"].count("#") + r["text"].count("...")
        assert r["sym_ok"] == (10 * n_sym <= n)


# ---------------------------------------------------------------------------
# Prototypicality pruning (operators/similarity.py::prototype_prune)
# ---------------------------------------------------------------------------


def test_prototype_prune_quota_boundary_and_partition(spark):
    from fortymhz_spark.operators.similarity import prototype_prune

    # two tight blobs far apart: kmeans(k=2) must separate them
    rows = [(i, [float(i % 7) / 100.0, 0.0]) for i in range(20)] + [
        (100 + i, [10.0 + float(i % 5) / 100.0, 0.0]) for i in range(11)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototype_prune(
        df, id_col="vec_id", vec_col="embedding", k=2, iters=3,
        drop_frac=0.25,
    ).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert sorted(len(v) for v in by_cluster.values()) == [11, 20]
    for members in by_cluster.values():
        dropped = [r for r in members if not r["keep"]]
        kept = [r for r in members if r["keep"]]
        assert len(dropped) == len(members) // 4
        if dropped and kept:
            # dropped = the closest-to-centroid prefix
            assert max(r["dist_e9"] for r in dropped) <= min(
                r["dist_e9"] for r in kept
            )
    assert len(out) == 31  # nothing lost or duplicated


def test_prototype_prune_zero_frac_keeps_everything(spark):
    from fortymhz_spark.operators.similarity import prototype_prune

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(9)],
        "vec_id long, embedding array<double>",
    )
    out = prototype_prune(df, k=3, iters=1, drop_frac=0.0).collect()
    assert all(r["keep"] for r in out) and len(out) == 9
    with pytest.raises(ValueError, match="drop_frac"):
        prototype_prune(df, drop_frac=1.0)


# ---------------------------------------------------------------------------
# Gopher repetition rules (operators/text.py::gopher_repetition_flags)
# ---------------------------------------------------------------------------


def test_gopher_repetition_rules_fire_individually(spark):
    from fortymhz_spark.operators.text import gopher_repetition_flags

    clean = " ".join(f"w{i}" for i in range(80))
    rows = [
        (1, clean),                                     # passes everything
        (2, "dup line\n" * 8 + "unique tail"),          # dup lines + chars
        (3, ("para one here\n\n" * 5) + "different"),   # dup paragraphs
        (4, "x y " * 50),                               # top-2gram dominated
        (5, " ".join(f"w{i%9}" for i in range(90))),    # dup 5..10-grams
        (6, ""),                                        # empty passes
        (7, None),                                      # NULL passes
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_flags(df).collect()
    }
    assert got[1]["gopher_rep_pass"]
    assert not got[2]["rep_dline_ok"] and not got[2]["rep_dline_char_ok"]
    assert not got[3]["rep_dpara_ok"] and not got[3]["rep_dpara_char_ok"]
    assert not got[4]["rep_top2_ok"]
    assert not got[5]["rep_dup5_ok"] and not got[5]["rep_dup10_ok"]
    assert got[6]["gopher_rep_pass"] and got[7]["gopher_rep_pass"]


def test_gopher_repetition_matches_python_reference(spark):
    """Randomized cross-check of every rule against an independent
    Counter-based implementation of the documented semantics."""
    import random
    import re
    from collections import Counter

    from fortymhz_spark.operators.text import gopher_repetition_flags

    rng = random.Random(11)
    vocab = ["aa", "bb", "cc", "dd", "longword", "x"]
    rows = []
    for i in range(30):
        n_lines = rng.randint(0, 6)
        text = "\n".join(
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15)))
            for _ in range(n_lines)
        )
        if rng.random() < 0.3:
            text += "\n\n" + text  # force paragraph duplication
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_repetition_flags(df).collect()
    }

    def dup(arr):
        c = Counter(arr)
        return (
            sum(v - 1 for v in c.values() if v > 1),
            sum((v - 1) * len(k) for k, v in c.items() if v > 1),
        )

    for i, text in rows:
        toks = [t for t in text.split(" ") if t]
        lines = [x for x in text.split("\n") if x]
        paras = [p for p in re.split(r"\n{2,}", text) if p]
        total = len(text)
        dl, dlc = dup(lines)
        dp, dpc = dup(paras)
        assert got[i]["rep_dline_ok"] == (10 * dl <= 3 * len(lines))
        assert got[i]["rep_dpara_ok"] == (10 * dp <= 3 * len(paras))
        assert got[i]["rep_dline_char_ok"] == (5 * dlc <= total)
        assert got[i]["rep_dpara_char_ok"] == (5 * dpc <= total)
        for name, n, t in (("top2", 2, 20), ("top3", 3, 18), ("top4", 4, 16)):
            c = Counter(
                " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
            )
            if c:
                topc = max(c.values())
                topl = max(len(g) for g, v in c.items() if v == topc)
            else:
                topc = topl = 0
            assert got[i][f"rep_{name}_ok"] == (
                100 * topc * topl <= t * total
            ), (i, name)
        for name, n, t in (
            ("dup5", 5, 15), ("dup6", 6, 14), ("dup7", 7, 13),
            ("dup8", 8, 12), ("dup9", 9, 11), ("dup10", 10, 10),
        ):
            c = Counter(
                " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
            )
            d = sum((v - 1) * len(k) for k, v in c.items() if v > 1)
            assert got[i][f"rep_{name}_ok"] == (100 * d <= t * total), (
                i, name,
            )


# ---------------------------------------------------------------------------
# C4 cleaning rules (operators/text.py::c4_flags)
# ---------------------------------------------------------------------------


def test_c4_rules_fire_individually(spark):
    from fortymhz_spark.operators.text import c4_flags

    good = (
        "This is a good long sentence here. Another fine sentence "
        "follows it now. And a third one to be safe."
    )
    rows = [
        (1, good),
        (2, "short line\nno punct here at all\nthis one has five words."),
        (3, good + " Also lorem ipsum appears."),
        (4, good + " A curly { bracket."),
        (5, "Uses javascript heavily in this line. " + good),
        (6, good + " nsfwplaceholder appears here."),
        (7, ""),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in c4_flags(df).collect()}
    assert got[1]["c4_pass"] and got[1]["c4_n_kept"] == 1
    assert got[1]["c4_n_sentences"] == 3
    # doc 2: only the last line survives (1 sentence) -> too few
    assert got[2]["c4_n_kept"] == 1 and not got[2]["c4_pass"]
    assert got[2]["c4_n_end_punct"] == 1
    assert got[2]["c4_n_ge_min_words"] == 2  # lines 2 and 3
    assert got[3]["c4_has_lorem"] and not got[3]["c4_pass"]
    assert got[4]["c4_has_brace"] and not got[4]["c4_pass"]
    # doc 5: one line; the javascript token kills the whole line
    assert got[5]["c4_n_js_lines"] == 1 and got[5]["c4_n_kept"] == 0
    assert got[6]["c4_has_badword"] and not got[6]["c4_pass"]
    for i in (7, 8):
        assert got[i]["c4_n_lines"] == 0 and not got[i]["c4_pass"]
        assert got[i]["c4_clean_text"] == ""


def test_c4_clean_text_reconstruction(spark):
    from fortymhz_spark.operators.text import c4_flags

    keep_a = "Keep this perfectly fine sentence now."
    keep_b = "Another keeper with enough words here!"
    text = "\n".join([keep_a, "drop me", keep_b, "no terminal punct here x"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = c4_flags(df).collect()[0]
    assert r["c4_clean_text"] == keep_a + "\n" + keep_b
    assert r["c4_n_kept"] == 2 and r["c4_n_sentences"] == 2
    assert not r["c4_pass"]  # 2 < 3 sentences


def test_c4_thresholds_are_parameters(spark):
    from fortymhz_spark.operators.text import c4_flags

    text = "Tiny ok line here now.\nSecond tiny ok line too."
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    strict = c4_flags(df).collect()[0]
    loose = c4_flags(df, min_words_per_line=3, min_sentences=2).collect()[0]
    assert strict["c4_n_kept"] == 2 and not strict["c4_pass"]
    assert loose["c4_n_kept"] == 2 and loose["c4_pass"]


def test_prototype_prune_with_bounded_fit_sample(spark):
    """The deployment form (bounded fit sample + one full assignment
    pass) must still produce a total, quota-correct partition — the
    centroids differ from the full fit, the contracts must not."""
    from fortymhz_spark.operators.similarity import prototype_prune

    rows = [(i, [float(i % 13), float((i * 7) % 11)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototype_prune(
        df, k=4, iters=2, drop_frac=0.25, init="kmeanspar",
        fit_sample_rows=32,
    ).collect()
    assert len(out) == 200  # every row assigned exactly once
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        dropped = [r for r in members if not r["keep"]]
        kept = [r for r in members if r["keep"]]
        assert len(dropped) == len(members) // 4
        if dropped and kept:
            assert max(r["dist_e9"] for r in dropped) <= min(
                r["dist_e9"] for r in kept
            )


def test_kmeans_fit_sample_rows_validation(spark):
    from fortymhz_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(i, [float(i)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="fit_sample_rows"):
        kmeans_assign(df, k=2, fit_sample_rows=0)
    # sample >= corpus degrades to the full fit
    full = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(df, k=2, fit_sample_rows=1000).collect()
    }
    base = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(df, k=2).collect()
    }
    assert full == base


# ---------------------------------------------------------------------------
# incremental dedup against the persisted MinHash signature index
# (operators/dedup.py::build_minhash_index / extend_minhash_index /
# incremental_near_dups)
# ---------------------------------------------------------------------------


def test_incremental_near_dups_matches_from_scratch(spark, tmp_path):
    """The incremental path must emit EXACTLY the from-scratch pairs
    that involve the batch: new↔old pairs (index lanes vs fresh
    lanes) and new↔new pairs (fresh vs fresh), verified jaccard and
    all; old↔old pairs must NOT surface."""
    from fortymhz_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),                       # old
            (2, base + " iota"),             # old, near-dup of 1
            (3, "totally different text about unrelated things here"),
            (20, base + " kappa"),           # new, near-dup of 1/2
            (40, base + " kappa lambda"),    # new, near-dup of 20
        ],
        "doc_id long, text string",
    )
    old = docs.filter("doc_id % 20 != 0")
    new = docs.filter("doc_id % 20 = 0")
    td = str(tmp_path / "idx")
    assert dd.build_minhash_index(old, td, num_hashes=32, bands=16) == 1
    got = sorted(
        (r.id_a, r.id_b)
        for r in dd.incremental_near_dups(new, old, td, threshold=0.5).collect()
    )
    want = sorted(
        (r.id_a, r.id_b)
        for r in dd.minhash_near_dups(docs, threshold=0.5, bands=16).collect()
        if r.id_a % 20 == 0 or r.id_b % 20 == 0
    )
    assert got == want and got  # non-vacuous: batch pairs exist
    assert all(a % 20 == 0 or b % 20 == 0 for a, b in got)

    # extend absorbs the batch: the index now covers everything, and a
    # later batch dedups against old AND previously-new docs
    assert dd.extend_minhash_index(new, td) == 2
    from fortymhz_spark.sources.snapshots import read_snapshot

    assert read_snapshot(spark, td).count() == 5
    batch2 = spark.createDataFrame(
        [(60, base + " kappa lambda mu")], "doc_id long, text string"
    )
    got2 = {
        (r.id_a, r.id_b)
        for r in dd.incremental_near_dups(
            batch2, docs, td, threshold=0.5
        ).collect()
    }
    assert (40, 60) in got2  # matches a doc that arrived in batch 1


def test_incremental_near_dups_pinned_version_uses_pinned_params(
    spark, tmp_path
):
    """incremental_near_dups(version=N) must resolve the hash-family
    params AT version N, not at the latest lineage: after a rebuild
    with a different num_hashes, latest-params banding of pinned rows
    would reference h* columns the old signatures don't carry (or
    silently band with different recall)."""
    from fortymhz_spark.operators import dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta"
    old = spark.createDataFrame(
        [(1, base), (2, base + " iota")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(20, base + " kappa")], "doc_id long, text string"
    )
    td = str(tmp_path / "idx")
    assert dd.build_minhash_index(old, td, num_hashes=16, bands=8) == 1
    # rebuild with WIDER signatures: latest params now want h16..h31,
    # which v=1's rows do not carry
    assert dd.build_minhash_index(old, td, num_hashes=32, bands=16) == 2
    pinned = sorted(
        (r.id_a, r.id_b)
        for r in dd.incremental_near_dups(
            new, old, td, threshold=0.5, version=1
        ).collect()
    )
    fresh_td = str(tmp_path / "fresh16")
    dd.build_minhash_index(old, fresh_td, num_hashes=16, bands=8)
    want = sorted(
        (r.id_a, r.id_b)
        for r in dd.incremental_near_dups(
            new, old, fresh_td, threshold=0.5
        ).collect()
    )
    assert pinned == want and pinned  # non-vacuous


def test_minhash_index_rejects_foreign_artifacts_and_bad_params(
    spark, tmp_path
):
    import pytest as _pytest

    from fortymhz_spark.operators import dedup as dd
    from fortymhz_spark.sources.snapshots import write_snapshot

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="must divide"):
        dd.build_minhash_index(docs, str(tmp_path / "x"), num_hashes=32, bands=7)
    other = str(tmp_path / "plain")
    write_snapshot(docs.select("doc_id"), other, note="plain table")
    with _pytest.raises(ValueError, match=r"not a.*minhash_index.*artifact"):
        dd.incremental_near_dups(docs, docs, other)


def test_bpe_and_unigram_artifacts_roundtrip(spark, tmp_path):
    """Tokenizer artifacts (operators/bpe.py::save/load_bpe_merges,
    operators/unigram.py::save/load_unigram_model): exact round-trip
    including order/counts/logprobs, version pinning, and loud
    failure on foreign artifacts."""
    import pytest as _pytest

    from fortymhz_spark.operators import bpe, unigram as ug
    from fortymhz_spark.sources.snapshots import write_snapshot

    docs = spark.createDataFrame(
        [(1, "low lower lowest new newer newest wide wider widest")],
        "doc_id long, text string",
    )
    merges = bpe.learn_bpe_merges_local(docs, n_merges=12, min_count=1, top_v=None)
    td = str(tmp_path / "bpe")
    assert bpe.save_bpe_merges(spark, merges, td) == 1
    assert bpe.load_bpe_merges(spark, td) == [
        (l, r, int(n)) for l, r, n in merges
    ]
    # a retrain publishes v2; v1 stays pinned
    merges2 = bpe.learn_bpe_merges_local(docs, n_merges=4, min_count=1, top_v=None)
    assert bpe.save_bpe_merges(spark, merges2, td) == 2
    assert len(bpe.load_bpe_merges(spark, td)) == 4
    assert len(bpe.load_bpe_merges(spark, td, version=1)) == 12

    model = ug.learn_unigram_vocab(docs, vocab_size=32, em_rounds=1)
    tu = str(tmp_path / "ug")
    assert ug.save_unigram_model(spark, model, tu) == 1
    loaded = ug.load_unigram_model(spark, tu)
    assert loaded == model  # exact doubles, no stringification loss

    other = str(tmp_path / "plain")
    write_snapshot(docs.select("doc_id"), other, note="plain")
    with _pytest.raises(ValueError, match=r"not a.*bpe_merges.*artifact"):
        bpe.load_bpe_merges(spark, other)
    with _pytest.raises(ValueError, match=r"not a.*unigram_model.*artifact"):
        ug.load_unigram_model(spark, other)


# ---------------------------------------------------------------------------
# token-budget mixture selection (operators/sampling.py::budget_sample)
# ---------------------------------------------------------------------------


def test_budget_sample_matches_naive_prefix_reference(spark):
    """The two-phase bucket form must reproduce the naive hash-order
    prefix exactly — per group and globally — including the
    stop-at-first-overflow rule (no back-filling of shorter docs past
    the overflow point), NULL text (0 tokens) and NULL group totality,
    and partition invariance.  n_buckets=4 forces real cutoff-bucket
    boundaries at this size."""
    import pytest as _pytest

    from fortymhz_spark.operators.sampling import budget_sample

    rows = [
        (i, "web" if i % 2 == 0 else "code", "tok " * (i % 7 + 1))
        for i in range(200)
    ]
    rows.append((500, "web", None))       # NULL text: 0 tokens, kept free
    rows.append((501, None, "a b c"))     # NULL group: its own quota
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def score(i):
        return (i * 2_654_435_761) % 1_000_003

    def ref_keep(budget, by_group):
        import collections

        groups = collections.defaultdict(list)
        for i, s, t in rows:
            n = len([x for x in (t or "").split(" ") if x])
            groups[s if by_group else ""].append((score(i), i, n))
        keep = set()
        for docs in groups.values():
            run = 0
            for _, i, n in sorted(docs):
                if run + n > budget:
                    break
                run += n
                keep.add(i)
        return keep

    for budget in (0, 17, 40, 10_000):
        got = budget_sample(df, budget, group_col="source", n_buckets=4)
        assert {r.doc_id for r in got.collect()} == ref_keep(budget, True), budget
    got_g = budget_sample(df, 100, n_buckets=4)
    assert {r.doc_id for r in got_g.collect()} == ref_keep(100, False)
    # kept token sums never exceed the budget, and n_tokens rides along
    sums = budget_sample(df, 40, group_col="source").groupBy("source").agg(
        F.sum("n_tokens").alias("t")
    ).collect()
    assert all(r.t <= 40 for r in sums)
    # partition-invariant
    a = sorted(
        r.doc_id
        for r in budget_sample(
            df.repartition(7), 40, group_col="source", n_buckets=4
        ).collect()
    )
    assert a == sorted(ref_keep(40, True))
    with _pytest.raises(ValueError, match="token_budget"):
        budget_sample(df, -1)
    with _pytest.raises(ValueError, match="n_buckets"):
        budget_sample(df, 10, n_buckets=0)


def test_quality_yield_curve_monotone_and_exact(spark):
    """quality_yield_curve: one row per threshold, counts equal the
    per-threshold brute-force filter, non-increasing in the threshold,
    NULL text costs 0 tokens, and validation rejects empty/duplicate
    threshold lists."""
    import pytest as _pytest

    from fortymhz_spark.operators.profile import quality_yield_curve

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, None), (4, "f g h i")],
        "doc_id long, text string",
    )
    score = (F.col("doc_id") * 10).cast("long")  # 10,20,30,40
    got = {
        r.threshold: (r.n_docs_kept, r.n_tokens_kept)
        for r in quality_yield_curve(
            df, score, [0, 15, 25, 35, 99]
        ).collect()
    }
    # tokens: 3,2,0,4 — score>=t keeps the doc-id suffix
    assert got == {
        0: (4, 9), 15: (3, 6), 25: (2, 4), 35: (1, 4), 99: (0, 0),
    }
    docs = [d for d, _ in sorted(got.items())]
    kept = [got[d] for d in docs]
    assert kept == sorted(kept, reverse=True)  # monotone non-increasing
    with _pytest.raises(ValueError, match="non-empty"):
        quality_yield_curve(df, score, [])
    with _pytest.raises(ValueError, match="duplicate"):
        quality_yield_curve(df, score, [1, 1])


def test_train_hashed_classifier_learns_and_is_deterministic(spark):
    """train_hashed_classifier: perfect training accuracy on a
    separable synthetic corpus when served back through
    hashed_linear_score(weights=...) (train and serve share the bucket
    hash), identical weights at any partition count (the
    epoch-synchronous batch update), and loud validation of non-±1
    labels and bad knobs."""
    import pytest as _pytest

    from fortymhz_spark.operators import text as tx

    rows = []
    for i in range(60):
        if i % 2 == 0:
            rows.append((i, 1, f"posmark filler{i % 5} alpha beta"))
        else:
            rows.append((i, -1, f"negword{i % 7} gamma delta other"))
    docs = spark.createDataFrame(rows, "doc_id long, y int, text string")
    w = tx.train_hashed_classifier(docs, "y", n_buckets=64, epochs=3)
    acc = docs.select(
        (
            F.col("y") * tx.hashed_linear_score("text", weights=w) > 0
        ).cast("int").alias("ok")
    ).agg(F.avg("ok")).first()[0]
    assert acc == 1.0
    assert w == tx.train_hashed_classifier(
        docs.repartition(7), "y", n_buckets=64, epochs=3
    )
    with _pytest.raises(ValueError, match="±1"):
        tx.train_hashed_classifier(
            docs.withColumn("y", F.lit(0)), "y", n_buckets=64
        )
    with _pytest.raises(ValueError, match="n_buckets"):
        tx.train_hashed_classifier(docs, "y", n_buckets=0)
    with _pytest.raises(ValueError, match="epochs"):
        tx.train_hashed_classifier(docs, "y", epochs=0)


@given(
    data=st.data(),
    n_sub=st.sampled_from([2, 4, 8]),
)
@settings(max_examples=15, deadline=None)
def test_opq_rotation_isometry_property(data, n_sub):
    """Property: for ANY training sample, _opq_rotation returns an
    ORTHOGONAL dim×dim matrix (isometry — rotating must never distort
    an ADC distance), every block owns exactly d_sub output rows, and
    the map is a pure function of the sample (same bits twice).
    Degenerate inputs (constant vectors, rank-deficient samples,
    near-zero variance) must not break orthogonality — eigh of a PSD
    moment matrix always yields an orthonormal basis."""
    import numpy as np

    from fortymhz_spark.operators.similarity import _opq_rotation

    dim = n_sub * data.draw(st.sampled_from([2, 4]))
    n_rows = data.draw(st.integers(min_value=1, max_value=40))
    sample = [
        [
            data.draw(
                st.floats(
                    min_value=-10, max_value=10,
                    allow_nan=False, allow_infinity=False,
                )
            )
            for _ in range(dim)
        ]
        for _ in range(n_rows)
    ]
    rot = _opq_rotation(sample, n_sub, dim // n_sub)
    R = np.asarray(rot, dtype=np.float64)
    assert R.shape == (dim, dim)
    assert np.abs(R @ R.T - np.eye(dim)).max() < 1e-8
    assert _opq_rotation(sample, n_sub, dim // n_sub) == rot


def test_minhash_pairs_and_signatures_match_separate(spark):
    """The fused single-lane-pass form (round-13 optimization) must
    emit byte-identical pairs AND signatures to the separate
    minhash_near_dups + minhash_signatures calls — the load-bearing
    claim is that the indexed hash family (xxhash64(i, shingle)) makes
    the first 32 lanes of a 64-lane pass identical to a standalone
    32-lane pass."""
    from fortymhz_spark.operators import dedup as dd
    from fortymhz_spark.sources.batch import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    pairs_f, sigs_f = dd.minhash_pairs_and_signatures(
        docs, threshold=0.7, bands=16, sig_hashes=64
    )
    pairs_s = dd.minhash_near_dups(docs, threshold=0.7, bands=16)
    sigs_s = dd.minhash_signatures(docs, num_hashes=64)
    assert {tuple(r) for r in pairs_f.collect()} == {
        tuple(r) for r in pairs_s.collect()
    }
    assert {(r["id"], tuple(r["sig"])) for r in sigs_f.collect()} == {
        (r["id"], tuple(r["sig"])) for r in sigs_s.collect()
    }


def test_minhash_pairs_and_signatures_validates_parameters():
    import pytest as _pytest

    from fortymhz_spark.operators import dedup as dd

    with _pytest.raises(ValueError, match="must divide"):
        dd.minhash_pairs_and_signatures(None, bands=7, num_hashes=32)
    with _pytest.raises(ValueError, match="sig_hashes"):
        dd.minhash_pairs_and_signatures(None, sig_hashes=16, num_hashes=32)
