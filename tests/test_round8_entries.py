"""Round-8 pins: the size-gated k-means trainer (VERDICT r7 #1).

The `assignment="auto"` gate resolves to the exact/broadcast Lloyd
rounds while k*dim fits the broadcast budget and to the banded LSH
rounds only past it. The two semdedup entries train through the gate
(exact at every oracle/bench scale).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def test_auto_assignment_gate_is_pure_and_sized():
    from wq_data_pipeline_spark.operators.similarity import (
        _resolve_auto_assignment,
    )

    # exact while k*dim fits the broadcast budget, banded past it
    assert _resolve_auto_assignment(32, 64, 1_000_000) == "exact"
    assert _resolve_auto_assignment(15_625, 64, 1_000_000) == "exact"
    assert _resolve_auto_assignment(15_626, 64, 1_000_000) == "banded"
    assert _resolve_auto_assignment(2_000_000, 1024, 1_000_000) == "banded"


def test_auto_mode_matches_exact_below_gate(spark):
    """Below the gate, auto IS the exact mode — bit-identical
    centroids on integer-quantized vectors (the property the entry
    oracles' exact-prefix replay relies on)."""
    from wq_data_pipeline_spark.operators.similarity import kmeans_centroids
    from wq_data_pipeline_spark.plans.queries_ext import _quantized
    from wq_data_pipeline_spark.sources.testdata import load_table

    emb = (
        load_table(spark, SF0001, "embeddings")
        .select("vec_id", _quantized("embedding").alias("q"))
        .limit(120)
    )
    auto = kmeans_centroids(
        emb, k=4, iters=2, vec_col="q", assignment="auto",
        literal_centroids_max=0,
    ).collect()
    exact = kmeans_centroids(
        emb, k=4, iters=2, vec_col="q", assignment="exact",
        literal_centroids_max=0,
    ).collect()
    a = {r["centroid_id"]: list(r["q"]) for r in auto}
    e = {r["centroid_id"]: list(r["q"]) for r in exact}
    assert a == e


def test_auto_mode_resolves_banded_past_gate(spark):
    """Past the gate, auto routes to the banded trainer: the Lloyd
    round plan must carry the banded candidate join (a join on the
    signature columns) rather than the exact crossJoin."""
    from wq_data_pipeline_spark.operators.similarity import kmeans_centroids
    from wq_data_pipeline_spark.plans.queries_ext import _quantized
    from wq_data_pipeline_spark.sources.testdata import load_table

    emb = (
        load_table(spark, SF0001, "embeddings")
        .select("vec_id", _quantized("embedding").alias("q"))
        .limit(64)
    )
    # gate forced tiny so the 64-row corpus trips it
    banded_via_auto = kmeans_centroids(
        emb, k=2, iters=1, vec_col="q", assignment="auto",
        banded_min_kdim=1,
    ).collect()
    banded = kmeans_centroids(
        emb, k=2, iters=1, vec_col="q", assignment="banded"
    ).collect()
    a = {r["centroid_id"]: list(r["q"]) for r in banded_via_auto}
    b = {r["centroid_id"]: list(r["q"]) for r in banded}
    assert a == b


def test_des_kernel_composition_invariants():
    """The composed S2 kernel must be the self-convolution of the S1
    kernel: sum(w2) == sum(w1)^2 and w2[m] == sum_{j+k=m} w1[j]w1[k]
    — the identity that makes the truncated double smoothing a real
    second EWMA pass, not an arbitrary FIR."""
    from wq_data_pipeline_spark.plans.queries_r8 import _DES_TAPS, _des_coeffs

    w1, w2 = _des_coeffs()
    assert len(w1) == _DES_TAPS and len(w2) == 2 * _DES_TAPS - 1
    assert sum(w2) == sum(w1) ** 2  # exact dyadic arithmetic
    for m in range(len(w2)):
        conv = sum(
            w1[j] * w1[m - j]
            for j in range(len(w1))
            if 0 <= m - j < len(w1)
        )
        assert w2[m] == conv, (m, w2[m], conv)


def test_ngram_novelty_first_doc_semantics(spark):
    """A gram's first corpus occurrence is charged to the LOWEST
    doc_id; later docs repeating it lose novelty, the first keeps it
    — pinned on a hand-built corpus where doc 3 repeats doc 1's
    grams entirely and doc 2 is fresh."""
    import wq_data_pipeline_spark.plans.queries_r8 as R8

    base = "a b c d e f g h i j"  # 10 tokens -> 3 distinct 8-grams
    docs = spark.createDataFrame(
        [(1, base, "en", "s0", len(base)),
         (2, "p q r s t u v w x y", "en", "s1", 19),
         (3, base, "en", "s2", len(base))],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = {
            r["doc_id"]: r
            for r in R8.q_ngram_novelty(spark, td).collect()
        }
    assert out[1]["n_grams"] == 3 and out[1]["novelty"] == 1.0
    assert out[2]["novelty"] == 1.0
    assert out[3]["n_grams"] == 3 and out[3]["n_seen_earlier"] == 3
    assert out[3]["novelty"] == 0.0


def test_token_entropy_extremes(spark):
    """Entropy 0 for a single repeated token; log2(n) for all-distinct
    tokens (normalized entropy 1)."""
    import tempfile

    import wq_data_pipeline_spark.plans.queries_r8 as R8

    docs = spark.createDataFrame(
        [(1, "x x x x", "en", "s0", 7),
         (2, "a b c d", "en", "s1", 7)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = {r["doc_id"]: r for r in R8.q_token_entropy(spark, td).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["norm_entropy"] == 0.0
    assert out[2]["entropy"] == 2.0 and out[2]["norm_entropy"] == 1.0


def test_lcp_capped_randomized_against_brute_force(spark):
    """Property check over 300 seeded random cases on a 2-letter
    alphabet (forces long shared prefixes): the capped-LCP tree
    (``_lcp_key_tree_sql``) over two suffix expressions matches a
    Python brute force exactly, cross-text and same-text, at the
    all-ones cap 63 and at cap 5 (the binary search is exact for any
    cap)."""
    import random

    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.suffix import _lcp_key_tree_sql

    rng = random.Random(8)
    rows = []
    for i in range(300):
        ta = "".join(rng.choice("ab") for _ in range(rng.randint(2, 120)))
        tb = "".join(rng.choice("ab") for _ in range(rng.randint(2, 120)))
        a = rng.randrange(len(ta))
        b = rng.randrange(len(tb))
        p, q = sorted(rng.sample(range(len(ta)), 2))
        rows.append((i, ta, tb, a, b, p, q))

    def brute(x: str, y: str, cap: int) -> int:
        m = 0
        for cx, cy in zip(x[:cap], y[:cap]):
            if cx != cy:
                break
            m += 1
        return m

    def tree(ka: str, kb: str, cap: int):
        return F.expr(_lcp_key_tree_sql(ka, kb, cap))

    sa, sb = "substr(`ta`, `a` + 1)", "substr(`tb`, `b` + 1)"
    sp, sq = "substr(`ta`, `p` + 1)", "substr(`ta`, `q` + 1)"
    df = spark.createDataFrame(
        rows, "i INT, ta STRING, tb STRING, a INT, b INT, p INT, q INT"
    )
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            tree(sa, sb, 63).alias("x63"),
            tree(sp, sq, 63).alias("s63"),
            tree(sa, sb, 5).alias("x5"),
            tree(sp, sq, 5).alias("s5"),
        ).collect()
    }
    for i, ta, tb, a, b, p, q in rows:
        for cap in (63, 5):
            assert got[i][f"x{cap}"] == brute(ta[a:], tb[b:], cap), (i, cap)
            assert got[i][f"s{cap}"] == brute(ta[p:], ta[q:], cap), (i, cap)


def test_theil_sen_trend_hand_computed(spark):
    """Sen slope and Mann–Kendall S/z on a hand-computed 4-day
    series: days [0,1,2,3], daily centi-sums [10,20,15,40] ->
    slopes {10, 2.5, 10, -5, 10, 25} (median 10), S = 4, no ties ->
    var = 4*3*13/18, z = 3/sqrt(var)."""
    import datetime as dt
    import math
    import tempfile

    import wq_data_pipeline_spark.plans.queries_r8 as R8

    rows = [
        (i, dt.datetime(2024, 1, 1 + d, 12, 0, 0), 1, "a", v / 100.0)
        for i, (d, v) in enumerate([(0, 10), (1, 20), (2, 15), (3, 40)])
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE",
    )
    with tempfile.TemporaryDirectory() as td:
        ev.write.mode("overwrite").parquet(f"{td}/events.parquet")
        out = R8.q_theil_sen_trend(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 4 and r["n_pairs"] == 6
    assert r["sen_slope_c"] == 10.0
    assert r["mk_s"] == 4
    var_s = 4 * 3 * (2 * 4 + 5) / 18.0
    assert r["mk_z"] == round(3.0 / math.sqrt(var_s), 6)
