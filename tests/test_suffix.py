"""doc_adjacent_lcp / global_adjacent_lcp vs a pure-Python suffix sort
on adversarial strings — periodic text, runs of one character, shared
64+ prefixes (the depth-bound tie region), non-ASCII documents."""

from __future__ import annotations

import pytest

from wq_data_pipeline_spark.operators.suffix import doc_adjacent_lcp

DOCS = [
    (1, "banana"),
    (2, "aaaaaaaaaaaa"),
    (3, "abcabcabcabcabcabcabcabc"),
    (4, "x" * 70 + "y" + "x" * 70),  # shared prefixes past depth 64
    (5, "the quick brown fox jumps over the lazy dog the quick brown fox"),
    (6, "ab"),
]
DEPTH = 64


def _ref_order(text: str) -> list[int]:
    """Positions in depth-bounded suffix order (first DEPTH chars,
    ties by position)."""
    return sorted(range(len(text)), key=lambda i: (text[i : i + DEPTH], i))


def _ref_lcp(text: str, a: int, b: int, cap: int) -> int:
    sa, sb = text[a : a + cap], text[b : b + cap]
    n = 0
    for x, y in zip(sa, sb):
        if x != y:
            break
        n += 1
    return n


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _check_doc_adjacent_lcp(spark, docs) -> None:
    """doc_adjacent_lcp of docs equals the pure-Python suffix sort:
    every adjacent pair once, its capped LCP, its document length."""
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = doc_adjacent_lcp(df, "doc_id", "text", DEPTH).collect()
    got = {(r["doc_id"], r["prev_pos"], r["pos"]): r["lcp"] for r in rows}
    for doc_id, text in docs:
        order = _ref_order(text)
        for prev, cur in zip(order, order[1:]):
            want = _ref_lcp(text, prev, cur, DEPTH - 1)
            assert got[(doc_id, prev, cur)] == want, (doc_id, prev, cur)
    # every adjacency is covered exactly once, with its document length
    assert len(got) == sum(len(t) - 1 for _, t in docs)
    texts = dict(docs)
    assert all(r["n"] == len(texts[r["doc_id"]]) for r in rows)


def test_adjacent_lcp_matches_reference(spark):
    """Per-document adjacency and capped LCPs equal the pure-Python
    suffix sort on the adversarial strings."""
    _check_doc_adjacent_lcp(spark, DOCS)


def test_doc_adjacent_lcp_parity_with_doubling(spark):
    """The direct window form must give the rows the prefix-doubling
    form gave — the pure-Python suffix sort — on the adversarial
    strings PLUS non-ASCII docs, so both the byte-sliced fast path and
    the char-indexed slow path of suffix_window_keys are exercised."""
    _check_doc_adjacent_lcp(
        spark,
        DOCS
        + [
            (7, "héllo wörld héllo wörld héllo"),  # slow path: multibyte
            (8, "日本語のテキスト日本語のテキスト"),  # slow path: CJK, periodic
            (9, "a"),  # single char: zero adjacency rows
            (10, "cafécafé" * 12),  # slow path, periodic, 96 chars
        ],
    )


def _ref_global_pairs(docs, depth: int) -> dict:
    """{(prev_doc, prev_pos, doc, pos): lcp} of the corpus-global
    depth-bounded suffix order (ties by (doc, pos)), LCP capped at
    depth-1."""
    texts = dict(docs)
    allpos = sorted(
        (t[p : p + depth], d, p) for d, t in docs for p in range(len(t))
    )
    want = {}
    for (_, da, pa), (_, db, pb) in zip(allpos, allpos[1:]):
        sa, sb = texts[da][pa : pa + depth - 1], texts[db][pb : pb + depth - 1]
        n = 0
        for x, y in zip(sa, sb):
            if x != y:
                break
            n += 1
        want[(da, pa, db, pb)] = n
    return want


def _global_pairs(df, depth: int, num_partitions: int) -> dict:
    from wq_data_pipeline_spark.operators.suffix import global_adjacent_lcp

    return {
        (r["prev_doc"], r["prev_pos"], r["doc_id"], r["pos"]): r["lcp"]
        for r in global_adjacent_lcp(
            df, "doc_id", "text", depth, num_partitions=num_partitions
        ).collect()
    }


def test_global_adjacency_matches_reference(spark, docs_df):
    """Corpus-global order with MORE partitions than rows per range
    bucket — exercises the boundary stitch (every partition edge is a
    stitched pair) and empty-partition handling."""
    assert _global_pairs(docs_df, DEPTH, 16) == _ref_global_pairs(DOCS, DEPTH)


def test_global_adjacency_skewed_sample_keeps_ranges_balanced(spark):
    """One long document among many identical short ones: the 5% doc
    sample sees only short docs, so its range bounds collapse to one
    or two distinct keys. The bounds must then come from the full
    pass, so no range partition holds more than half the positions —
    and the pairs stay equal to the pure-Python reference."""
    import random

    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators import suffix

    rng = random.Random(5)
    depth, parts = 16, 8
    docs = [(i, "zz") for i in range(1, 401)]
    docs.append((1000, "".join(rng.choice("abcdefghij") for _ in range(4000))))
    # one input partition: the seeded sample is the same on any core count
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING").coalesce(1)
    got = _global_pairs(df, depth, parts)
    sizes = [
        r["c"]
        for r in suffix._PERSISTED_PASSES[-1][1]
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    assert sum(sizes) == 400 * 2 + 4000
    assert max(sizes) <= sum(sizes) // 2, sorted(sizes)
    assert got == _ref_global_pairs(docs, depth)


def test_lcp_key_tree_matches_descent(spark):
    """r13: the binary-search LCP tree (one expr parse) must equal the
    LCP of the sentinel-padded cap-windows — the values the greedy
    descent it replaced computed — on adversarial key pairs: equality
    at every boundary length, truncated tails (distinct sentinel
    pads), multibyte, and full-cap equality. The tree needs no
    all-ones cap, so non-all-ones caps are checked too."""
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.suffix import _lcp_key_tree_sql

    cases = [
        ("banana", "bananb"),
        ("aaaa", "aaaa"),  # equal keys
        ("abc", "abcdef"),  # truncated tail: pads must mismatch
        ("", "anything"),
        ("", ""),
        ("x" * 40, "x" * 40),  # equality past cap
        ("x" * 40, "x" * 30 + "y" * 10),
        ("héllo wörld", "héllo würld"),  # multibyte
        ("日本語テキスト", "日本語テクスト"),
    ]

    def ref(a, b, cap):
        pa = (a[:cap] + "\x01" * cap)[:cap]
        pb = (b[:cap] + "\x02" * cap)[:cap]
        m = 0
        for x, y in zip(pa, pb):
            if x != y:
                break
            m += 1
        return m

    df = spark.createDataFrame(cases, ["ka", "kb"])
    caps = (7, 31, 63, 5)
    got = df.select(
        *[
            F.expr(_lcp_key_tree_sql("`ka`", "`kb`", cap)).alias(f"t{cap}")
            for cap in caps
        ]
    ).collect()
    for cap in caps:
        assert [r[f"t{cap}"] for r in got] == [ref(a, b, cap) for a, b in cases], cap
