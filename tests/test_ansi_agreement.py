"""Code paths that must agree with ANSI mode on and off (Spark 4.1
turns ANSI on by default; ``session.py`` does not override it)."""

from __future__ import annotations

import pytest


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_semdedup_within_mixed_widths(spark, ansi):
    """The unrolled pair dot (``dim`` given) yields a NULL sim for a
    vector narrower than ``dim``, like the ``zip_with`` path, instead
    of an ANSI index error."""
    from wq_data_pipeline_spark.operators.similarity import semdedup_within

    assigned = spark.createDataFrame(
        [(1, [1, 2, 3], 0), (2, [1, 2, 3], 0), (3, [1, 2], 0), (4, [2, 4, 6], 0)],
        "vec_id BIGINT, q ARRAY<BIGINT>, cluster_id INT",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        unrolled = sorted(semdedup_within(assigned, tau=0.97, dim=3).collect())
        folded = sorted(semdedup_within(assigned, tau=0.97).collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert unrolled == folded
    dup = {r.vec_id: (r.is_dup, r.n_dup_earlier) for r in unrolled}
    assert dup == {1: (False, 0), 2: (True, 1), 3: (False, 0), 4: (True, 2)}
