"""Default-tier oracle canary: a handful of catalog entries checked
against their DuckDB oracle on sf0.01 in every plain ``pytest`` run.

The full sweep (tests/test_oracle.py) stays in the slow tier; these
entries cover the QC, robust-z, tri5, availability, embedding-LSH,
SemDeDup and suffix operators, so a change there fails fast."""

from __future__ import annotations

import pytest

from tests.oracle_utils import compare
from wq_data_pipeline_spark.plans.queries import ORACLES, QUERIES

CANARY = [
    "w8_robust_z",
    "qc_accepted",
    "w13_tri5",
    "a9_availability",
    "embed_near_dup",
    "embed_lsh_ann",
    "semdedup_ann",
    "suffix_repeats",
]


@pytest.mark.parametrize("name", CANARY)
def test_canary_matches_oracle(spark, sf_dir, name):
    ok, msg = compare(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)
    assert ok, f"{name}: {msg}"
