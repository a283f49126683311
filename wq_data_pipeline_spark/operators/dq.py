"""Declarative data-quality constraint suite (Deequ-style).

A check suite for one table compiles to a SINGLE aggregate over a
single scan — every constraint is a conditional count, so the whole
suite is one map-side-combinable hash agg regardless of how many
checks it carries (the Deequ "analyzer batching" insight). Nothing
here collects to the driver; the result is one row per check.

Reference parity: the reference pipeline hard-codes its QC
plausibility bounds per variable (ufz_water_qc_pipeline.py's range
masks); this operator generalizes the same bound checks into a
declarative, table-agnostic suite that also covers the corpus-side
tables.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Check:
    """One named constraint: ``violation`` is a boolean Column that is
    True for rows BREAKING the constraint (nulls count as breaking
    for not_null, as passing elsewhere — stated per constructor)."""

    name: str
    violation: Column


def not_null(col: str) -> Check:
    return Check(f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo: float, hi: float) -> Check:
    """Non-null values must lie in [lo, hi]; nulls pass (compose with
    not_null to also forbid them)."""
    return Check(
        f"range({col})",
        F.col(col).isNotNull() & ~F.col(col).between(lo, hi),
    )


def in_set(col: str, values: tuple) -> Check:
    return Check(
        f"in_set({col})",
        F.col(col).isNotNull() & ~F.col(col).isin(*values),
    )


def non_negative(col: str) -> Check:
    return Check(
        f"non_negative({col})", F.col(col).isNotNull() & (F.col(col) < 0)
    )


def run_suite(df: DataFrame, table: str, checks: list[Check]) -> DataFrame:
    """One row per check: (table_name, check_name, n_rows,
    n_violations, passed). One scan, one agg, no shuffle beyond the
    final single-group combine."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(checks):
        aggs.append(
            F.sum(F.when(c.violation, 1).otherwise(0)).cast("long").alias(f"_v{i}")
        )
    row = df.agg(*aggs)
    out = F.array(
        *[
            F.struct(
                F.lit(c.name).alias("check_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_v{i}").alias("n_violations"),
                (F.col(f"_v{i}") == 0).alias("passed"),
            )
            for i, c in enumerate(checks)
        ]
    )
    return (
        row.select(F.explode(out).alias("_c"))
        .select(
            F.lit(table).alias("table_name"),
            F.col("_c.check_name"),
            F.col("_c.n_rows"),
            F.col("_c.n_violations"),
            F.col("_c.passed"),
        )
    )


def uniqueness(df: DataFrame, table: str, cols: list[str]) -> DataFrame:
    """Key-uniqueness as a separate shape (needs a groupBy): one row
    (table, check, n_rows, n_violations=rows in duplicated keys,
    passed)."""
    dup = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") > 1)
        .agg(F.coalesce(F.sum("_k"), F.lit(0)).cast("long").alias("_dups"))
    )
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    return total.join(dup).select(
        F.lit(table).alias("table_name"),
        F.lit(f"unique({','.join(cols)})").alias("check_name"),
        F.col("_n").alias("n_rows"),
        F.col("_dups").alias("n_violations"),
        (F.col("_dups") == 0).alias("passed"),
    )
