"""The benchmark workloads: input preparation, one pass, output check.

A pass is what the timer covers. ``run_pass`` gets the tracer in traced
passes and ``None`` in untraced ones; in a traced pass each construction,
planning and sink call runs in its own job-group span (``Tracer.phase``),
and planning is forced separately so that it can be timed.
"""

from __future__ import annotations

import os
import random
import sys
from contextlib import nullcontext

import gen

QC_STATIONS = 1
QC_DAYS = 16

CATALOG_CORPUS = ("dedup_clusters", "incremental_dedup", "pagerank_purchases")
# tables each corpus entry reads
ENTRY_TABLES = {
    "dedup_clusters": ("documents",),
    "incremental_dedup": ("documents",),
    "pagerank_purchases": ("orders", "lineitem"),
}
DOCUMENTS, ORDERS = 500, 15_000


class Workload:
    """Base: ``prepare`` makes the seeded inputs (untimed), ``run_pass``
    is one timed pass, ``outputs_for_plan_shape`` lists its output
    DataFrames, ``check`` verifies the last pass's outputs and ``release``
    drops them."""

    name = ""
    writes = False  # whether the sinks write files

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.seed = seed

    def load(self) -> None:
        """Import what the pass calls (after any tracing wrappers)."""


class QCPipeline(Workload):
    """read_wide_csv -> melt_wide -> run_qc_pipeline(full suite) ->
    write_outputs, as the command-line pipeline runs it."""

    name = "qc_pipeline"
    writes = True
    ops = 5  # the sinks of write_outputs

    def prepare(self) -> None:
        self.csv = os.path.join(self.work_dir, "sensors.csv")
        self.manifest = gen.sensor_csv(self.csv, self.seed, QC_STATIONS, QC_DAYS)
        self.input_rows = self.manifest["input_rows"] * len(self.manifest["variables"])
        self.out = None

    def run_pass(self, spark, tr, n: int) -> tuple[int, int]:
        from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, run_qc_pipeline, write_outputs
        from wq_data_pipeline_spark.sources.csv_source import melt_wide, read_wide_csv

        step = tr.phase if tr else _untraced
        self.out_dir = os.path.join(self.work_dir, f"out{n}")
        with step("build", "ingest"):
            wide = read_wide_csv(spark, self.csv)
            readings = melt_wide(wide, self.manifest["variables"], station_col="station")
        with step("build", "run_qc_pipeline"):
            cfg = QCConfig(full_suite=True, range_map=self.manifest["range_map"])
            self.out = run_qc_pipeline(readings, cfg)
        if tr:
            for name in ("timeseries_wide", "timeseries", "events", "seasonal", "meta"):
                with step("plan", name):
                    getattr(self.out, name)._jdf.queryExecution().executedPlan()
        with tr.sink_groups() if tr else nullcontext():
            write_outputs(self.out, self.out_dir)
        return self.ops, 0

    def outputs_for_plan_shape(self) -> list:
        o = self.out
        return [o.timeseries_wide, o.timeseries, o.events, o.seasonal, o.meta] if o else []

    def check(self) -> dict[str, list[str]]:
        from checks import check_qc_outputs

        return check_qc_outputs(self.out_dir, self.manifest)

    def release(self) -> None:
        self.out = None


class CatalogCorpus(Workload):
    """The corpus catalog entries built and sunk with ``noop``, in a seeded
    order."""

    name = "catalog_corpus"

    def __init__(self, work_dir: str, seed: int) -> None:
        super().__init__(work_dir, seed)
        self.entries = list(CATALOG_CORPUS)
        random.Random(seed).shuffle(self.entries)
        self.ops = len(self.entries)

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.work_dir, "tables")
        rows = gen.corpus_tables(self.sf_dir, self.seed, DOCUMENTS, ORDERS)
        # input rows of a pass: the rows of every table an entry reads
        self.input_rows = sum(rows[t] for e in self.entries for t in ENTRY_TABLES[e])
        self.dfs: dict = {}

    def load(self) -> None:
        """Import the catalog (after any tracing wrappers are in place)."""
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def run_pass(self, spark, tr, n: int) -> tuple[int, int]:
        step = tr.phase if tr else _untraced
        failed = 0
        self.dfs = {}
        for name in self.entries:
            try:
                with step("build", name):
                    df = self.queries[name](spark, self.sf_dir)
                if tr:
                    with step("plan", name):
                        df._jdf.queryExecution().executedPlan()
                with step("sink", name):
                    df.write.format("noop").mode("overwrite").save()
                self.dfs[name] = df
            except Exception as e:  # an entry that raises is a failed op; keep going
                print(f"perfbench: {name} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
                failed += 1
        return len(self.entries), failed

    def outputs_for_plan_shape(self) -> list:
        return list(self.dfs.values())

    def check(self) -> dict[str, list[str]]:
        from oracle_utils import compare

        out = {}
        for name, df in sorted(self.dfs.items()):
            try:
                ok, msg = compare(df, self.oracles[name], self.sf_dir)
                out[name] = [] if ok else [msg]
            except Exception as e:
                out[name] = [f"check raised {type(e).__name__}: {str(e)[:200]}"]
        return out

    def release(self) -> None:
        self.dfs = {}


def _untraced(phase: str, name: str):
    return nullcontext()


def make(name: str, work_dir: str, seed: int) -> Workload:
    if name == "qc_pipeline":
        return QCPipeline(work_dir, seed)
    if name == "catalog_corpus":
        return CatalogCorpus(work_dir, seed)
    raise ValueError(name)
