"""Per-layer tracing from outside the library.

Spans come from wrappers the benchmark installs on the public functions of
the engine's ``operators`` and ``sources`` modules, and from the
benchmark's own calls (construction, planning, sinks). Every span that can
start Spark jobs runs in its own job group; after a pass the job and stage
metrics of those groups are read from the driver's status REST API
(``/api/v1/applications/<id>/{jobs,stages}``).

Nothing here runs inside the timed region of an untraced pass: the
wrappers call straight through while the tracer is inactive.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

OPERATOR_MODULES = (
    "clean", "detectors", "stats", "sentem", "wrtds", "windows",
    "dedup", "similarity", "suffix", "text", "pinning",
)
SOURCE_MODULES = ("csv_source", "testdata")
PKG = "wq_data_pipeline_spark"


class Tracer:
    """Collects spans while ``active``; one instance per benchmark run."""

    def __init__(self) -> None:
        self.active = False
        self.spark = None
        self._pass = 0
        self._stack: list[list[float]] = []  # child time per open span
        self._open: dict[str, int] = defaultdict(int)  # open spans per label
        self.reset()

    def reset(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.groups: dict[str, list[str]] = defaultdict(list)  # phase -> job groups

    # -- wrappers on library functions ------------------------------------
    def install(self) -> None:
        """Wrap every public function of the operator and source modules,
        and rebind every ``from ... import`` copy already held by a loaded
        module of the package. Call before importing ``plans``."""
        import importlib

        originals: dict[int, object] = {}
        for layer, names in (("operators", OPERATOR_MODULES), ("sources", SOURCE_MODULES)):
            for mod_name in names:
                mod = importlib.import_module(f"{PKG}.{layer}.{mod_name}")
                label = f"operators.{mod_name}" if layer == "operators" else "sources"
                for name, fn in list(vars(mod).items()):
                    if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                        continue
                    wrapped = self._wrap(label, fn)
                    originals[id(fn)] = wrapped
                    setattr(mod, name, wrapped)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG + "."):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in originals and inspect.isfunction(obj):
                    setattr(mod, name, originals[id(obj)])

    def _wrap(self, label: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            # source reads may run jobs (schema inference): own job group
            ctx = tracer.phase("sources", fn.__name__) if label == "sources" else tracer.span(label)
            with ctx:
                return fn(*args, **kwargs)

        return wrapper

    @contextmanager
    def span(self, label: str):
        """Time a call. Its self time excludes nested spans; its total time
        counts only when no span of the same label encloses it."""
        self._stack.append([0.0])
        self._open[label] += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            child = self._stack.pop()[0]
            self._open[label] -= 1
            if self._stack:
                self._stack[-1][0] += dur
            self.calls[label] += 1
            self.self_s[label] += dur - child
            if not self._open[label]:
                self.total_s[label] += dur

    # -- job groups ----------------------------------------------------------
    @contextmanager
    def phase(self, phase: str, name: str):
        """Run a step (build, plan, sink or a source read) in its own job
        group and record its wall time under ``phase``; the enclosing job
        group is restored afterwards."""
        group = f"pb{self._pass}:{phase}:{name}:{len(self.groups[phase])}"
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        self.groups[phase].append(group)
        try:
            with self.span(phase):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)

    def begin_pass(self) -> None:
        self._pass += 1
        self.reset()
        self.active = True

    def end_pass(self) -> None:
        self.active = False

    @contextmanager
    def sink_groups(self):
        """Give every DataFrameWriter sink call made inside the block its own
        job group (``write_outputs`` issues several)."""
        from pyspark.sql.readwriter import DataFrameWriter

        saved = {m: getattr(DataFrameWriter, m) for m in ("parquet", "csv")}
        tracer = self

        def make(orig):
            def sink(writer, path, *args, **kwargs):
                with tracer.phase("sink", os.path.basename(path.rstrip("/"))):
                    return orig(writer, path, *args, **kwargs)

            return sink

        for m, orig in saved.items():
            setattr(DataFrameWriter, m, make(orig))
        try:
            yield
        finally:
            for m, orig in saved.items():
                setattr(DataFrameWriter, m, orig)

    # -- status REST API -------------------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def job_metrics(self) -> dict[str, dict[str, float]]:
        """Per phase: jobs, job wall time (union of job intervals), and the
        summed metrics of the stages those jobs ran."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        want = {g: set(tracker.getJobIdsForGroup(g)) for gs in self.groups.values() for g in gs}
        all_ids = set().union(*want.values()) if want else set()
        deadline = time.monotonic() + 30
        while True:
            jobs = {j["jobId"]: j for j in self._rest("jobs") if j["jobId"] in all_ids}
            done = all(i in jobs and jobs[i]["status"] != "RUNNING" for i in all_ids)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for s in self._rest("stages"):
            if s["status"] == "COMPLETE":
                stages[(s["stageId"], s["attemptId"])] = s
        by_stage: dict[int, list[dict]] = defaultdict(list)
        for (sid, _), s in stages.items():
            by_stage[sid].append(s)
        out = {}
        for phase, groups in self.groups.items():
            ids = set().union(*(want[g] for g in groups)) if groups else set()
            js = [jobs[i] for i in ids if i in jobs]
            m = defaultdict(float)
            m["jobs"] = len(js)
            m["job_s"] = _union_seconds(js)
            seen = set()
            for j in js:
                for sid in j["stageIds"]:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    for s in by_stage.get(sid, ()):
                        m["stages"] += 1
                        m["tasks"] += s["numCompleteTasks"]
                        m["run_s"] += s["executorRunTime"] / 1e3
                        m["cpu_s"] += s["executorCpuTime"] / 1e9
                        m["gc_s"] += s["jvmGcTime"] / 1e3
                        m["input_bytes"] += s["inputBytes"]
                        m["output_bytes"] += s["outputBytes"]
                        m["shuffle_read_bytes"] += s["shuffleReadBytes"]
                        m["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                        m["spill_bytes"] += s["diskBytesSpilled"]
            out[phase] = dict(m)
        return out


def _ts(s: str) -> float:
    from datetime import datetime

    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_seconds(jobs: list[dict]) -> float:
    spans = sorted(
        (_ts(j["submissionTime"]), _ts(j["completionTime"]))
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
