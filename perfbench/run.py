"""Benchmark of the wq-spark engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json and README.md for why each was chosen):
  qc_pipeline     the command-line QC pipeline on a seeded wide sensor CSV
  catalog_corpus  iterative corpus/dedup catalog entries, sunk with ``noop``

One client: a single driver process on ``local[4]``, closed loop. The run
generates its inputs from the seed (untimed), sets the session up (JVM
launch, session start, package ship, warm-ups), then runs timed passes
until ``--seconds`` have elapsed (at least one). A pass runs the workload
once from construction through the last sink; the first pass in a process
is the one a command-line user waits for. The run checks the last pass's
outputs after the timer and prints, as its last line, one JSON object with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).

The end-to-end figures are CPU times summed over this process, the driver
JVM and the Python workers: ``cpu_s`` is the median CPU time of the passes,
``setup_s`` the CPU time of set-up. On a shared host the wall time of the
same pass swings by up to 2x from run to run and its CPU time by about a
tenth, so wall time and throughput are reported by the traced run.

A traced run alternates untraced and traced passes, starting untraced: at
least untraced (cold), traced, untraced (warm), the last one skipped if the
run is already long. The per-layer figures come from the traced passes and
the tracing overhead is the traced minus the warm untraced wall time (the
cold one's if no warm pass ran).

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "wq_data_pipeline_spark"
CORES = 4
DRIVER_MEM = "2g"  # fixed, so the heap does not follow the host's free memory
# The passes are short and overhead-bound, so the optimising JIT compiler
# spends about as much CPU as the pass itself, and how much depends on
# timing; the client compiler and the serial collector make a pass's CPU
# time repeat within a few percent.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
WORKLOADS = ("qc_pipeline", "catalog_corpus")
# a traced run adds its warm untraced pass only before this many seconds
TRACE_BUDGET_S = 90.0


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> dict[tuple[int, int], tuple[str, int]]:
    """CPU ticks (user + system, with reaped children) used so far by this
    process (``driver``), the driver JVM once it runs (``jvm``) and the
    JVM's descendants, the Python daemon and workers (``workers``), keyed by
    (pid, start time)."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited meanwhile
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        stats[int(name)] = fields
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc.pid if gw is not None else None
    out = {}
    todo = [(os.getpid(), "driver")]
    while todo:
        pid, part = todo.pop()
        part = "jvm" if pid == jvm else part
        if pid in stats:
            f = stats[pid]
            out[(pid, int(f[19]))] = (part, sum(int(x) for x in f[11:15]))  # utime stime cutime cstime
        below = "workers" if part != "driver" else "driver"
        todo += [(c, below) for c in children.get(pid, [])]
    return out


def cpu_used_s(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per part between two ``cpu_ticks`` readings. The Python
    daemon does not reap its workers, so a worker that exits takes its
    ticks along; such a worker counts nothing (workers exit when idle)."""
    used = {"driver": 0, "jvm": 0, "workers": 0}
    for key, (part, ticks) in after.items():
        used[part] += ticks - before.get(key, (part, 0))[1]
    return {k: v / _TICK for k, v in used.items()}


def _session_conf(work: str) -> dict[str, str]:
    """Run hygiene: no progress bar, every file inside the work dir, the
    fixed JVM options, and a UI status store large enough to keep every job
    of a traced pass."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTS}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _warm_up(spark) -> None:
    """JVM path (scan, shuffle + exact median, window, noop sink) and
    Python-worker path (pandas UDF importing the shipped package)."""
    from pyspark.sql import Window, functions as F

    (
        spark.range(0, 20_000, 1, CORES)
        .select((F.col("id") % 7).alias("k"), (F.col("id") * 0.5).alias("v"))
        .groupBy("k")
        .agg(F.median("v").alias("m"), F.count(F.lit(1)).alias("n"))
        .withColumn("r", F.row_number().over(Window.orderBy("k")))
        .write.format("noop").mode("overwrite").save()
    )

    def py_warm(batches):
        import wq_data_pipeline_spark.operators.detectors  # noqa: F401

        yield from batches

    spark.range(0, 64, 1, CORES).mapInPandas(py_warm, "id long").write.format("noop").mode("overwrite").save()


def set_up(work: str):
    """Session start (incl. package ship), then warm-ups. Returns the
    session and the two durations."""
    from wq_data_pipeline_spark.session import get_spark
    from wq_data_pipeline_spark.sources.testdata import ensure_session_confs

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=_session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    ensure_session_confs(spark)
    t1 = time.perf_counter()
    _warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _release(spark) -> None:
    """Drop cached tables and every persisted or checkpointed RDD so the
    next pass starts clean."""
    gc.collect()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _plan_shape(spark, dfs: list) -> dict[str, int]:
    import importlib.util

    spec = importlib.util.spec_from_file_location("plan_audit", os.path.join(ROOT, "tools", "plan_audit.py"))
    plan_audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_audit)
    total = {"exchanges": 0, "windows": 0, "python_nodes": 0}
    for df in dfs:
        plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        s = plan_audit.summarize(plan)
        total["exchanges"] += s.get("exchange", 0)
        total["windows"] += s.get("window", 0)
        total["python_nodes"] += sum(
            s.get(k, 0) for k in ("batch_eval_python", "arrow_eval_python", "map_in_pandas", "flatmap_groups")
        )
    return total


def layer_metrics(
    tr, jm: dict, wall: float, leaked: int, shape: dict[str, int], writes: bool
) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from tracing import OPERATOR_MODULES
    def ph(phase: str, key: str) -> float:
        return jm.get(phase, {}).get(key, 0.0)

    def tot(key: str) -> float:
        return sum(m.get(key, 0.0) for m in jm.values())

    z: dict[str, float] = {}
    build_s = tr.total_s["build"]
    build_job_s = ph("build", "job_s") + ph("sources", "job_s")
    exec_s = tr.total_s["sink"]
    z["sources.build_s"] = tr.total_s["sources"]
    z["sources.jobs"] = ph("sources", "jobs")
    z["sources.input_bytes"] = tot("input_bytes")
    z["plans.build_s"] = build_s
    z["plans.build_jobs"] = ph("build", "jobs") + ph("sources", "jobs")
    z["plans.build_job_s"] = build_job_s
    z["plans.build_driver_s"] = build_s - build_job_s
    z["plans.write_s"] = exec_s if writes else 0.0
    z["plans.output_bytes"] = ph("sink", "output_bytes") if writes else 0.0
    for mod in OPERATOR_MODULES:
        z[f"operators.{mod}.calls"] = tr.calls.get(f"operators.{mod}", 0)
        z[f"operators.{mod}.self_s"] = tr.self_s.get(f"operators.{mod}", 0.0)
    z["operators.persisted_rdds_leaked"] = leaked
    z["spark.plan_s"] = tr.total_s["plan"]
    z["spark.exec_s"] = exec_s
    z["spark.jobs"] = tot("jobs")
    z["spark.stages"] = tot("stages")
    z["spark.tasks"] = tot("tasks")
    z["spark.executor_run_s"] = tot("run_s")
    z["spark.executor_cpu_s"] = tot("cpu_s")
    z["spark.gc_s"] = tot("gc_s")
    z["spark.shuffle_read_bytes"] = tot("shuffle_read_bytes")
    z["spark.shuffle_write_bytes"] = tot("shuffle_write_bytes")
    z["spark.spill_bytes"] = tot("spill_bytes")
    z["spark.plan.exchanges"] = shape["exchanges"]
    z["spark.plan.windows"] = shape["windows"]
    z["spark.plan.python_nodes"] = shape["python_nodes"]
    z["spark.python_gap_s"] = tot("run_s") - tot("cpu_s")
    z["spark.core_util"] = ph("sink", "run_s") / (exec_s * CORES) if exec_s > 0 else 0.0
    z["trace.wall_s"] = wall
    z["trace.accounted_share"] = (build_s + z["spark.plan_s"] + exec_s) / wall
    return z


def run(args: argparse.Namespace, work: str):
    """One benchmark run; returns the result object and the py4j gateway."""
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import workloads

    wl = workloads.make(args.workload, work, args.seed)
    wl.prepare()  # seeded inputs, outside every timer

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()  # before the plans modules are imported
    wl.load()

    c0 = cpu_ticks()
    spark, start_s, warmup_s = set_up(work)
    setup_cpu_s = sum(cpu_used_s(c0, cpu_ticks()).values())
    if tracer:
        tracer.spark = spark

    walls, traced_walls, layers, cpus, splits = [], [], [], [], []
    attempted = failed = 0
    t_start = time.perf_counter()
    n = 0
    while True:
        n += 1
        traced = tracer is not None and n % 2 == 0
        before = _persistent_rdds(spark)
        if traced:
            tracer.begin_pass()
        c0, t0 = cpu_ticks(), time.perf_counter()
        try:
            a, f = wl.run_pass(spark, tracer if traced else None, n)
        except Exception as e:  # the pass raised: every op of it failed
            print(f"perfbench: pass {n} raised {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            a = f = wl.ops
        wall = time.perf_counter() - t0
        splits.append(cpu_used_s(c0, cpu_ticks()))
        cpus.append(sum(splits[-1].values()))
        attempted += a
        failed += f
        leaked = _persistent_rdds(spark) - before
        if traced:
            tracer.end_pass()
            shape = _plan_shape(spark, wl.outputs_for_plan_shape())
            layers.append(layer_metrics(tracer, tracer.job_metrics(), wall, leaked, shape, wl.writes))
            traced_walls.append(wall)
        else:
            walls.append(wall)
        done = time.perf_counter() - t_start >= args.seconds
        if tracer is not None:
            # untraced (cold), traced, untraced (warm); the last one only
            # while the run stays well inside its time limit
            done = done and n >= 2 and (n >= 3 or time.perf_counter() - T_PROCESS > TRACE_BUDGET_S)
        if done:
            break
        wl.release()
        _release(spark)

    from pyspark import SparkContext

    gw = SparkContext._gateway
    peak_rss = _peak_rss_mb(gw.proc.pid) + _peak_rss_mb("self")

    # a pass that raised has already failed every op; nothing to check
    problems = wl.check() if f < wl.ops else {}
    bad = sorted(k for k, v in problems.items() if v)
    for k in bad:
        print(f"perfbench: check failed for {k}: {'; '.join(problems[k])}", file=sys.stderr)
    failed += len(bad)
    wl.release()
    _release(spark)

    if tracer:
        metrics = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
        untraced = statistics.median(walls[1:] or walls)  # warm passes if any
        metrics.update({
            "wall_s": walls[0],
            "rows_per_s": wl.input_rows / walls[0],
            **{f"cpu.{k}_s": v for k, v in splits[0].items()},
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "peak_rss_mb": peak_rss,
            "trace.untraced_wall_s": untraced,
            "trace.overhead_s": statistics.median(traced_walls) - untraced,
        })
        share = metrics["trace.accounted_share"]
        if abs(share - 1.0) > 0.05:
            print(f"perfbench: build + plan + exec cover {share:.1%} of the traced wall", file=sys.stderr)
    else:
        metrics = {"cpu_s": statistics.median(cpus), "setup_s": setup_cpu_s}
    print(
        f"perfbench: {args.workload} seed={args.seed} setup={start_s:.2f}+{warmup_s:.2f}s cpu={setup_cpu_s:.2f}s "
        f"passes={[round(w, 2) for w in walls]} cpu={[round(c, 2) for c in cpus]} traced={[round(w, 2) for w in traced_walls]} "
        f"failed_ops={failed} of {attempted}",
        file=sys.stderr,
    )
    spark.stop()
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}, gw


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    entry = os.path.join(ROOT, "__spark_entry__.py")
    if not (os.path.isdir(os.path.join(ROOT, PKG)) and os.path.isfile(entry)):
        print(f"perfbench: {PKG} not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
    )
    try:
        result, gw = run(args, work)
        _stop_gateway(gw)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(result["metrics"]):
        diff = sorted(set(units) ^ set(result["metrics"]))
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {diff}")
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


def _stop_gateway(gw) -> None:
    """Shut the py4j gateway down and wait for the driver JVM to exit."""
    proc = gw.proc
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
