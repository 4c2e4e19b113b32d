#!/usr/bin/env python3
"""Benchmark of the turns pipeline and the resumable feature job.

    python3 perfbench/run.py --workload pipeline_lean --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json for why each
exists):

  pipeline_lean  ``run_pipeline`` with basic_metrics + text_length, the
                 per-turn table landed bucketed, the enriched output forced
                 through the noop sink.
  feature_job    ``jobs/run_features.py`` run in-process against this
                 process's session: default modules, ``--buckets 2``.

Before the measured JVM starts, the input is landed once per (seed, size)
by ``inputs.py``, in a Spark session of its own. With ``--trace 0`` the run
times one operation, a pipeline run or a job run, in a fresh JVM, as
``spark-submit`` runs the job, and prints the end-to-end metrics;
``--seconds`` is not used, as the cold operation takes longer than the
benchmark's ``run_seconds``. Its JVM CPU, Python-worker
CPU, GC and JIT seconds, and the host's idle, I/O-wait and steal seconds,
are printed with its wall time. The checks run after it.
With ``--trace 1`` the run warms up (one pipeline run, or one whole job
run), times one more operation untraced, then calls each layer once, in
pipeline order, inside spans, with the Spark event log on, and prints
per-layer counters; spans and counters also go to one JSON
file under ``perfbench/.work/``. The last stdout line is the result JSON.

The run pins its own environment: the repository on PYTHONPATH (Python
workers import the engine from there), a 2g maximum driver heap, Spark's local
dirs and every scratch file under ``perfbench/.work/``, and
``local[nproc]``. Figures from ``bench.py``'s 32-core ``BENCH_r0*.json``
files are not comparable with this benchmark's.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
MB = 1024 * 1024

# Input sizes are in turns (inputs.py keeps them fixed across seeds). On a
# 4-core host a cold pipeline run costs ~20 s and a cold job ~33 s, mostly
# JIT and per-bucket fixed cost, so inputs stay small and buckets few, to
# keep one run, landing, JVM start and checks included, near a minute.
# Both workloads take the same size, so they share a landed input.
WORKLOADS = {
    "pipeline_lean": {"turns": 12_000},
    "feature_job": {"turns": 12_000, "buckets": 2},
}

END_TO_END = {
    "wall_s": "s",
    "turns_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
}

SNAPSHOT_CHILDREN = ("aggregates", "distribution", "sessionize.timing", "transitions")
LAYERS = (
    "salted_windows",
    "pipeline.materialize",
    "registry.snapshot",
    *(f"registry.snapshot.{c}" for c in SNAPSHOT_CHILDREN),
    "asof",
    "checkpoint",
    "lineage",
)
COUNTERS = {
    "wall_s": "s",
    "self_s": "s",
    "busy_core_s": "core-s",
    "tasks": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "slot_occupancy": "ratio",
}
LAYER_EXTRAS = {
    "pipeline.materialize.output_mb": "MB",
    "registry.snapshot.plan_scans": "count",
    "registry.snapshot.plan_windows": "count",
    "registry.snapshot.plan_exchanges": "count",
    "registry.snapshot.distribution.arrow_mb": "MB",
    "checkpoint.bucket_s.p50": "s",
    "checkpoint.bucket_s.max": "s",
    "checkpoint.spark_jobs": "count",
    "checkpoint.input_scan_amplification": "ratio",
    "pipeline.unattributed_s": "s",
    "trace.overhead_s": "s",
}
PER_LAYER = {
    **{f"{layer}.{c}": unit for layer in LAYERS for c, unit in COUNTERS.items()},
    **LAYER_EXTRAS,
}

REQUIRED = (
    "network_feature_extractor_spark",
    "jobs/run_features.py",
    "tests/oracle_pandas.py",
    "BENCH/occupancy.py",
)


def pin_environment() -> None:
    for d in ("spark-local", "tmp", "warehouse", "inputs", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata file
    sys.path.insert(0, ROOT)


def start_spark(event_log_dir: str | None = None):
    from network_feature_extractor_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the heap starts small and grows to the 2g maximum as the program
        # needs; a fixed young generation makes that growth follow retained
        # data, not G1's pause-time sizing, so peak RSS can show it
        "spark.driver.extraJavaOptions": "-Xmn256m -XX:-UsePerfData "
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def jvm_pid() -> int:
    """The Spark JVM, which the launch scripts exec in the gateway process."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() != "java":
            raise RuntimeError(f"gateway process {pid} is not the JVM")
    return pid


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def _cpu_ticks(pid: str, reaped_children: bool) -> int:
    """utime + stime of ``pid``, plus those of its exited children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process has exited
        return 0
    return sum(int(x) for x in fields[11:15 if reaped_children else 13])


def _descendants(pid: int) -> list[str]:
    children: dict[str, list[str]] = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                children.setdefault(f.read().rsplit(")", 1)[1].split()[1], []).append(p)
        except OSError:
            pass
    found, todo = [], list(children.get(str(pid), []))
    while todo:
        found.append(todo.pop())
        todo += children.get(found[-1], [])
    return found


def used_seconds(spark, pid: int) -> dict:
    """CPU seconds so far of the JVM and of its Python workers, the JVM's
    GC and JIT-compile seconds, and the host's idle, I/O-wait and steal
    seconds, so a slow run shows whether it did more work, waited, or got
    less of the CPU."""
    tick = os.sysconf("SC_CLK_TCK")
    jvm = _cpu_ticks(str(pid), reaped_children=False)
    workers = _cpu_ticks(str(pid), reaped_children=True) - jvm + sum(
        _cpu_ticks(p, reaped_children=True) for p in _descendants(pid)
    )
    with open("/proc/stat") as f:
        host = [int(x) / tick for x in f.readline().split()[1:]]
    mx = spark._jvm.java.lang.management.ManagementFactory
    return {
        "jvm": jvm / tick,
        "py": workers / tick,
        "gc": sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()) / 1000,
        "jit": mx.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "idle": host[3], "iowait": host[4], "steal": host[7],
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited.
    Python workers exit when the JVM closes their stdin."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)


def dir_mb(*paths: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for p in paths
        for d, _, names in os.walk(p)
        for n in names
    ) / MB


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def lean_config():
    from network_feature_extractor_spark.config import EngineConfig

    return EngineConfig(
        asof_hot_threshold=100_000, enabled_features=("basic_metrics", "text_length")
    )


def load_job():
    spec = importlib.util.spec_from_file_location(
        "run_features", os.path.join(ROOT, "jobs", "run_features.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def job_config(buckets: int):
    """The EngineConfig ``jobs/run_features.py`` builds from its default flags."""
    from network_feature_extractor_spark.config import EngineConfig

    return EngineConfig(checkpoint_buckets=buckets)


class Workload:
    """A workload's session, landed input and scratch directory, and its
    operation: a pipeline run or a job run."""

    def __init__(self, name: str, meta: dict, seed: int, work: str):
        self.name, self.meta, self.seed, self.work = name, meta, seed, work
        self.spec = WORKLOADS[name]
        self.job_main = load_job() if name == "feature_job" else None
        self.spark = None

    # -- pipeline_lean ------------------------------------------------------

    def pipeline_run(self):
        """``run_pipeline``, which lands the per-turn table; the enriched
        output it returns is lazy."""
        from network_feature_extractor_spark.plans.pipeline import run_pipeline

        turns = self.spark.read.parquet(self.meta["path"])
        enriched, _ = run_pipeline(
            turns, lean_config(), materialize_dir=os.path.join(self.work, "per_turn")
        )
        return enriched

    def pipeline_op(self):
        enriched = self.pipeline_run()
        force(enriched)
        return enriched

    # -- feature_job --------------------------------------------------------

    def job_op(self, out_dir: str, buckets: int) -> None:
        """The job's ``main()``; its summary line stays off this stdout,
        whose last line must be the result."""
        sys.argv = [
            "run_features.py", "--input", self.meta["path"], "--output", out_dir,
            "--buckets", str(buckets),
        ]
        with contextlib.redirect_stdout(io.StringIO()):
            self.job_main()


def timed(w: Workload, op):
    """Run ``op`` once, in a JVM that has run nothing else, as
    ``spark-submit`` runs the job. Returns its result, its wall time, the
    seconds it used (see ``used_seconds``) and the JVM's peak RSS right
    after it, before any check caches or collects. A warm second run would
    be another quantity, and on a shared 4-core host a much noisier one:
    a warm run is latency-bound, so a steal episode slows it 1.5-2x, where
    it slows a CPU-bound cold run by a sixth."""
    pid = jvm_pid()
    before = used_seconds(w.spark, pid)
    t0 = time.perf_counter()
    result = op()
    wall = time.perf_counter() - t0
    after = used_seconds(w.spark, pid)
    used = {k: round(after[k] - before[k], 2) for k in after}
    return result, {"wall": wall, "used": used, "peak_rss_mb": peak_rss_mb(pid)}


def measure_pipeline(w: Workload):
    import checks

    enriched, res = timed(w, w.pipeline_op)
    res["output_mb"] = dir_mb(os.path.join(w.work, "per_turn"))
    enriched.persist()  # computed once for both checks
    summary = checks.summarize(enriched)
    problems = checks.against_oracle(enriched, w.meta, checks.sample_convs(w.meta, w.seed))
    enriched.unpersist()
    # a second run over the same input gives the same output; a mismatch
    # cannot say which of the two runs is wrong, so it counts once
    again = checks.summarize(w.pipeline_run())["fingerprint"]
    problems += checks.pipeline_output(summary, again, w.meta)
    return res, 2, problems, int(bool(problems))


def measure_job(w: Workload):
    import checks

    buckets = w.spec["buckets"]
    out = os.path.join(w.work, "job")
    _, res = timed(w, lambda: w.job_op(out, buckets))
    res["output_mb"] = dir_mb(os.path.join(out, "per_turn"), os.path.join(out, "_lineage"))
    first = checks.read_manifest(out)
    problems = checks.job_output(first, buckets, w.meta)

    # a rerun over a finished output processes zero buckets
    files = checks.bucket_files(out)
    rerun = []
    try:
        w.job_op(out, buckets)
        if checks.read_manifest(out) != first or checks.bucket_files(out) != files:
            rerun.append("resume: a rerun over a finished output rewrote a bucket")
    except Exception:
        rerun.append(traceback.format_exc())

    # dropping one manifest entry rebuilds exactly that bucket, same checksum
    rebuild = []
    drop = str(buckets - 1)
    mpath = os.path.join(out, "per_turn", "_manifest.json")
    partial = {k: v for k, v in first.items() if k != drop}
    with open(mpath, "w") as f:
        json.dump(partial, f)
    try:
        w.job_op(out, buckets)
        again = checks.read_manifest(out)
        if {k: v for k, v in again.items() if k != drop} != partial:
            rebuild.append("resume: rebuilding one bucket touched another")
        if (again[drop]["rows"], again[drop]["checksum"]) != (
            first[drop]["rows"], first[drop]["checksum"]
        ):
            rebuild.append(f"resume: bucket {drop} rebuilt with other rows or checksum")
    except Exception:
        rebuild.append(traceback.format_exc())

    failed = bool(problems) + bool(rerun) + bool(rebuild)
    return res, 3, problems + rerun + rebuild, failed


def warm_up(w: Workload) -> None:
    """The traced run's warm-up pass. Pipeline: one run over the full
    input, fingerprinted instead of sent to the noop sink. Job: one whole
    run, its per-turn output fingerprinted. The traced outputs must match
    the fingerprint."""
    import checks

    if w.name == "pipeline_lean":
        w.warm_fingerprint = checks.summarize(w.pipeline_run())["fingerprint"]
    else:
        out = os.path.join(w.work, "warmup_job")
        w.job_op(out, w.spec["buckets"])
        per_turn = w.spark.read.parquet(os.path.join(out, "per_turn")).drop("bucket")
        w.warm_fingerprint = checks.summarize(per_turn)["fingerprint"]


def plan_counts(df) -> dict:
    """Node counts of the physical plan Spark picks before running it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"^[\s:+\-|]*\*?(?:\(\d+\) )?([A-Za-z]+)", plan, re.M)
    return {
        "plan_scans": sum(n in ("FileScan", "Scan", "BatchScan") for n in nodes),
        "plan_windows": sum(n == "Window" for n in nodes),
        "plan_exchanges": sum(n == "Exchange" for n in nodes),
    }


def trace_layers(w: Workload, tracer, cfg) -> dict:
    """Each layer once, in pipeline order; each output is landed where the
    next layer reads it. Returns what the checks and extras need."""
    from pyspark.sql import functions as F

    from network_feature_extractor_spark.operators import aggregates, asof
    from network_feature_extractor_spark.operators.salted_windows import (
        per_turn_features_salted,
    )
    from network_feature_extractor_spark.plans import checkpoint, lineage, registry
    from network_feature_extractor_spark.plans.pipeline import (
        _materialize_per_turn,
        run_pipeline,
        session_snapshot_table,
    )

    spark, t = w.spark, os.path.join(w.work, "trace")
    turns = spark.read.parquet(w.meta["path"])
    children = {
        "aggregates": lambda pt, c: aggregates.session_features(pt),
        "distribution": registry.MODULES["text_length"],
        "sessionize.timing": registry.MODULES["timing_metrics"],
        "transitions": registry.MODULES["transition_analysis"],
    }
    found: dict = {}
    with tracer.span("pipeline"):
        with tracer.span("salted_windows"):
            pt = per_turn_features_salted(
                turns, cfg, hot_threshold=cfg.window_hot_threshold,
                block_rows=cfg.window_block_rows,
            ).withColumn("text_len", F.length("text").cast("double"))
            pt.write.mode("overwrite").parquet(os.path.join(t, "windows"))
        with tracer.span("pipeline.materialize"):
            mat = _materialize_per_turn(
                spark.read.parquet(os.path.join(t, "windows")), os.path.join(t, "per_turn"), cfg
            )
        found["output_mb"] = dir_mb(os.path.join(t, "per_turn"))
        snap_in = mat.select("conv_id", "session_id", "role", "text_len", "tool", "ts", "turn_idx")
        if getattr(mat, "_nfe_assume_clustered", False):  # as run_pipeline passes it on
            snap_in._nfe_assume_clustered = True
        with tracer.span("registry.snapshot"):
            for child, module in children.items():
                with tracer.span(f"registry.snapshot.{child}"):
                    force(module(snap_in, cfg))
            snap = session_snapshot_table(snap_in, cfg)
            found.update(plan_counts(snap))
            snap.write.mode("overwrite").parquet(os.path.join(t, "snapshot"))
        with tracer.span("asof"):
            snap = spark.read.parquet(os.path.join(t, "snapshot"))
            snap_cols = [c for c in snap.columns if c not in ("conv_id", "session_id", "snap_ts")]
            attach = snap.select(
                "conv_id",
                F.timestamp_seconds(F.col("snap_ts")).alias("snap_ts"),
                *[F.col(c).alias(f"prev_{c}") for c in snap_cols],
            )
            enriched = asof.asof_join_salted(
                mat, attach, key="conv_id", left_ts="ts", right_ts="snap_ts", strict=True,
                hot_threshold=cfg.asof_hot_threshold, block_seconds=cfg.asof_block_seconds,
            )
            force(enriched)
    found["enriched"] = enriched

    job = os.path.join(t, "job")
    shutil.rmtree(job, ignore_errors=True)
    with tracer.span("job"):
        with tracer.span("checkpoint"):
            found["manifest"] = checkpoint.run_resumable(
                turns, os.path.join(job, "per_turn"), lambda sub: run_pipeline(sub, cfg)[0],
                key="conv_id", n_buckets=WORKLOADS["feature_job"]["buckets"],
                checksum_col="conv_id",
            )
        with tracer.span("lineage"):
            lineage.partition_metrics(turns).write.mode("overwrite").parquet(
                os.path.join(job, "_lineage")
            )
    return found


def run_trace(w: Workload, untraced_s: float, seed: int):
    """Restart the session with the event log on, trace the layers, and
    turn spans plus event-log counters into the per-layer metrics."""
    import checks
    import spans

    cfg = lean_config() if w.name == "pipeline_lean" else job_config(w.spec["buckets"])
    run_id = f"{w.name}-s{seed}-{int(time.time())}"
    log_dir = os.path.join(WORK, "eventlog", run_id)
    os.makedirs(log_dir)
    w.spark.stop()
    w.spark = start_spark(event_log_dir=log_dir)
    tracer = spans.Tracer(w.spark.sparkContext, run_id)
    found = trace_layers(w, tracer, cfg)

    buckets = WORKLOADS["feature_job"]["buckets"]
    # the layers called one by one must give the untraced program's output
    summary = checks.summarize(found["enriched"])
    pipeline_problems = checks.pipeline_output(summary, w.warm_fingerprint, w.meta)
    job_problems = checks.job_output(found["manifest"], buckets, w.meta)
    per_turn = w.spark.read.parquet(os.path.join(w.work, "trace", "job", "per_turn"))
    summary = checks.summarize(per_turn.drop("bucket"))
    job_problems += checks.pipeline_output(summary, w.warm_fingerprint, w.meta)
    problems = pipeline_problems + job_problems
    failed = bool(pipeline_problems) + bool(job_problems)
    w.spark.stop()  # flushes the event log

    counters = spans.span_counters(tracer, spans.read_event_log(log_dir), CORES)
    metrics = {f"{layer}.{c}": counters[layer][c] for layer in LAYERS for c in COUNTERS}
    # the traced operation's wall, without the modules forced alone, which
    # the operation does not run; what its layers' self times leave is
    # driver work between the layers
    if w.name == "pipeline_lean":
        op_layers = ["salted_windows", "pipeline.materialize", "registry.snapshot", "asof"]
        traced = tracer.wall("pipeline") - sum(
            tracer.wall(f"registry.snapshot.{c}") for c in SNAPSHOT_CHILDREN
        )
    else:
        op_layers = ["checkpoint", "lineage"]
        traced = tracer.wall("job")
    bucket_s = [v["seconds"] for v in found["manifest"].values()]
    metrics.update(
        {
            "pipeline.materialize.output_mb": found["output_mb"],
            "registry.snapshot.plan_scans": found["plan_scans"],
            "registry.snapshot.plan_windows": found["plan_windows"],
            "registry.snapshot.plan_exchanges": found["plan_exchanges"],
            "registry.snapshot.distribution.arrow_mb":
                counters["registry.snapshot.distribution"]["arrow_mb"],
            "checkpoint.bucket_s.p50": statistics.median(bucket_s),
            "checkpoint.bucket_s.max": max(bucket_s),
            "checkpoint.spark_jobs": counters["checkpoint"]["spark_jobs"],
            "checkpoint.input_scan_amplification":
                counters["checkpoint"]["input_mb"] / (w.meta["bytes"] / MB),
            "pipeline.unattributed_s":
                traced - sum(counters[n]["self_s"] for n in op_layers),
            "trace.overhead_s": traced - untraced_s,
        }
    )
    out = os.path.join(WORK, f"trace-{run_id}.json")
    with open(out, "w") as f:
        json.dump(
            {"run_id": run_id, "workload": w.name, "seed": seed, "cores": CORES,
             "event_log": log_dir, "untraced_wall_s": untraced_s,
             "spans": tracer.spans, "counters": counters, "metrics": metrics},
            f, indent=1,
        )
    print(f"trace written to {os.path.relpath(out, ROOT)}", file=sys.stderr)
    return metrics, problems, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, help="input size override (self-test)")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    pin_environment()
    import inputs

    spec = WORKLOADS[args.workload]
    t_land = time.perf_counter()
    land_args = (os.path.join(WORK, "inputs"), args.seed, args.turns or spec["turns"])
    meta = inputs.landed(*land_args)
    if meta is None:  # in a JVM of its own, so none of it warms the measured one
        spark = start_spark()
        try:
            meta = inputs.land(spark, *land_args)
        finally:
            stop_spark(spark)
    work = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    w = Workload(args.workload, meta, args.seed, work)
    t0 = time.perf_counter()
    w.spark = start_spark()
    try:
        session_s = time.perf_counter() - t0
        if args.trace:
            warm_up(w)
        setup_s = time.perf_counter() - t0
        t_setup = time.perf_counter()
        if args.trace:
            op = w.pipeline_op if w.name == "pipeline_lean" else (
                lambda: w.job_op(os.path.join(work, "untraced_job"), spec["buckets"])
            )
            t1 = time.perf_counter()
            op()
            metrics, problems, failed = run_trace(w, time.perf_counter() - t1, args.seed)
            units = PER_LAYER
            attempted = 3  # the untraced operation, the traced pipeline, the traced job
        else:
            measure = measure_pipeline if w.name == "pipeline_lean" else measure_job
            res, attempted, problems, failed = measure(w)
            metrics = {
                "wall_s": res["wall"],
                "turns_per_s": meta["turns"] / res["wall"],
                "setup_s": setup_s,
                "peak_rss_mb": res["peak_rss_mb"],
                "output_mb": res["output_mb"],
            }
            units = END_TO_END
            print(f"timed run: wall_s={res['wall']:.3f} used_s={res['used']}")
    finally:
        t_stop = time.perf_counter()
        stop_spark(w.spark)
    print(f"phases_s: land={t0 - t_land:.1f} session={session_s:.1f} "
          f"warm_up={setup_s - session_s:.1f} measure_and_check={t_stop - t_setup:.1f} "
          f"stop={time.perf_counter() - t_stop:.1f}")

    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(f"workload={args.workload} seed={args.seed} turns={meta['turns']} cores={CORES} "
          f"driver_memory={DRIVER_MEMORY}")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(f"  failed_frac = {failed / attempted:.6g} fraction ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
