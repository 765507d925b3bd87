"""What every workload shares: the run context, the Spark session, op
timing and the end-to-end summary."""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import SparkMetrics, SparkRest, Tracer


MODULES = (
    "curation", "training", "textops", "multimodal", "windows",
    "relational", "dedup", "similarity", "emailpipe", "linalg",
)
# every per-layer metric and its unit; a traced run reports all of them,
# zero where its workload does not touch the layer
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cpu_s_per_op": "s",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "session.start_s": "s",
    "session.jvm_heap_used_mb": "MiB",
    "registry.build_s": "s",
    **{f"operators.{m}.busy_s": "s" for m in MODULES},
    "tables.scan_s": "s",
    "tables.scan_rows": "count",
    "exchange.shuffle_bytes": "bytes",
    "exchange.shuffle_records": "count",
    "kernel.codegen_s": "s",
    "kernel.python_s": "s",
    "aggregate.build_s": "s",
    "sort.sort_s": "s",
    "retrieval_index.land_s": "s",
    "retrieval_index.fold_s": "s",
    "retrieval_index.folds": "count",
    "retrieval_index.serve_s": "s",
    "retrieval_index.tail_batches": "count",
    "store.files_per_drop": "count",
    "store.bytes_per_drop": "bytes",
    "serve.postings_rows": "count",
    "serve.fanout_rows": "count",
    "serve.useful_ratio": "ratio",
    "trace.latency_p50_s": "s",
    "trace.span_overhead_s": "s",
}


@dataclass
class Ctx:
    work: str  # fresh per run; removed at exit
    seed: int
    seconds: float
    trace: bool
    t0: float  # monotonic start of the run
    spark: object = None
    tracer: Tracer | None = None
    ops: list[dict] = field(default_factory=list)  # timed ops, in order
    info: dict = field(default_factory=dict)  # recorded beside the metrics
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)
    warmup_failures: list[str] = field(default_factory=list)
    sample: int = 0  # the first this many timed ops give the latency figures

    def dir(self, name: str) -> str:
        """A directory of this run, created if missing."""
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p


def start_session(ctx: Ctx) -> None:
    """The engine's session factory, with UI and progress output off
    except in the traced run, and scratch space inside the run directory."""
    from kafka_flink_slack_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.dir("warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={ctx.dir('tmp')} -XX:-UsePerfData",
    }
    if ctx.trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    t = time.monotonic()
    ctx.spark = get_spark("perfbench", extra_conf=conf)
    sc = ctx.spark.sparkContext
    ctx.info["session_start_s"] = time.monotonic() - t
    ctx.info["spark"] = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory", "unset"),
        "version": ctx.spark.version,
        "cpus_env": os.environ.get("SPARK_GRAFT_CPUS"),
    }
    if ctx.trace:
        ctx.tracer = Tracer()


@contextmanager
def op(ctx: Ctx, op_id: str, timed: bool, traced: bool = False):
    """One op. The body calls ``stop(rec)`` when the result is in hand
    (checks come after, untimed) and appends problems to
    ``rec["problems"]``; an exception fails the op, not the run."""
    sc = ctx.spark.sparkContext
    tracer = ctx.tracer if traced else None
    sc.setJobGroup(op_id if traced else f"untraced/{op_id}", op_id)
    if tracer is not None:
        tracer.op = op_id
    rec = {"op": op_id, "traced": traced, "problems": [],
           "wall": [time.time(), None], "_t": time.monotonic()}
    try:
        yield rec
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        rec["problems"].append(f"error: {type(e).__name__}: {str(e)[:300]}")
    finally:
        if "latency_s" not in rec:
            stop(rec)
        if tracer is not None:
            tracer.op = None
        sc.setJobGroup("between-ops", "between-ops")
    if timed:
        ctx.ops.append(rec)
    elif rec["problems"]:
        ctx.warmup_failures.append(f"{op_id}: {rec['problems'][0]}")


def stop(rec: dict) -> None:
    rec["latency_s"] = time.monotonic() - rec["_t"]
    rec["wall"][1] = time.time()


def end_to_end(ctx: Ctx, t_first: float, t_last: float) -> dict:
    """End-to-end metrics of an untraced run: latencies of the ops in the
    latency sample, throughput of every timed op."""
    lat = [r["latency_s"] for r in ctx.ops[:ctx.sample]]
    tl = stats.tail(lat)
    ctx.info["latency_tail"] = {k: v for k, v in tl.items() if k != "value"}
    return {
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tl["value"], "s"),
        "throughput_ops_s": (len(ctx.ops) / (t_last - t_first), "1/s"),
        "setup_s": (t_first - ctx.t0, "s"),
    }


def spark_layers(ctx: Ctx) -> tuple[SparkMetrics, list[str]]:
    """Spark's metrics for the traced ops, and those ops' ids."""
    traced = [r for r in ctx.ops if r["traced"]]
    windows = {r["op"]: tuple(r["wall"]) for r in traced}
    metrics = SparkMetrics(SparkRest(ctx.spark.sparkContext), windows)
    ctx.layers.update(metrics.per_op(list(windows)))
    return metrics, list(windows)


def overhead(ctx: Ctx, kind) -> None:
    """Tracing overhead, in two parts.

    ``trace.latency_p50_s`` is the median latency of the traced run's
    latency sample. Every op of that run has the UI, its status store and
    the listener on, so this minus the untraced run's ``latency_p50_s`` for
    the same seed is the whole cost of collection.

    ``trace.span_overhead_s`` is the part spans add: for each kind of op
    (``kind(rec)``; None skips the op), the median latency of its traced
    ops minus that of its untraced ops, interleaved in the traced run; the
    median over kinds. It excludes the cost of the UI and the listener,
    which both kinds of op carry."""
    by: dict = {}
    for r in ctx.ops:
        if kind(r) is not None:
            by.setdefault(kind(r), ([], []))[0 if r["traced"] else 1].append(r["latency_s"])
    diffs = [statistics.median(on) - statistics.median(off)
             for on, off in by.values() if on and off]
    ctx.layers["trace.latency_p50_s"] = statistics.median(
        [r["latency_s"] for r in ctx.ops[:ctx.sample]])
    ctx.layers["trace.span_overhead_s"] = statistics.median(diffs)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (the JVM exits when its
    stdin closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def heap_used_mb(spark) -> float:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2.0**20
