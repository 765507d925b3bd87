"""Benchmark of the engine's public functions.

    python3 perfbench/run.py --workload {headline,index_live} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted`` and ``failed`` (timed ops; a wrong
answer is a failed op) and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end ones: ``latency_p50_s`` and ``latency_tail_s`` (the highest
percentile with at least ten samples beyond it, or the largest sample when
there are fewer than twenty) over a fixed number of first timed ops, the
workload's latency sample, so every run reports the same statistic;
``throughput_ops_s`` (timed ops per second of the timed phase) and
``setup_s`` (everything before the first timed op, session start
included). The timed phase holds the latency sample and then whole passes
or cycles until it has lasted ``--seconds``. With ``--trace 1`` they are
the per-layer ones, from a run that records spans and reads Spark's UI;
every per-layer metric is printed, zero where the workload does not touch
that layer. The line
before it holds the run's details (Spark master, parallelism, driver
memory and version, sample counts, generator sizes), and
``.perfbench/<workload>-<seed>-<trace>.json`` in the checkout holds them
together with every op and, for a traced run, every span.

Spark runs on ``local[<cores>]``. Each run works in a fresh directory under
``.perfbench/`` that is removed at exit. The generator and the client run
in this process, on one thread; each workload is a closed loop.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "kafka_flink_slack_pipeline_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("headline", "index_live"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(ctx) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers inside the run directory, and size Spark to the host."""
    os.environ["TMPDIR"] = ctx.dir("tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = ctx.dir("spark-local")
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={ctx.dir('tmp')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    t0 = time.monotonic()
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import headline, index_live
    from perfbench.harness import PER_LAYER, Ctx, stop_session

    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=out_dir)
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace), t0=t0)
    try:
        _environment(ctx)
        workload = {"headline": headline, "index_live": index_live}[args.workload]
        e2e = workload.run(ctx)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in ctx.ops if r["problems"])
    correct = failed == 0 and not ctx.warmup_failures
    if args.trace:
        metrics = {k: {"value": float(ctx.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(ctx.ops), "latency_sample_ops": ctx.sample, **ctx.info,
        "problems": [f"{r['op']}: {p}" for r in ctx.ops for p in r["problems"]][:20]
        + ctx.warmup_failures[:20],
    }
    artifact = {
        "details": details, "metrics": metrics,
        "ops": [{k: v for k, v in r.items() if not k.startswith("_")} for r in ctx.ops],
        "spans": ctx.tracer.spans if ctx.tracer else [],
    }
    name = f"{args.workload}-{args.seed}-{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    print(json.dumps({"details": details}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": len(ctx.ops), "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
