"""Per-query isolation harness for the optimization rounds (guide §1).

For each named query (default: the bench HEADLINE set) this builds the
DataFrame once, captures `.explain("formatted")` to plans/<tag>/<name>.txt,
then times N passes of the chosen action — `noop` (df.write.format("noop"),
guide §1.4: computes every column, no sink cost) or `count` (bench.py's
action, for apples-to-apples with BENCH_r*.json) — after one warmup pass.
Jobs are labelled via setJobDescription.

Usage:
  python tools/isolate.py [--sf-dir D] [--action noop|count] [--passes 3]
                          [--plans-tag r14/before] [--no-plans]
                          [query ...]

Prints one JSON line {"queries": {name: min_sec}, "action": ...}.

With --stages it also enables the Spark UI and, after the timed passes,
scrapes /api/v1 for per-query stage metrics (stages attributed to queries
via the job descriptions set above), writing them to --stages (a JSON
file): per query a list of stages with duration, task count, shuffle
read/write bytes, input bytes — the guide §1.1 empirical breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_flink_slack_pipeline_spark.plans.registry import all_queries  # noqa: E402
from kafka_flink_slack_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--action", choices=("noop", "count"), default="count")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans-tag", default=None)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--stages", default=None,
                    help="write per-query stage metrics JSON here")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf k=v (repeatable)")
    args = ap.parse_args()

    if args.queries:
        names = args.queries
    else:
        import bench

        names = list(bench.HEADLINE)

    extra = {"spark.ui.enabled": "true"} if args.stages else {}
    for kv in args.conf:
        k, _, v = kv.partition("=")
        extra[k] = v
    spark = get_spark("isolate", extra_conf=extra or None)
    specs = all_queries()
    frames = {}
    for name in names:
        frames[name] = specs[name].fn(spark, args.sf_dir)

    if args.plans_tag and not args.no_plans:
        plans_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "plans",
            args.plans_tag,
        )
        os.makedirs(plans_dir, exist_ok=True)
        for name, df in frames.items():
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))

    def run(df) -> None:
        if args.action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    # warmup pass (codegen + parquet footer cache), not timed
    for name in names:
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        run(frames[name])
    samples: dict[str, list[float]] = {n: [] for n in names}
    for pi in range(args.passes):
        for name in names:
            # pass index in the label so --stages can attribute stages
            # to ONE pass instead of summing N duplicates of each
            # logical stage (ADVICE r14)
            spark.sparkContext.setJobDescription(f"timed:p{pi}:{name}")
            t0 = time.time()
            run(frames[name])
            samples[name].append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    timings = {n: round(min(s), 3) for n, s in samples.items()}

    if args.stages:
        import urllib.request

        # this session's own UI (enabled above for --stages) and
        # application, never whichever Spark app holds the default port
        ui = spark.sparkContext.uiWebUrl
        app_id = spark.sparkContext.applicationId

        def api(path: str):
            url = f"{ui}/api/v1/{path}"
            with urllib.request.urlopen(url) as r:
                return json.loads(r.read())

        jobs = api(f"applications/{app_id}/jobs?status=succeeded")
        # scrape only the LAST timed pass: one clean instance of each
        # logical stage per query (earlier passes duplicate them and the
        # first timed pass carries residual JIT warmup)
        tag = f"timed:p{args.passes - 1}:"
        stage_ids_by_q: dict[str, set[int]] = {}
        for j in jobs:
            desc = j.get("description") or ""
            if not desc.startswith(tag):
                continue
            q = desc[len(tag):]
            stage_ids_by_q.setdefault(q, set()).update(j.get("stageIds", []))
        stages = {
            s["stageId"]: s
            for s in api(f"applications/{app_id}/stages?status=complete")
        }
        out: dict[str, list[dict]] = {}
        for q, sids in stage_ids_by_q.items():
            rows = []
            for sid in sorted(sids):
                s = stages.get(sid)
                if s is None:
                    continue
                dur = None
                if s.get("firstTaskLaunchedTime") and s.get("completionTime"):
                    from datetime import datetime

                    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                    t0 = datetime.strptime(s["firstTaskLaunchedTime"], fmt)
                    t1 = datetime.strptime(s["completionTime"], fmt)
                    dur = round((t1 - t0).total_seconds(), 3)
                rows.append({
                    "stage": sid,
                    "name": s.get("name", "")[:80],
                    "dur_s": dur,
                    "tasks": s.get("numCompleteTasks"),
                    "input_mb": round(s.get("inputBytes", 0) / 1e6, 2),
                    "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                    "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
                    "exec_run_ms": s.get("executorRunTime"),
                    "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6),
                })
            out[q] = rows
        with open(args.stages, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps({
        "queries": timings,
        "action": args.action,
        "sf_dir": args.sf_dir,
        "total": round(sum(timings.values()), 3),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
