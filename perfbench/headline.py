"""``headline``: the pinned headline queries, run one after another.

One op is one query's action: ``collect()`` of a fresh Dataset over the
query's frame, so every output column is computed and the plan is
optimised and executed anew (collecting the same Dataset twice would reuse
its finished shuffle stages). Frames are built once in set-up, as a
deployment builds its models and indexes once; the build is timed as
``registry.build_s``.

Each timed pass runs every query once in an order drawn from the seed. The
latency percentiles come from the first ``PASSES`` timed passes, so every
run reports them over the same number of samples; further whole passes run
until the timed phase has lasted ``--seconds`` and count towards throughput.
Every op's answer is compared with the query's DuckDB oracle, computed
once per run after the timed phase; ``pca_whiten_vectors`` has no oracle
and is checked against values pinned below.
"""

from __future__ import annotations

import random
import time

from perfbench import check, gen
from perfbench.harness import MODULES, Ctx, end_to_end, heap_used_mb, op, overhead, spark_layers, start_session, stop
from perfbench.trace import TIME_LAYERS, serve_rows

# The headline set: at least one query per operator module, including the
# rows the open roadmap items should move (capped Jaccard, BM25 retrieval,
# the pinned-width spread sites), and enough queries
# of middling cost that the median op falls among several of similar
# latency rather than in a gap between two. Pinned here so an edit
# elsewhere cannot change what is timed.
HEADLINE = (
    "q3_shipping_priority",
    "events_sessions_per_user",
    "tfidf_top_terms",
    "benchmark_decontaminate",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "cosine_topk_bruteforce",
    "image_byte_histogram",
    "email_chunk_blocks",
    "bm25_keyword_search",
    "token_budget_select",
    "dsir_importance_weights",
    "pca_whiten_vectors",
)
# the BM25 row, whose plan ends in the (query, doc) fan-out join
RETRIEVAL = ("bm25_keyword_search",)
# The tables are the same in every run (like a fixed fixture); the seed
# orders the queries of each pass.
DATA_SEED = 20251017
# timed passes in the latency sample (26 ops; the tail is their p61), sized
# to last longer than a 10 s run on a 4-core host
PASSES = 2
DOCS = 500
# pca_whiten_vectors over the DATA_SEED tables: per column, sum of squares
# and sum of absolute values (outputs are rounded to 6 decimals).
PCA_PIN = {
    "rows": DOCS,
    "rel_tol": 1e-5,
    "columns": {
        "w00": (500.000007, 404.715165),
        "w01": (500.000005, 403.418648),
        "w02": (499.999998, 404.317722),
        "w03": (500.000004, 397.920037),
        "w04": (499.999973, 398.060117),
        "w05": (499.999996, 392.785141),
        "w06": (500.000003, 400.667441),
        "w07": (500.000006, 398.398912),
    },
}


def _oracles(data: str, specs) -> dict[str, tuple]:
    """(columns, rows) of each query's DuckDB oracle over the tables."""
    import duckdb

    from kafka_flink_slack_pipeline_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {}
        for name in HEADLINE:
            if specs[name].oracle is not None:
                res = con.execute(specs[name].oracle)
                out[name] = ([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def run(ctx: Ctx) -> dict:
    data = ctx.dir("tables")
    gen.write_headline_tables(data, DATA_SEED, DOCS)
    start_session(ctx)
    spark, tracer = ctx.spark, ctx.tracer
    from kafka_flink_slack_pipeline_spark.plans.registry import all_queries

    specs = all_queries()
    module = {n: specs[n].fn.__module__.rsplit(".", 1)[-1] for n in HEADLINE}
    frames = {}
    t = time.monotonic()
    for name in HEADLINE:
        if tracer is None:
            frames[name] = specs[name].fn(spark, data)
        else:
            with tracer.span("registry.build", query=name):
                frames[name] = specs[name].fn(spark, data)
    build_s = time.monotonic() - t

    results: dict[str, tuple] = {}  # op id -> (query, columns, rows)

    def one(name: str, op_id: str, timed: bool, traced: bool) -> None:
        with op(ctx, op_id, timed, traced) as rec:
            rec["query"] = name
            df = frames[name].alias("op")
            if traced:
                with tracer.span(f"operators.{module[name]}", query=name):
                    rows = df.collect()
            else:
                rows = df.collect()
            stop(rec)
            rec["rows"] = len(rows)
            results[op_id] = (name, df.columns, rows)

    rng = random.Random(ctx.seed)
    # an untimed pass first runs each plan's code generation
    for name in rng.sample(HEADLINE, len(HEADLINE)):
        one(name, f"warmup/{name}", False, False)
    passes = 0
    t_first = time.monotonic()
    while True:
        for name in rng.sample(HEADLINE, len(HEADLINE)):
            # the traced run traces half the queries of each pass, the
            # other half in the next pass
            traced = ctx.trace and (HEADLINE.index(name) + passes) % 2 == 0
            one(name, f"pass{passes}/{name}", True, traced)
        passes += 1
        t_last = time.monotonic()
        if t_last - t_first >= ctx.seconds and passes >= PASSES:
            break

    # checks, untimed
    want = _oracles(data, specs)
    recs = {r["op"]: r for r in ctx.ops}
    for op_id, (name, cols, rows) in results.items():
        if name in want:
            problems = check.same_rows(cols, rows, *want[name])
        else:
            problems = check.pinned_columns(cols, rows, PCA_PIN)
        if op_id in recs:
            recs[op_id]["problems"] += problems
        elif problems:
            ctx.warmup_failures.append(f"{op_id}: {problems[0]}")
    ctx.info["passes"] = passes
    ctx.sample = PASSES * len(HEADLINE)
    ctx.info["queries"] = len(HEADLINE)
    ctx.info["registry_build_s"] = build_s

    if not ctx.trace:
        return end_to_end(ctx, t_first, t_last)
    return _layers(ctx, module, build_s)


def _layers(ctx: Ctx, module: dict, build_s: float) -> dict:
    metrics, _ = spark_layers(ctx)
    overhead(ctx, lambda r: r["query"])
    tracer = ctx.tracer
    tracer.self_times()
    lay = ctx.layers
    lay["session.start_s"] = ctx.info["session_start_s"]
    lay["session.jvm_heap_used_mb"] = heap_used_mb(ctx.spark)
    lay["registry.build_s"] = build_s
    serve = [(r, serve_rows(metrics.last_sql(r["op"]) or {}))
             for r in ctx.ops if r["traced"] and r["query"] in RETRIEVAL]
    fanout = sum(f for _, (_, f) in serve)
    lay["serve.postings_rows"] = sum(p for _, (p, _) in serve) / len(serve)
    lay["serve.fanout_rows"] = fanout / len(serve)
    lay["serve.useful_ratio"] = sum(r.get("rows", 0) for r, _ in serve) / fanout if fanout else 0.0
    # per query: mean latency and plan-node layers of its traced ops, and
    # the layer with the most time
    per_query: dict[str, dict] = {}
    for r in ctx.ops:
        if not r["traced"]:
            continue
        q = per_query.setdefault(r["query"], {"module": module[r["query"]], "ops": 0, "latency_s": 0.0})
        q["ops"] += 1
        q["latency_s"] += r["latency_s"]
        for k, v in metrics.rollup(r["op"]).items():
            q[k] = q.get(k, 0.0) + v
    for q in per_query.values():
        for k in list(q):
            if k not in ("module", "ops"):
                q[k] /= q["ops"]
        q["dominant_layer"] = max(TIME_LAYERS, key=lambda k: q[k])
    # busy time per module in one pass: its queries' mean traced latency
    for m in MODULES:
        lay[f"operators.{m}.busy_s"] = sum(
            q["latency_s"] for q in per_query.values() if q["module"] == m)
    ctx.info["per_query"] = dict(sorted(per_query.items(), key=lambda kv: -kv[1]["latency_s"]))
    return {}
