"""``index_live``: the retrieval index's freshness loop, one client.

Set-up lands a base corpus. Each op then

1. generates (stamps) and writes one small drop of new docs, re-ingested
   versions and tombstones,
2. runs ``bm25_index_stream`` (``availableNow``: it returns once the drop
   has landed, folding the store every ``FOLD_EVERY`` batches),
3. runs ``bm25_index_search_adhoc`` for the drop's marker tokens and
   collects the results.

Latency runs from the stamp to the collected results. Every marker of a
current version must return exactly its own doc, with the score BM25 gives
it over the live corpus; markers of superseded versions and tombstoned docs
must return nothing. The latency percentiles come from the first
``CYCLES`` whole fold cycles, so every run reports them over the same ops,
with the same mix of folding and plain ones; further whole cycles run until
the timed phase has lasted ``--seconds`` and count towards throughput.
Set-up folds the base corpus once, so that the first timed fold is not the
process's first.
"""

from __future__ import annotations

import os
import time

from perfbench import check, gen
from perfbench.harness import Ctx, end_to_end, heap_used_mb, op, overhead, spark_layers, start_session, stop
from perfbench.trace import serve_rows

BASE_DOCS = 1000
VOCAB = 2000
DROP = (12, 5, 3)  # new docs, re-ingested versions, tombstones
# The stream's fold cadence. Its default (64 batches) makes one cycle
# several minutes on a 4-core host, longer than a run may last.
FOLD_EVERY = 6
WARMUP_OPS = 2
# fold cycles in the latency sample (6 ops; the tail is their maximum), and
# in a traced run, which needs two to trace one fold in two
CYCLES = 1
TRACED_CYCLES = 2


def _fold_horizon(state: str) -> int:
    snap = os.path.join(state, "statsnap")
    ids = [int(e.split("=", 1)[1]) for e in os.listdir(snap)
           if e.startswith("batch_id=")] if os.path.isdir(snap) else []
    return max(ids, default=-1)


def _tail_batches(state: str) -> int:
    """Landed docmeta batches newer than the last fold."""
    horizon = _fold_horizon(state)
    return sum(1 for e in os.listdir(os.path.join(state, "docmeta"))
               if e.startswith("batch_id=") and int(e.split("=", 1)[1]) > horizon)


def _batch_files(state: str, batch: int) -> tuple[int, int]:
    """(parquet files, bytes) one batch landed across the index's stores."""
    files = size = 0
    for store in ("postings", "docmeta", "seeds"):
        for root, _, names in os.walk(os.path.join(state, store, f"batch_id={batch}")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return files, size


def run(ctx: Ctx) -> dict:
    start_session(ctx)
    spark, tracer = ctx.spark, ctx.tracer
    from kafka_flink_slack_pipeline_spark.streaming import retrieval_index as ri

    drops, state, ckpt = ctx.dir("drops"), ctx.dir("state"), ctx.dir("ckpt")
    if tracer is not None:
        tracer.wrap(ri, "bm25_index_stream", "retrieval_index.land")
        tracer.wrap(ri, "compact_retrieval_store", "retrieval_index.fold")

    corpus = gen.ZipfCorpus(ctx.seed, vocab_size=VOCAB)
    gen.write_drop(drops, 0, corpus.drop(BASE_DOCS))
    ri.bm25_index_stream(spark, drops, state, ckpt, compact_every=FOLD_EVERY)
    ri.compact_retrieval_store(spark, state, upto=1, checkpoint_dir=ckpt)
    batch = 0

    def one(timed: bool, traced: bool) -> None:
        nonlocal batch
        batch += 1
        with op(ctx, f"op{batch}", timed, traced) as rec:
            drop = corpus.drop(*DROP)
            gen.write_drop(drops, batch, drop)
            ri.bm25_index_stream(spark, drops, state, ckpt, compact_every=FOLD_EVERY)
            queries = dict(enumerate(sorted(drop.expect)))
            if traced:
                rec["tail_batches"] = _tail_batches(state)
                with tracer.span("retrieval_index.serve"):
                    rows = ri.bm25_index_search_adhoc(spark, state, queries).collect()
            else:
                rows = ri.bm25_index_search_adhoc(spark, state, queries).collect()
            stop(rec)
            n, avgdl = corpus.stats()
            scores = {
                m: check.bm25_marker_score(n, avgdl, corpus.current[d].dl)
                for m, d in drop.expect.items() if d is not None
            }
            rec["problems"] += check.marker_results(rows, queries, drop.expect, scores)
            rec["rows"] = len(rows)
            rec["folded"] = batch % FOLD_EVERY == 0
            if traced:
                rec["files"], rec["bytes"] = _batch_files(state, batch)

    for _ in range(WARMUP_OPS):
        one(False, False)
    ctx.sample = CYCLES * FOLD_EVERY
    min_cycles = TRACED_CYCLES if ctx.trace else CYCLES
    cycles = 0
    t_first = time.monotonic()
    while True:
        for _ in range(FOLD_EVERY):
            # the traced run traces every other op, flipping each cycle,
            # so one fold in two is traced
            one(True, ctx.trace and (batch + 1 + (batch + 1) // FOLD_EVERY) % 2 == 0)
        cycles += 1
        t_last = time.monotonic()
        if t_last - t_first >= ctx.seconds and cycles >= min_cycles:
            break
    ctx.info.update(
        cycles=cycles, fold_every=FOLD_EVERY, corpus_docs=len(corpus.current),
        vocab_size=VOCAB, max_df=corpus.max_df(),
        drop=dict(zip(("new", "update", "delete"), DROP)),
        queries_per_op=DROP[0] + 2 * DROP[1] + DROP[2],
    )
    if not ctx.trace:
        return end_to_end(ctx, t_first, t_last)
    return _layers(ctx)


def _layers(ctx: Ctx) -> dict:
    metrics, traced = spark_layers(ctx)
    overhead(ctx, lambda r: None if r.get("folded", True) else "plain")
    tracer = ctx.tracer
    tracer.self_times()
    ops, n = set(traced), len(traced)
    recs = [r for r in ctx.ops if r["traced"]]
    lay = ctx.layers
    lay["session.start_s"] = ctx.info["session_start_s"]
    lay["session.jvm_heap_used_mb"] = heap_used_mb(ctx.spark)
    lay["retrieval_index.land_s"] = tracer.total("retrieval_index.land", ops) / n
    lay["retrieval_index.fold_s"] = tracer.total("retrieval_index.fold", ops, "dur_s") / n
    lay["retrieval_index.folds"] = tracer.count("retrieval_index.fold", ops)
    lay["retrieval_index.serve_s"] = tracer.total("retrieval_index.serve", ops, "dur_s") / n
    lay["retrieval_index.tail_batches"] = sum(r.get("tail_batches", 0) for r in recs) / n
    lay["store.files_per_drop"] = sum(r.get("files", 0) for r in recs) / n
    lay["store.bytes_per_drop"] = sum(r.get("bytes", 0) for r in recs) / n
    postings = fanout = 0.0
    for r in recs:
        p, f = serve_rows(metrics.last_sql(r["op"]) or {})
        postings, fanout = postings + p, fanout + f
    lay["serve.postings_rows"] = postings / n
    lay["serve.fanout_rows"] = fanout / n
    lay["serve.useful_ratio"] = sum(r.get("rows", 0) for r in recs) / fanout if fanout else 0.0
    return {}
