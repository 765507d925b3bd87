"""Incrementally-maintained HYBRID retrieval index: the streaming face
of hybrid_search_rrf_ivf (operators/curation.py) — the full RAG
serving path (lexical BM25 ∪ list-pruned dense ANN, RRF-fused) served
from stores that a single checkpointed stream maintains as documents
arrive.

Every micro-batch of (doc_id, text, embedding, ingest_ts[, deleted])
drops lands BOTH index faces:

    lexical — the bm25_index_stream state verbatim (shared _land_text:
      tp-partitioned version-stamped postings + the dp-partitioned
      docmeta version ledger + the bounded seed-query sidecar);
    dense — each live arrival's vector is assigned to its nearest
      coarse centroid under a FIXED codebook (the production IVF
      discipline: the coarse quantizer is trained offline and vectors
      are assigned at insert time) and landed version-stamped in a
      store partitioned by cid, plus a bounded dense seed sidecar (the
      seed docs' query vectors, version-stamped).

All five writes of a batch run at the same time, and a fold folds the
four data stores at the same time before the ledger, from one ledger
pass (the landing and fold-order contract of retrieval_index). The
stream runs a batch's fold beside that batch's land, as
bm25_index_stream does (retrieval_index._fold_and_land).

UPDATE/DELETE: the retrieval_index LWW-by-ingest_ts + tombstone
semantics apply to both faces — a re-ingested doc's new embedding may
land in a DIFFERENT cid than its old version; the old vector is masked
at serve time (the bounded tail mask, shared _mask_visible) and
physically dropped at compaction. Same ordering contract (per-doc
nondecreasing distinct ingest_ts; compaction repairs violations).

CODEBOOK RETRAIN: retrain_hybrid_vector_store re-partitions the ENTIRE
landed vector store under a new codebook — the fold-with-reassignment:
every surviving (LWW-masked) vector's cid is recomputed with the new
centroids and the store is rewritten in the new cid layout through the
crash-staged store rails (store.py). Resume the stream with the new codebook
afterwards (inserts must assign against the layout they land into);
the rails' committed-horizon guard enforces that the stream is
stopped. This is how a drifted corpus migrates without losing the
incremental store.

hybrid_index_search then serves the landed horizon:
bm25_index_search's lexical ranks, the IVF dense ranks (probes = the
query's nprobe nearest centroids from the same fixed codebook,
candidates read ONLY from the probed cid partitions, exact cosine
re-rank inside them — the batch op's own kernels, ivf_probes and
ivf_rerank, so tie-breaks are bit-identical), fused by the unit-tested
rrf_fuse.

PARITY CONTRACT (tests/test_streaming_hybrid.py, across a checkpoint
restart, pre- and post-compaction, and across a retrain): once the
corpus has landed, hybrid_index_search under codebook C equals
hybrid_search_rrf_ivf(model=C) over the LWW-current (documents,
embeddings) tables EXACTLY — same fused ranks, same rrf scores, same
in_lex/in_dense flags. Unconditional (no cap caveat: neither BM25 nor
the IVF probe caps candidates), given idempotent replay and the
ordering contract.

100 TB/day shape: per-batch cost is one tokenize pass + one narrow
vector-assignment map (centroids enter the plan as literals — no
broadcast join, no shuffle beyond the postings groupBy); serving cost
tracks the query's own posting lists + its nprobe/k share of the
vector store (cid directory pruning) + one broadcast-sized tail mask,
measured flat/sublinear by SCALE_PROBE_INDEX.json /
SCALE_PROBE_HYBRID.json and the IVF probe family.
"""

from __future__ import annotations

from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    _BM25_EVERY,
    _BM25_MAX_QUERIES,
    _RRF_TOPK,
    rrf_fuse,
)
from ..operators.similarity import (
    IVF_NPROBE,
    ivf_assign,
    ivf_probes,
    ivf_rerank,
)
from .retrieval_index import (
    _TEXT_STORES,
    _adhoc_search,
    _fold_and_land,
    _land_text,
    _local_frame,
    _seed_search,
    _serve_tail,
)
from .store import (
    _LwwStore,
    _alive_of,
    _cols,
    _compact_batch_store,
    _compact_lww_stores,
    _id_horizon,
    _mask_visible,
    _read_store,
)

HYBRID_DROP_SCHEMA = (
    "doc_id bigint, text string, embedding array<double>, "
    "ingest_ts timestamp, deleted boolean"
)
_VECTOR_SCHEMA = (
    "doc_id bigint, emb array<double>, ts timestamp, cid int, batch_id int"
)
_VECSEED_SCHEMA = "query_id bigint, qe array<double>, ts timestamp, batch_id int"
_DENSE_STORES = (
    _LwwStore("vectors", _VECTOR_SCHEMA, ["cid"], "hybrid vector store dir"),
    _LwwStore(
        "vecseeds", _VECSEED_SCHEMA, [], "dense seed sidecar dir", "query_id"
    ),
)


def compact_hybrid_store(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
) -> int:
    """Fold batches [0, upto) of ALL SIX hybrid stores: the four
    text-face stores (postings, seeds, docmeta, stats snapshot, as
    compact_retrieval_store folds them) plus the cid-partitioned vector
    store and the dense seed sidecar — each through the crash-staged
    store rails (store.py), with superseded-version and tombstoned-doc rows
    physically dropped (the LWW mask). The four data-store folds run at
    the same time, and the ledger folds only after all of them, so the
    fold horizon never moves ahead of an unfolded vector batch
    (_compact_lww_stores). Returns directories removed."""
    return _compact_lww_stores(
        spark, state_dir, upto, checkpoint_dir, _TEXT_STORES + _DENSE_STORES
    )


def retrain_hybrid_vector_store(
    spark: SparkSession,
    state_dir: str,
    codebook: list[tuple[int, list[float]]],
    checkpoint_dir: str | None = None,
) -> int:
    """Re-partition the ENTIRE landed vector store under a NEW coarse
    codebook: one crash-staged rewrite in which every LWW-surviving
    vector's cid is recomputed with the new centroids (ivf_assign, the
    batch op's assignment kernel) and the store lands in the new
    cid layout. Covers the full store horizon by construction — a
    partial retrain would leave two layouts and mis-prune — and the
    rails' committed-horizon guard (pass checkpoint_dir) enforces that
    the maintenance stream is stopped. Serve and resume with the new
    codebook afterwards. Returns directories removed (>= 0; the
    single-directory case still rewrites — force=True — because the
    content changes)."""
    vectors_dir = f"{state_dir}/vectors"
    _read_store(spark, vectors_dir, "hybrid vector store dir")  # guards
    # full horizon: every landed batch must move to the new layout
    upto = _id_horizon(vectors_dir)
    alive = _alive_of(spark, state_dir, upto)
    return _compact_batch_store(
        spark,
        vectors_dir,
        upto,
        cols=_cols(_VECTOR_SCHEMA),
        partition_cols=["cid"],
        what="hybrid vector store dir",
        checkpoint_dir=checkpoint_dir,
        transform=lambda df: ivf_assign(
            df.join(alive, ["doc_id", "ts"]).select("doc_id", "emb", "ts"),
            codebook,
        ),
        force=True,
        schema=_VECTOR_SCHEMA,
    )


def _land_hybrid(
    batch: DataFrame,
    batch_id: int,
    state_dir: str,
    codebook: list[tuple[int, list[float]]],
) -> None:
    """Land one micro-batch's BOTH index faces: the shared lexical
    state (_land_text) plus the cid-assigned version-stamped vectors
    and the bounded dense seed sidecar. Shared VERBATIM by the
    checkpointed stream and the registered serving certificate
    (hybrid_index_served_lww) — stream/certificate parity by
    construction. All five writes run at the same time."""
    live = batch.filter(~F.coalesce(F.col("deleted"), F.lit(False)))
    vecs = ivf_assign(
        live.filter(F.col("embedding").isNotNull()).select(
            "doc_id",
            F.col("embedding").alias("emb"),
            F.col("ingest_ts").alias("ts"),
        ),
        codebook,
    )
    # bounded dense seed sidecar: the seed docs' query vectors
    vecseeds = live.filter(
        (F.col("doc_id") % _BM25_EVERY == 0)
        & (F.col("doc_id") < _BM25_EVERY * _BM25_MAX_QUERIES)
        & F.col("embedding").isNotNull()
    ).select(
        F.col("doc_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("ingest_ts").alias("ts"),
    )
    _land_text(
        batch,
        batch_id,
        state_dir,
        partial(
            vecs.write.mode("overwrite").partitionBy("cid").parquet,
            f"{state_dir}/vectors/batch_id={batch_id}",
        ),
        partial(
            vecseeds.write.mode("overwrite").parquet,
            f"{state_dir}/vecseeds/batch_id={batch_id}",
        ),
    )


def hybrid_index_stream(
    spark: SparkSession,
    drop_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    codebook: list[tuple[int, list[float]]],
    max_files_per_trigger: int = 1000,
    compact_every: int | None = 64,
):
    """Run the hybrid index-maintenance stream over all available drops
    (availableNow) and block until done. `codebook` is the fixed coarse
    quantizer ((cid, centroid) pairs — similarity._centroid_model's
    shape), held as driver model state and entering each batch's
    assignment as literals. `compact_every=N` folds ALL SIX stores
    every N committed batches from inside the runner, beside the land
    of the batch that triggers the fold (on by default, the sibling
    stores' policy). Drops may carry deleted=true
    tombstones and re-ingested versions (LWW by ingest_ts)."""
    raw = (
        spark.readStream.schema(HYBRID_DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )

    stage = _fold_and_land(
        lambda upto: compact_hybrid_store(
            spark, state_dir, upto, checkpoint_dir=checkpoint_dir
        ),
        lambda batch, batch_id: _land_hybrid(
            batch, batch_id, state_dir, codebook
        ),
        compact_every,
    )
    q = (
        raw.writeStream.queryName("hybrid_index_stream")
        .foreachBatch(stage)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _pruned_vectors(
    spark: SparkSession, vectors_dir: str, cids: list[int]
):
    """Landed vectors pruned to the probed cid partitions (bounded:
    <= min(|queries| * nprobe, k) cids — a static literal predicate).
    Rows are version-stamped; callers mask visibility."""
    store = _read_store(
        spark, vectors_dir, "hybrid vector store dir", _VECTOR_SCHEMA
    )
    return store.filter(F.col("cid").isin(sorted(set(cids))))


def hybrid_index_search(
    spark: SparkSession,
    state_dir: str,
    codebook: list[tuple[int, list[float]]],
    query_ids: list[int] | None = None,
) -> DataFrame:
    """Serve the landed horizon: hybrid_search_rrf_ivf's output schema
    (query_id, rank, doc_id, rrf_score, in_lex, in_dense) computed from
    the stores — bm25_index_search's lexical ranks fused with the
    list-pruned dense ranks by the same rrf_fuse, both faces under the
    update/delete tail mask."""
    tail = _serve_tail(spark, state_dir)
    lex = _seed_search(spark, state_dir, tail, query_ids).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    seeds = _read_store(
        spark, f"{state_dir}/vecseeds", "dense seed sidecar dir",
        _VECSEED_SCHEMA,
    )
    if query_ids is not None:
        seeds = seeds.filter(F.col("query_id").isin(list(query_ids)))
    seeds = _mask_visible(seeds, tail.frame, key="query_id")
    return _fused_over(spark, state_dir, codebook, lex, seeds, tail.frame)


def hybrid_index_search_adhoc(
    spark: SparkSession,
    state_dir: str,
    codebook: list[tuple[int, list[float]]],
    queries: dict[int, tuple[str, list[float]]],
) -> DataFrame:
    """Serve AD-HOC hybrid queries — query_id -> (query text, query
    vector) — against the landed stores: the request path a RAG
    deployment exposes (the stored seed workload exists for the
    registered oracle). The lexical side tokenizes the text with the
    corpus rule (bm25_index_search_adhoc); the dense side probes the
    given vector's nprobe nearest centroids under the store's codebook;
    both under the same update/delete tail mask; fused by the same
    rrf_fuse. A query may carry text only (vector None — lexical-only)
    or vector only (empty text is NOT allowed on the lexical side, so
    pass text='' to skip it)."""
    tail = _serve_tail(spark, state_dir)
    texts = {
        qid: t for qid, (t, _) in queries.items() if t and t.strip()
    }
    if texts:
        lex = _adhoc_search(spark, state_dir, tail, texts).select(
            "query_id", "doc_id", F.col("rank").alias("lex_rank")
        )
    else:
        lex = _local_frame(
            spark,
            query_id=pa.array([], pa.int64()),
            doc_id=pa.array([], pa.int64()),
            lex_rank=pa.array([], pa.int32()),
        )
    vecs = {qid: v for qid, (_, v) in queries.items() if v is not None}
    seeds = _local_frame(
        spark,
        query_id=pa.array([int(q) for q in vecs], pa.int64()),
        qe=pa.array(
            [[float(x) for x in v] for v in vecs.values()],
            pa.list_(pa.float64()),
        ),
    )
    return _fused_over(spark, state_dir, codebook, lex, seeds, tail.frame)


def _fused_over(
    spark: SparkSession, state_dir, codebook, lex, seeds, tail
) -> DataFrame:
    """The shared dense-probe + fusion stage: nprobe nearest centroids
    per query vector, candidates read only from the probed cid
    partitions, tail-masked, exact cosine re-rank, rrf_fuse with the
    given lexical ranks."""
    probes = ivf_probes(seeds, codebook, IVF_NPROBE)
    # bounded collect: <= |queries| * nprobe cid literals for the
    # directory-pruning predicate (the store-touch discipline)
    cids = [r["cid"] for r in probes.select("cid").distinct().collect()]
    cand = _mask_visible(
        _pruned_vectors(spark, f"{state_dir}/vectors", cids), tail
    ).select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("emb").alias("ne"),
        "cid",
    )
    dense = ivf_rerank(cand, probes, _RRF_TOPK).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("dense_rank"),
    )
    return rrf_fuse(lex, dense)
