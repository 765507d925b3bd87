"""Streaming face of semantic_dedup (SemDeDup, Abbas et al. 2023 — batch
semantics at operators/similarity.py:semantic_dedup): embedding vectors
arrive as JSONL drops; every micro-batch

    1. lands one DOCMETA row per arrival — (vec_id, ts, deleted) in the
       dp-partitioned version ledger (the store rails, store.py) — so
       UPDATES and DELETES are
       first-class: a re-ingested vec_id supersedes its older versions
       by ingest_ts, a deleted=true tombstone removes the vector from
       the REFERENCE SET for every later judgment and from the report;
    2. assigns each live arrival to its nearest coarse-quantizer
       centroid — a pure NARROW map against the O(k*d) driver-literal
       model (ivf_assign, the batch op's assignment kernel: no broadcast
       join, no shuffle, whole-stage codegen) —
       and lands the version-stamped assignment in a cid-PARTITIONED
       parquet vector store (batch_id-scoped overwrite — the
       idempotent-replay contract every store in this package uses);
    3. prunes arrivals against the LIVE history: a vector is DROPPED
       iff a lower-id LIVE vector in the same cluster has cosine >=
       threshold (the SemDeDup keep-first rule over the LWW-current
       corpus). The pair side reads ONLY the store's touched cid
       partitions (partition-pruned scan; the touched list is bounded
       by min(k, |batch|) literals) and masks superseded/tombstoned
       rows against the UNCOMPACTED TAIL of the ledger (bounded by
       compaction cadence — the retrieval-index tail-mask design), so
       per-batch pair work stays sum over touched clusters of
       |cluster| * |batch ∩ cluster| and history in untouched clusters
       is never re-read.

VERDICT SEMANTICS under update/delete: a verdict is decided AT
JUDGMENT TIME against the then-live corpus and is immutable once
written (the SemDeDup decision is consumed downstream at arrival); a
RE-INGESTED vector is re-judged (its new verdict supersedes the old
one in the report by LWW) and a TOMBSTONED vector's verdicts drop from
the report. Earlier vectors' verdicts are NOT retroactively recomputed
when a reference they were judged against later changes — the
eventual-by-construction contract a streaming deduper can honor; the
batch op over the LWW-current corpus is the ground truth for vectors
judged AFTER the change (pinned by the parity test's planted
unsuppression case). Ordering contract as in retrieval_index: per-key
nondecreasing distinct ingest_ts.

PARITY CONTRACT (tests/test_streaming_semantic.py, across a checkpoint
restart): with monotone append-only ingest the accumulated verdicts
equal batch `semantic_dedup` exactly; with updates/deletes, vectors
judged after the change equal `_semantic_verdicts_over` on the
LWW-current corpus (same keep flags, same n_dups, same best_sim).

Why a STORE and not keyed state (the minhash face holds per-bucket
state): the reference set here is every landed vector, 64 doubles each —
a table, not a state row; and SemDeDup's cluster sizes are corpus-scale
(k ~ sqrt(n) leaves sqrt(n)-sized cells), far past any per-key state
budget. Same decision the curation funnel's signature store documents.

The centroid MODEL is a fixed input (production trains it offline;
SemDeDup used precomputed k-means over LAION embeddings) — passed in as
the driver-literal list, never derived from the stream. Retraining is
retrain_semantic_store below (r12): the hybrid store's
fold-with-reassignment (retrain_hybrid_vector_store) PLUS a full
re-judgment, because here the verdicts are the served state — a
recluster that moved vectors between cells must re-decide keep flags,
or the report would pin cluster ids and suppressions from the old
geometry.

Store maintenance: compact_semantic_store folds vectors, verdicts, and
the ledger (superseded and tombstoned rows PHYSICALLY dropped;
tombstones retained in the ledger; stats snapshot as the fold-horizon
marker), invoked every `compact_every` batches by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    NEARDUP_THRESHOLD,
    ivf_assign,
    semantic_verdicts,
)
from .store import (
    _LwwStore,
    _alive_of,
    _cols,
    _compact_batch_store,
    _compact_lww_stores,
    _fold_ledger,
    _id_horizon,
    _ledger_write,
    _mask_visible,
    _pruned_store,
    _read_store,
    _tail_live,
)

VEC_DROP_SCHEMA = (
    "vec_id bigint, embedding array<double>, ingest_ts timestamp, "
    "deleted boolean"
)
# The LWW-folded semantic stores (store.py), keyed by vec_id.
_VECTORS = _LwwStore(
    "vectors",
    "vec_id bigint, emb array<double>, ts timestamp, cid int, batch_id int",
    ["cid"],
    "vector store dir",
    "vec_id",
)
_VERDICTS = _LwwStore(
    "verdicts",
    "vec_id bigint, cid int, keep boolean, n_dups bigint, best_sim double, "
    "ts timestamp, batch_id int",
    [],
    "verdict store dir",
    "vec_id",
)
_VEC_COLS = _cols(_VECTORS.schema)
_VERDICT_COLS = _cols(_VERDICTS.schema)


def retrain_semantic_store(
    spark: SparkSession,
    state_dir: str,
    model: list[tuple[int, list[float]]],
    threshold: float = NEARDUP_THRESHOLD,
    checkpoint_dir: str | None = None,
) -> int:
    """Recluster the ENTIRE landed semantic store under a NEW centroid
    model — the production SemDeDup recluster (a drifted corpus gets a
    fresh offline codebook and the dedup decisions are re-taken under
    it). Mirrors retrain_hybrid_vector_store's fold-with-reassignment
    (streaming/hybrid_index.py) with one semantic-specific extra: the
    VERDICTS are the served state here (the hybrid store recomputes its
    serving from vectors; this store's report serves stored verdicts),
    so the recluster must RE-JUDGE — stale verdicts would pin cluster
    ids and keep flags from the old geometry. The pre-retrain verdicts'
    immutability contract is explicitly revoked by a retrain; that
    re-decision is the point of a recluster.

    Three crash-staged rewrites, in a fixed repairable order:
      1. vectors fold over the FULL horizon with cid reassigned under
         the new model (ivf_assign, the batch op's assignment kernel)
         and the global LWW mask applied (superseded/tombstoned
         versions physically dropped; a partial retrain would leave two
         layouts and mis-prune, so the horizon is computed, not passed);
      2. verdicts REPLACED by a fresh batch judgment of the folded live
         vectors under the new model (semantic_verdicts — after this the
         report equals _semantic_verdicts_over on the LWW-current
         corpus under the new model by construction);
      3. ledger fold (winners, tombstones retained, snapshot marker).
    A crash between 1 and 2 leaves old verdicts beside new vectors;
    RE-RUNNING the retrain with the same model repairs it (step 1 is an
    idempotent force rewrite, step 2 re-judges). The rails' committed-
    horizon guard (pass checkpoint_dir) enforces that the maintenance
    stream is stopped; resume it with the new model afterwards (inserts
    must assign against the layout they land into). Returns directories
    removed."""
    vectors_dir = f"{state_dir}/vectors"
    verdicts_dir = f"{state_dir}/verdicts"
    _read_store(spark, vectors_dir, _VECTORS.what)  # guards
    # full horizon: every landed batch must move to the new layout, and
    # the verdicts horizon rides along (written by the same stage)
    upto = max(_id_horizon(vectors_dir), _id_horizon(verdicts_dir))
    alive = _alive_of(spark, state_dir, upto).select(
        F.col("doc_id").alias("vec_id"), "ts"
    )
    removed = _compact_batch_store(
        spark,
        vectors_dir,
        upto,
        cols=_VEC_COLS,
        partition_cols=_VECTORS.partition_cols,
        what=_VECTORS.what,
        checkpoint_dir=checkpoint_dir,
        transform=lambda df: ivf_assign(
            df.join(alive, ["vec_id", "ts"]).select("vec_id", "emb", "ts"),
            model,
        ),
        force=True,
        schema=_VECTORS.schema,
    )
    # step 2 reads the FOLDED vectors back (one directory, new layout)
    # so the re-judgment sees exactly what later pruned scans will see
    folded = _read_store(
        spark, vectors_dir, _VECTORS.what, _VECTORS.schema
    ).select(*_VEC_COLS)
    fresh = semantic_verdicts(folded, folded, threshold)
    removed += _compact_batch_store(
        spark,
        verdicts_dir,
        upto,
        cols=_VERDICT_COLS,
        partition_cols=[],
        what=_VERDICTS.what,
        checkpoint_dir=checkpoint_dir,
        transform=lambda _old: fresh,  # re-judged, not folded
        force=True,
        schema=_VERDICTS.schema,
    )
    removed += _fold_ledger(
        spark, state_dir, upto, checkpoint_dir=checkpoint_dir
    )
    return removed


def compact_semantic_store(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
) -> int:
    """Fold batches [0, upto) of all three semantic stores through the
    crash-staged store rails (store.py): the docmeta ledger (LWW winners,
    tombstones retained, stats snapshot as fold-horizon marker), the
    cid-partitioned vector store, and the verdicts sidecar — the latter
    two masked to LIVE winner versions, so superseded vectors stop
    being dedup references and tombstoned vectors' verdicts leave the
    report PHYSICALLY, not just logically. The two data-store folds
    run at the same time, then the ledger folds (store.py's fold
    order). Returns directories removed."""
    return _compact_lww_stores(
        spark, state_dir, upto, checkpoint_dir, (_VECTORS, _VERDICTS)
    )


def semantic_dedup_stream(
    spark: SparkSession,
    drop_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    model: list[tuple[int, list[float]]],
    threshold: float = NEARDUP_THRESHOLD,
    max_files_per_trigger: int = 1000,
    compact_every: int | None = 64,
):
    """Run the stream over all available drops (availableNow) and block
    until done; returns the finished StreamingQuery. Re-invoke with the
    same checkpoint_dir to resume — only new files process, and replayed
    batches overwrite their own prior store partition and verdicts.
    Drops may carry deleted=true tombstones and re-ingested versions of
    earlier vec_ids (LWW by ingest_ts; see the module contract).

    `compact_every=N` folds all three stores every N committed batches
    from inside the runner (at the start of batch k where k % N == 0,
    upto=k — everything below k is committed by then, enforced from the
    commits/ log), the curation funnel's auto-compaction policy. ON BY
    DEFAULT (64; pass None to disable and manage compaction
    externally)."""
    store_dir = f"{state_dir}/vectors"
    verdicts_dir = f"{state_dir}/verdicts"

    raw = (
        spark.readStream.schema(VEC_DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )

    def stage(batch: DataFrame, batch_id: int) -> None:
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_semantic_store(
                spark, state_dir, upto=batch_id,
                checkpoint_dir=checkpoint_dir,
            )
        deleted = F.coalesce(F.col("deleted"), F.lit(False))
        # ledger FIRST: this batch's own tombstones/updates must mask
        # the reference set its arrivals are judged against
        _ledger_write(
            batch.select(
                F.col("vec_id").alias("doc_id"),
                F.col("ingest_ts").alias("ts"),
                deleted.alias("deleted"),
            ),
            state_dir,
            batch_id,
        )()
        assigned = ivf_assign(
            batch.filter(~deleted).select(
                "vec_id",
                F.col("embedding").alias("emb"),
                F.col("ingest_ts").alias("ts"),
            ),
            model,
        ).persist()
        try:
            assigned.select(*_VEC_COLS).write.mode(
                "overwrite"
            ).partitionBy("cid").parquet(
                f"{store_dir}/batch_id={batch_id}"
            )
            touched = [
                tuple(r) for r in assigned.select("cid").distinct().collect()
            ]  # bounded by the codebook size
            store = _pruned_store(
                spark, store_dir, _VECTORS, batch_id, touched
            )
            if store is not None:
                # live history only: mask superseded/tombstoned versions
                # against the ledger tail (bounded; includes THIS batch's
                # just-landed tombstones)
                tail = _tail_live(spark, state_dir)
                store = _mask_visible(store, tail, key="vec_id")
            hist = (
                assigned.select("vec_id", "emb", "cid")
                if store is None
                else store.select("vec_id", "emb", "cid").unionByName(
                    assigned.select("vec_id", "emb", "cid")
                )
            )
            (
                semantic_verdicts(hist, assigned, threshold)
                .write.mode("overwrite")
                .parquet(f"{verdicts_dir}/batch_id={batch_id}")
            )
        finally:
            assigned.unpersist()

    q = (
        raw.writeStream.queryName("semantic_dedup_stream")
        .foreachBatch(stage)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def semantic_dedup_probe_adhoc(
    spark: SparkSession,
    state_dir: str,
    model: list[tuple[int, list[float]]],
    probes: dict[int, list[float]],
    threshold: float = NEARDUP_THRESHOLD,
) -> DataFrame:
    """Judge AD-HOC vectors against the landed LWW-current reference
    set WITHOUT ingesting — the request path a deployment exposes ("is
    this vector a dup of anything landed?"; until now only ingestion
    triggered judgment). `probes` maps probe_id -> vector. Each probe
    is assigned under the store's codebook (`model` must be the one the
    store is laid out under), the store scan prunes to the probes' own
    cid partitions (bounded literal list), history is masked against
    the ledger tail (a tombstoned or superseded vector has stopped
    being a reference), and the verdict kernel is semantic_verdicts,
    the batch op's and the stream's. Every live landed vector plays the
    reference (lower-id) role regardless of the probe's id: probe ids
    are offset above the landed horizon internally (one bounded max()
    over the pruned masked slice — only same-cluster vectors can ever
    qualify, so the slice suffices) and mapped back on output. Nothing
    is written: probing twice, or probing then ingesting, cannot
    double-judge. Output: (probe_id, cid, keep, n_dups, best_sim) in
    probe_id order; keep=false means "a dup of something landed".
    Reference anchor: the serving path re-reads CURRENT state per
    lookup (Slack Event Server/slackEventServer.js:187-202)."""
    if not probes:
        raise ValueError("no probe vectors given")
    ids = sorted(int(p) for p in probes)
    pdf = spark.createDataFrame(
        [(pid, [float(x) for x in probes[pid]]) for pid in ids],
        "probe_id bigint, emb array<double>",
    )
    assigned = ivf_assign(
        pdf.select(
            F.col("probe_id").alias("vec_id"),
            "emb",
            F.lit(None).cast("timestamp").alias("ts"),
        ),
        model,
    )
    # bounded collect: <= min(|probes|, k) touched cid literals
    touched = [tuple(r) for r in assigned.select("cid").distinct().collect()]
    store = _pruned_store(
        spark, f"{state_dir}/vectors", _VECTORS, 1 << 62, touched
    )
    if store is None:
        raise ValueError(
            f"no vector store under {state_dir!r}: nothing has landed "
            "yet (run semantic_dedup_stream first)"
        )
    tail = _tail_live(spark, state_dir)
    hist = _mask_visible(store, tail, key="vec_id").select(
        "vec_id", "emb", "cid"
    )
    mx = hist.agg(
        F.coalesce(F.max("vec_id"), F.lit(0)).alias("mx")
    ).collect()[0]["mx"]
    idmap = spark.createDataFrame(
        [(int(mx) + 1 + i, pid) for i, pid in enumerate(ids)],
        "vec_id bigint, probe_id bigint",
    )
    arrivals = (
        assigned.withColumnRenamed("vec_id", "probe_id")
        .join(F.broadcast(idmap), "probe_id")
        .select("vec_id", "emb", "cid")
    )
    return (
        semantic_verdicts(hist, arrivals, threshold)
        .join(F.broadcast(idmap), "vec_id")
        .select("probe_id", "cid", "keep", "n_dups", "best_sim")
        .orderBy("probe_id")
    )


def semantic_dedup_stream_report(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Accumulated per-vector verdicts over the LWW-CURRENT corpus —
    the same (vec_id, cid, keep, n_dups, best_sim) rows as the batch
    semantic_dedup (the parity test compares them directly). Verdicts
    of superseded versions and tombstoned vectors are masked against
    the ledger tail here and physically dropped at compaction."""
    v = _read_store(
        spark, f"{state_dir}/verdicts", _VERDICTS.what, _VERDICTS.schema
    ).select(*_VERDICT_COLS)
    tail = _tail_live(spark, state_dir)
    return (
        _mask_visible(v, tail, key="vec_id")
        .select("vec_id", "cid", "keep", "n_dups", "best_sim")
        .orderBy("vec_id")
    )
