"""Incremental retrieval-index maintenance: the streaming face of
bm25_keyword_search (operators/curation.py — reference analogue: the
consumer's continuous ingest loop, kafkaConsumer.js:74-90, feeding a
queryable history, slackEventServer.js:186-192).

A production search/RAG deployment does not re-tokenize its corpus per
query; it maintains a POSTINGS INDEX incrementally as documents arrive
and serves queries from it. Every micro-batch of (doc_id, text,
ingest_ts[, deleted]) drops:

    1. tokenizes live (non-tombstone) rows with the batch op's exact
       rule (tokens_col + ''-filter) and lands one posting row per
       (term, doc version) — (term, doc_id, tf, dl, ts) — in a parquet
       store partitioned by tp = xxhash64(term) mod _TERM_PREFIXES and
       SORTED BY term within partitions, so a bounded query workload
       prunes both at the directory level (tp literals) and at the
       row-group level (term IN (...) pushed to the parquet scan
       against the sorted column's min/max stats);
    2. lands one DOCMETA row per arrival — (doc_id, ts, deleted, dl) —
       partitioned by dp = xxhash64(doc_id) mod _DOC_PREFIXES: the
       version ledger that makes updates and deletes first-class (a
       real deployment re-crawls and deletes; the reference's serving
       analogue re-reads CURRENT Slack state per lookup precisely
       because messages get edited, slackEventServer.js:187-202);
    3. lands the batch's SEED QUERIES (the registered workload rule:
       doc_id % _BM25_EVERY == 0, capped at _BM25_MAX_QUERIES seeds;
       query terms = the seed doc's token slice) in a bounded sidecar,
       version-stamped with ts and carrying each term's tp so the
       search face never rehashes.

The three writes are independent and run at the same time
(_run_concurrently in the store rails, store.py): each reads the persisted
micro-batch and writes its own batch_id directory. Their order carries
no crash meaning, because a batch that did not commit replays and
overwrites every one of its directories.

UPDATE/DELETE SEMANTICS (last-write-wins by ingest_ts + tombstones):
re-ingesting doc_id 42 with new text supersedes every older version —
its old postings stop matching, df/N/avgdl reflect only the new text —
and a deleted=true drop (a tombstone; text ignored) removes the doc
from results AND from the corpus statistics. Ingest stays append-only
(no read-before-write); the masking happens at the two places that can
afford it:

    serve time — visibility is decided against the UNCOMPACTED TAIL
      only (docmeta batches newer than the last fold): a posting/seed
      row is visible iff its doc has no tail version, or its ts equals
      the tail winner's ts and that winner is not a tombstone. The
      folded store needs no mask because compaction already applied
      one, and the tail holds at most compact_every batches, so the
      mask stays small and serving stays FLAT in corpus size.
    compaction — compact_retrieval_store computes the global LWW
      winner per doc over the folded range, physically DROPS
      superseded postings/seeds and tombstoned docs' rows, folds
      docmeta to one row per doc (tombstones RETAINED — they must
      outlive the fold to suppress any not-yet-folded older version),
      and writes a per-dp STATS SNAPSHOT so corpus constants never
      need an O(corpus) pass at serve time.

ORDERING CONTRACT: versions of one doc must arrive in nondecreasing
ingest_ts order with DISTINCT ts per version (the CDC/Kafka shape —
a keyed topic preserves per-key order, kafkaProducer.js's fixed-key
sends land in one partition). The tail-only mask relies on it; an
out-of-order late version is repaired at the next compaction (global
LWW), never earlier. ingest_ts must be non-null.

CORPUS STATISTICS stay exact and bounded: N and avgdl derive from
integer (count, sum-of-dl) triplets — the last snapshot's totals,
minus the fold-live contribution of docs the tail touched (a dp-pruned
point lookup, bounded by the tail's dp spread), plus the tail winners'
contribution. dl values are integers, so double summation is
order-independent and avgdl reconstructs EXACTLY.

SERVING. One request (bm25_index_search, bm25_index_search_adhoc) runs
ONE Spark action, the scoring query, when the caller collects the
result; the seed path adds the collect of the masked seed rows of the
requested queries (<= _BM25_MAX_QUERIES * slice terms). The rest of the
per-request state is read once, on the driver, from the store's own
parquet files (the store is driver-local):

    1. the tail: its docmeta rows when the parquet footers count at
       most _LOOKUP_CAP of them, resolved to LWW winners with ts carried
       as epoch micros, so the round trip is exact in any time zone;
    2. the corpus statistics: the snapshot totals, minus the fold-side
       contribution of the tail's docs (a point lookup that reads only
       their dp directories and the row groups whose doc_id range covers
       one), plus the tail winners' own contribution;
    3. the postings (_driver_postings): the query terms' tp directories
       in every batch and, in them, the row groups whose term min/max
       covers a query term, when their footers count at most
       _POSTINGS_BUDGET rows. They are cut to the query terms and masked
       against the tail winners on the driver (_visible_rows).

The tail winners, the request's (query_id, term) pairs and the visible
postings go to Spark as local relations built from Arrow tables: they
run no job when used, and caller strings travel as data, never as SQL
text. The postings relation is one partition, which satisfies every
distribution the kernel asks for, so the scoring query plans no
exchange and runs two jobs (the request frame's broadcast and the
collect). Every store read declares its schema, so no read runs a
parquet footer-inference job. Above _POSTINGS_BUDGET the postings are
a pruned Spark scan (_pruned_postings), masked against the tail frame
and spread by term; a tail above _LOOKUP_CAP rows (a fold cadence far
above the default) keeps the distributed path for all three: the tail
frame is recomputed at each use, the stats correction is a dp-pruned
scan in one Spark aggregate, and the postings are the Spark scan.

Scoring is curation.bm25_topk, the batch op's own kernel (one-IEEE-op
rational idf, exact term-score sums, round 6, (score DESC, doc_id)
top-k), so the PARITY CONTRACT holds exactly: search-over-the-store equals
bm25_keyword_search over the LWW-current corpus (updated texts in,
tombstoned docs out), across a checkpoint restart, pre- and
post-compaction (tests/test_streaming_index.py). Unlike the dedup
stores there is no bucket-cap caveat — BM25 has no candidate cap — so
parity is unconditional given idempotent replay (batch_id-scoped
overwrite, the shared store contract) and the ordering contract above.
A returned frame serves the store as of the call: collect it before
landing more batches.

100 TB/day shape: the per-batch work is one tokenize pass + one
shuffle to (term, doc) groups; the store write appends only the
batch's own postings; a query's serving cost tracks ITS TERMS' posting
lists (directory + row-group pruning make the rest of the store
invisible) plus one broadcast-sized tail mask — which is the inherent
cost of BM25 — df grows with the corpus, the scan of unrelated terms
does not. MEASURED (tools/index_probe.py, SCALE_PROBE_INDEX.json):
serving time is FLAT across three decades of store growth with the
workload's own lists held fixed.

Store maintenance goes through the store rails (store.py):
compact_retrieval_store folds committed batches of ALL FOUR text-face
stores (postings, docmeta, seeds, stats snapshot) into one directory
each (layouts preserved; id-horizon + commits-log validation;
underscore-prefixed crash staging), invoked every `compact_every`
batches by default. FOLD ORDER: the data stores (postings and seeds; the
hybrid index adds its vectors and dense seeds) fold at the same time,
then the stats snapshot, then docmeta, all derived from ONE read and
aggregation of the ledger. The snapshot is the fold horizon the tail
mask starts after, so it moves only once no data store holds an
unmasked row at or below it. The stream runs a batch's fold beside that
batch's land (_fold_and_land): the land only appends its own batch_id
directories, and the fold reads only the batches below it.
"""

from __future__ import annotations

from functools import partial
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import (
    _BM25_EVERY,
    _BM25_MAX_QUERIES,
    _BM25_QSLICE,
    bm25_topk,
)
from ..operators.textops import tokens_col
from ..tables import spread
from .store import (
    _DOCMETA_SCHEMA,
    _LOOKUP_CAP,
    _POSTINGS_BUDGET,
    _LwwStore,
    _assert_layout,
    _cols,
    _compact_lww_stores,
    _dp_col,
    _driver_files,
    _driver_read,
    _fold_horizon,
    _ledger_read,
    _ledger_write,
    _lww,
    _lww_rows,
    _mask_visible,
    _read_store,
    _run_concurrently,
    _statsnap_totals,
    _tp_col,
    _visible_rows,
)

INDEX_DROP_SCHEMA = (
    "doc_id bigint, text string, ingest_ts timestamp, deleted boolean"
)
# Declared schemas of the text-face stores (store.py says why). The
# postings' tp is a partition column (int); the seeds' tp is a data
# column (bigint).
_POSTING_SCHEMA = (
    "term string, doc_id bigint, tf bigint, dl bigint, ts timestamp, "
    "tp int, batch_id int"
)
_SEED_SCHEMA = (
    "query_id bigint, term string, tp bigint, ts timestamp, batch_id int"
)
# _POSTING_SCHEMA's data columns as the driver reads them (_driver_read)
_POSTING_ARROW = pa.schema(
    [
        ("term", pa.string()),
        ("doc_id", pa.int64()),
        ("tf", pa.int64()),
        ("dl", pa.int64()),
        ("ts_us", pa.int64()),
    ]
)


def _local_frame(spark: SparkSession, **cols: pa.Array) -> DataFrame:
    """Driver-side columns as a Spark local relation. Built from an
    Arrow table, the frame runs no Spark job to build, collect or join
    against (a Python list given to createDataFrame becomes an RDD, and
    each use of it runs a job), and strings travel as data, never as
    SQL text."""
    return spark.createDataFrame(pa.table(cols))


def _land_text(
    batch: DataFrame, batch_id: int, state_dir: str, *more_writes
) -> None:
    """Land one micro-batch's lexical index state: tp-partitioned
    term-sorted version-stamped postings, the dp-partitioned docmeta
    version ledger (tombstones included), and the bounded version-
    stamped seed-query sidecar (<= _BM25_MAX_QUERIES docs ever). Shared
    by bm25_index_stream and hybrid_index_stream, whose dense writes
    come in as `more_writes` thunks. Append-only: updates and deletes
    are resolved at serve time (tail mask) and at compaction (global
    LWW fold), never by reading the store here. All writes run at the
    same time (the module docstring says why that is safe); the streams
    persist the batch they share, so it is computed once."""
    deleted = F.coalesce(F.col("deleted"), F.lit(False))
    live = batch.filter(~deleted)
    toked = live.select(
        "doc_id",
        F.col("ingest_ts").alias("ts"),
        F.filter(tokens_col(), lambda t: t != "").alias("toks"),
    )
    postings = (
        toked.select(
            "doc_id",
            "ts",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl", "ts")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn("tp", _tp_col())
    )
    docmeta = batch.select(
        "doc_id",
        F.col("ingest_ts").alias("ts"),
        deleted.alias("deleted"),
        F.when(deleted, F.lit(None).cast("long"))
        .otherwise(
            F.size(F.filter(tokens_col(), lambda t: t != "")).cast("long")
        )
        .alias("dl"),
    )
    seeds = (
        toked.filter(
            (F.col("doc_id") % _BM25_EVERY == 0)
            & (F.col("doc_id") < _BM25_EVERY * _BM25_MAX_QUERIES)
        )
        .select(
            F.col("doc_id").alias("query_id"),
            "ts",
            F.explode(
                F.array_distinct(F.slice("toks", *_BM25_QSLICE))
            ).alias("term"),
        )
        .withColumn("tp", _tp_col())
        .select(*_cols(_SEED_SCHEMA))
    )
    _run_concurrently(
        batch.sparkSession,
        # sorted by the partition column first: partitionBy's write
        # sorts each task by tp alone unless the rows already are, which
        # would drop the term order the row-group skipping relies on
        partial(
            postings.repartition("tp")
            .sortWithinPartitions("tp", "term")
            .write.mode("overwrite")
            .partitionBy("tp")
            .parquet,
            f"{state_dir}/postings/batch_id={batch_id}",
        ),
        _ledger_write(docmeta, state_dir, batch_id),
        partial(
            seeds.write.mode("overwrite").parquet,
            f"{state_dir}/seeds/batch_id={batch_id}",
        ),
        *more_writes,
    )


class _Tail(NamedTuple):
    """One request's view of the uncompacted tail (docmeta batches
    newer than the last fold)."""

    fold_id: int  # the last fold's batch id; -1 before the first fold
    frame: DataFrame  # LWW winners: doc_id, ts, deleted, dl
    # the driver-read winners (doc_id, ts_us, deleted, dl, dp); None
    # above _LOOKUP_CAP, where `frame` is the distributed LWW instead
    rows: list | None
    # above _LOOKUP_CAP, the docmeta store read once per request
    docmeta: DataFrame | None = None


def _serve_tail(spark: SparkSession, state_dir: str) -> _Tail:
    """The tail's LWW winners, once per request. Up to _LOOKUP_CAP
    ledger rows they are read and resolved on the driver and served
    back as a local relation, with no Spark job; above it the frame
    stays the distributed LWW, recomputed at each use."""
    _assert_layout(state_dir)
    # read once: the corpus statistics (_live_stats) must correct the
    # snapshot at the same horizon this tail starts after
    fold_id = _fold_horizon(state_dir)
    rows = _ledger_read(state_dir, lambda i: i > fold_id, cap=_LOOKUP_CAP)
    if rows is None:
        dm = _read_store(
            spark, f"{state_dir}/docmeta", "docmeta store dir", _DOCMETA_SCHEMA
        )
        tail = _lww(dm.filter(F.col("batch_id") > fold_id))
        return _Tail(fold_id, tail, None, dm)
    rows = _lww_rows(rows)
    local = _local_frame(
        spark,
        doc_id=pa.array([r["doc_id"] for r in rows], pa.int64()),
        ts_us=pa.array([r["ts_us"] for r in rows], pa.int64()),
        deleted=pa.array([r["deleted"] for r in rows], pa.bool_()),
        dl=pa.array([r["dl"] for r in rows], pa.int64()),
    ).select(
        "doc_id", F.timestamp_micros("ts_us").alias("ts"), "deleted", "dl"
    )
    return _Tail(fold_id, local, rows)


_TRIPLET = ("n_docs", "n_len", "sum_dl")


def _triplet(winners: list[dict]) -> tuple[int, int, int]:
    """The (n_docs, n_len, sum_dl) contribution of driver winner rows:
    tombstones excluded, null-text docs count toward N but not avgdl
    (the batch op's count(*) vs avg(len) split)."""
    dls = [r["dl"] for r in winners if r["deleted"] is False]
    kept = [d for d in dls if d is not None]
    return len(dls), len(kept), sum(kept)


def _contrib(winners: DataFrame, sign: int) -> DataFrame:
    """_triplet per winner row of a distributed frame, times `sign`."""
    return winners.filter(~F.col("deleted")).select(
        F.lit(sign).cast("long").alias("n_docs"),
        (F.col("dl").isNotNull().cast("long") * sign).alias("n_len"),
        (F.coalesce(F.col("dl"), F.lit(0)) * sign)
        .cast("long")
        .alias("sum_dl"),
    )


def _fold_touched(tail: _Tail) -> DataFrame:
    """Above the cap: fold-side LWW winners of the docs the tail
    touched, a dp-pruned scan semi-joined to the tail."""
    fold = tail.docmeta.filter(F.col("batch_id") <= tail.fold_id)
    tdps = [
        r["dp"]
        for r in tail.frame.select(_dp_col().alias("dp")).distinct().collect()
    ]
    return _lww(fold.filter(F.col("dp").isin(sorted(tdps)))).join(
        tail.frame.select("doc_id"), "doc_id", "left_semi"
    )


def _live_stats(state_dir: str, tail: _Tail) -> tuple[float, float]:
    """Exact (N, avgdl) over the LWW-current corpus, without an
    O(corpus) pass: last snapshot totals, minus the fold-live
    contribution of tail-touched docs, plus the tail winners'
    contribution. All arithmetic on integer triplets; the final
    division is the batch op's one IEEE divide. Below the cap every
    part is read on the driver (the fold side through a point lookup
    of the tail's docs in every docmeta batch <= the horizon, which
    also covers a crash between the snapshot and the docmeta fold);
    above it the two corrections are one Spark aggregate."""
    parts = [_statsnap_totals(state_dir, tail.fold_id)]
    if tail.rows is not None:
        parts.append(_triplet(tail.rows))
        if tail.fold_id >= 0:
            touched = _ledger_read(
                state_dir, lambda i: i <= tail.fold_id, docs=tail.rows
            )
            parts.append(tuple(-v for v in _triplet(_lww_rows(touched))))
    else:
        diff = _contrib(tail.frame, 1)
        if tail.fold_id >= 0:
            diff = diff.unionByName(_contrib(_fold_touched(tail), -1))
        r = diff.agg(
            *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in _TRIPLET]
        ).collect()[0]
        parts.append(tuple(r[c] for c in _TRIPLET))
    n_docs, n_len, sum_dl = (sum(p) for p in zip(*parts))
    n = float(n_docs)
    avgdl = float(sum_dl) / float(n_len) if n_len else float("nan")
    return n, avgdl


_TEXT_STORES = (
    _LwwStore(
        "postings", _POSTING_SCHEMA, ["tp"], "postings index store dir",
        sort_by="term",
    ),
    _LwwStore("seeds", _SEED_SCHEMA, [], "seed sidecar dir", "query_id"),
)


def compact_retrieval_store(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
) -> int:
    """Fold text-face batches [0, upto) into ONE directory per store
    (the crash-staged store rails, store.py), applying the global LWW
    mask: superseded-version and tombstoned-doc postings/seeds are
    physically dropped; docmeta folds to one winner row per doc with
    TOMBSTONES RETAINED (they must suppress any not-yet-arrived older
    version); the per-dp stats snapshot is rewritten so serve-time
    corpus constants never rescan the corpus. The mask, the snapshot
    and the docmeta fold derive from one read and aggregation of the
    ledger. The postings and seeds folds run at the same time; the fold
    order is data stores -> stats snapshot -> docmeta
    (_compact_lww_stores says why). The folded postings hold one file
    per tp directory, sorted by term like a landed batch's, so
    row-group skipping by term (the Spark scan's IN predicate, the
    driver read's footer budget) works on the folded base too; the
    search face never relies on the order for correctness.
    Returns directories removed."""
    return _compact_lww_stores(
        spark, state_dir, upto, checkpoint_dir, _TEXT_STORES
    )


def _fold_and_land(fold, land, compact_every: int | None):
    """The foreachBatch stage of both index streams. Batch n lands
    through `land(batch, n)`; every `compact_every`-th batch also folds
    the committed batches [0, n) through `fold(n)`, at the same time as
    its land (_run_concurrently). The land is append-only, which is what
    lets the two share a batch (store.py, A FOLD BESIDE A LAND): if
    either fails, batch n stays uncommitted and replays both."""

    def stage(batch: DataFrame, batch_id: int) -> None:
        due = compact_every and batch_id > 0 and batch_id % compact_every == 0
        batch = batch.persist()
        try:
            writes = [partial(land, batch, batch_id)]
            if due:
                writes.insert(0, partial(fold, batch_id))
            _run_concurrently(batch.sparkSession, *writes)
        finally:
            batch.unpersist()

    return stage


def bm25_index_stream(
    spark: SparkSession,
    drop_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1000,
    compact_every: int | None = 64,
):
    """Run the index-maintenance stream over all available drops
    (availableNow) and block until done; returns the finished
    StreamingQuery. Re-invoke with the same checkpoint_dir to resume —
    only new files process, and replayed batches overwrite their own
    prior store partitions (idempotent replay, the shared contract).
    Drops may carry deleted=true tombstones and re-ingested versions of
    earlier doc_ids (LWW by ingest_ts; see the module contract).
    Every `compact_every`-th batch n folds batches [0, n) at the same
    time as it lands (_fold_and_land). `compact_every` defaults to 64;
    to TUNE it for a deployment's serve:ingest ratio, feed the measured
    curve (SCALE_PROBE_COMPACTION.json, store "bm25_index") to
    compaction_policy.recommend_fold_cadence — the cadence trades fold
    cost against the tail serve tax, cost knob only (serve answers are
    probe-asserted bit-identical at every fold state)."""

    raw = (
        spark.readStream.schema(INDEX_DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )
    stage = _fold_and_land(
        lambda upto: compact_retrieval_store(
            spark, state_dir, upto, checkpoint_dir=checkpoint_dir
        ),
        lambda batch, batch_id: _land_text(batch, batch_id, state_dir),
        compact_every,
    )
    q = (
        raw.writeStream.queryName("bm25_index_stream")
        .foreachBatch(stage)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _pruned_postings(
    spark: SparkSession,
    postings_dir: str,
    terms: list[tuple[str, int]],
):
    """Above _POSTINGS_BUDGET (or without a driver-read tail): landed
    posting rows pruned to the query terms, as a Spark scan. tp literals
    prune partitions at the directory level, the term IN-list pushes to
    the parquet scan (row-group min/max skipping against the
    term-sorted files). `terms` is bounded (the seed workload), so both
    predicates are static literals. Rows are version-stamped; callers
    mask visibility with _mask_visible."""
    store = _read_store(
        spark, postings_dir, "postings index store dir", _POSTING_SCHEMA
    )
    tps = sorted({tp for _, tp in terms})
    return (
        store.filter(F.col("tp").isin(tps))
        .filter(F.col("term").isin(sorted({t for t, _ in terms})))
        .select(*_cols(_POSTING_SCHEMA))
    )


def _driver_postings(
    postings_dir: str, terms: list[tuple[str, int]], tail: list[dict]
) -> pa.Table | None:
    """The query terms' visible posting rows, read on the driver: the
    terms' tp directories in every batch, in them only the row groups
    whose term min/max covers a query term, cut to the terms and masked
    against the driver-read tail winners (_visible_rows). None, before
    any row is read, when the footers count more than _POSTINGS_BUDGET
    rows in those row groups."""
    files = _driver_files(
        postings_dir,
        "postings index store dir",
        lambda i: True,
        {tp for _, tp in terms},
    )
    rows = _driver_read(
        files,
        _POSTING_ARROW,
        "term",
        sorted({t for t, _ in terms}),
        cap=_POSTINGS_BUDGET,
    )
    return None if rows is None else _visible_rows(rows, tail)


def bm25_index_search(
    spark: SparkSession, state_dir: str, query_ids: list[int] | None = None
) -> DataFrame:
    """Serve the landed horizon: BM25 top-k for the stored seed queries
    (optionally a subset — the single-query serving path the pruning
    exists for), scored by the batch op's kernel (bm25_topk) with the
    update/delete tail mask applied to seeds and candidates.
    Output schema == bm25_keyword_search's: (query_id, rank, doc_id,
    score, n_matched_terms)."""
    tail = _serve_tail(spark, state_dir)
    return _seed_search(spark, state_dir, tail, query_ids)


def _seed_search(
    spark: SparkSession, state_dir: str, tail: _Tail, query_ids
) -> DataFrame:
    seeds = _read_store(
        spark, f"{state_dir}/seeds", "seed sidecar dir", _SEED_SCHEMA
    )
    if query_ids is not None:
        seeds = seeds.filter(F.col("query_id").isin(list(query_ids)))
    # bounded model-state collect: <= _BM25_MAX_QUERIES * slice terms
    rows = {
        (r["query_id"], r["term"], r["tp"])
        for r in _mask_visible(seeds, tail.frame, key="query_id")
        .select("query_id", "term", "tp")
        .collect()
    }
    pairs = sorted((q, t) for q, t, _ in rows)
    terms = sorted({(t, tp) for _, t, tp in rows})
    return _serve_workload(spark, state_dir, tail, pairs, terms)


def bm25_index_search_adhoc(
    spark: SparkSession, state_dir: str, queries: dict[int, str]
) -> DataFrame:
    """Serve AD-HOC query strings against the landed index — the
    request path a search/RAG deployment actually exposes (the stored
    seed workload exists for the registered oracle; a user's query is
    not a corpus document). `queries` maps query_id -> query text,
    tokenized with the corpus rule (whitespace split, empty tokens
    dropped). The corpus rule is the JAVA regex \\s+ (ASCII-only:
    [ \\t\\n\\x0b\\f\\r]), so the Python split here must use the same
    ASCII class — Python's \\s also matches Unicode whitespace (e.g.
    \\u00a0), which would tokenize a query differently from the same
    text ingested as a document (ADVICE r11). Dropping empty tokens
    subsumes the Spark side's trim. The bounded term list prunes the
    postings read exactly as the seed path does, and the same
    update/delete tail mask applies. Same output schema as
    bm25_index_search."""
    tail = _serve_tail(spark, state_dir)
    return _adhoc_search(spark, state_dir, tail, queries)


def _adhoc_search(
    spark: SparkSession, state_dir: str, tail: _Tail, queries: dict[int, str]
) -> DataFrame:
    import re

    pairs = sorted(
        {
            (int(qid), t)
            for qid, text in queries.items()
            for t in re.split(r"[ \t\n\x0b\f\r]+", text)
            if t != ""
        }
    )
    if not pairs:
        raise ValueError("no non-empty query terms in the ad-hoc workload")
    # term -> tp through the engine's own hash, over a local relation of
    # the distinct terms: the collect runs no job
    distinct = sorted({t for _, t in pairs})
    terms = [
        (r["term"], r["tp"])
        for r in _local_frame(spark, term=pa.array(distinct, pa.string()))
        .select("term", _tp_col().alias("tp"))
        .collect()
    ]
    return _serve_workload(spark, state_dir, tail, pairs, terms)


def _serve_workload(
    spark: SparkSession,
    state_dir: str,
    tail: _Tail,
    pairs: list[tuple[int, str]],
    terms: list[tuple[str, int]],
) -> DataFrame:
    """The shared serving stage: snapshot-corrected corpus constants,
    the query terms' visible postings, and the batch op's scoring
    kernel (bm25_topk) over the request's (query_id, term) pairs. Under
    _POSTINGS_BUDGET the postings are a driver read scored on one
    partition; above it, a pruned Spark scan masked against the tail
    and spread by term."""
    n, avgdl = _live_stats(state_dir, tail)
    queries = _local_frame(
        spark,
        query_id=pa.array([q for q, _ in pairs], pa.int64()),
        term=pa.array([t for _, t in pairs], pa.string()),
    )
    postings_dir = f"{state_dir}/postings"
    rows = None
    if tail.rows is not None:
        rows = _driver_postings(postings_dir, terms, tail.rows)
    if rows is not None:
        # one partition satisfies the distribution of the kernel's df
        # window, aggregate and rank window alike, so it plans no
        # exchange: the scoring query runs the queries' broadcast and
        # the collect
        postings = _local_frame(
            spark,
            doc_id=rows["doc_id"],
            dl=rows["dl"].cast(pa.float64()),
            term=rows["term"],
            tf=rows["tf"].cast(pa.float64()),
        ).coalesce(1)
    else:
        cand = _pruned_postings(spark, postings_dir, terms)
        # ONE pinned-width exchange by term feeds the kernel's df
        # window: left to AQE, the by-term shuffle coalesces to one
        # partition while the query fan-out and aggregation behind it
        # are the CPU-heavy part (the shape bm25_keyword_search pins
        # the same way).
        postings = spread(
            _mask_visible(cand, tail.frame).select(
                "doc_id",
                F.col("dl").cast("double").alias("dl"),
                "term",
                F.col("tf").cast("double").alias("tf"),
            ),
            "term",
        )
    # the result is at most _BM25_TOPK rows per query: one partition
    # sorted locally is the global order, without the range sort's
    # sampling job and exchange. coalesce, not repartition: AQE already
    # runs the window stage as one task on the bench's served rows
    # (sf0.1), so merging into it adds no exchange and costs nothing.
    return (
        bm25_topk(postings, queries, F.lit(n), F.lit(avgdl))
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )
