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
(_run_concurrently, the shared store rails): each reads the persisted
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

SERVING. One request (bm25_index_search, bm25_index_search_adhoc)
computes each piece of per-request state once and runs these Spark
actions:

    1. the tail collect: the tail's LWW winners, at most
       _STATS_LOOKUP_CAP + 1 rows, with ts carried as epoch micros so
       the round trip through the driver is exact in any time zone;
    2. seed path only: the masked seed rows of the requested queries
       (<= _BM25_MAX_QUERIES * slice terms);
    3. the stats aggregate: the snapshot totals minus the fold-side
       contribution of the tail's docs (a dp- and doc_id-IN-pruned
       point lookup) in one aggregate; the tail's own contribution is
       added on the driver from the collected rows;
    4. the scoring query, when the caller collects the result.

The tail winners and the request's (query_id, term) pairs go back to
Spark as local relations built from Arrow tables: they run no job when
used, and caller strings travel as data, never as SQL text. Every store
read declares its schema, so no read runs a parquet footer-inference
job. A tail above _STATS_LOOKUP_CAP docs (a fold cadence far above the
default) keeps the distributed path: the tail frame is recomputed at
each use and the stats correction falls back to a dp-pruned scan.

Scoring uses the batch op's expressions VERBATIM (one-IEEE-op rational
idf, exact term-score sums, round 6, (score DESC, doc_id) top-k), so
the PARITY CONTRACT holds exactly: search-over-the-store equals
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

Store maintenance is the shared rails: compact_retrieval_store folds
committed batches of ALL FOUR text-face stores (postings, docmeta,
seeds, stats snapshot) into one directory each (layouts preserved;
id-horizon + commits-log validation; underscore-prefixed crash
staging), invoked every `compact_every` batches by default. FOLD
ORDER: the data stores (postings and seeds; the hybrid index adds its
vectors and dense seeds) fold at the same time, then the stats
snapshot, then docmeta. The snapshot is the fold horizon the tail mask
starts after, so it moves only once no data store holds an unmasked
row at or below it.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import partial, reduce
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.curation import (
    _BM25_B,
    _BM25_EVERY,
    _BM25_K1,
    _BM25_MAX_QUERIES,
    _BM25_QSLICE,
    _BM25_TOPK,
)
from ..operators.textops import tokens_col
from ..tables import spread
from .curation_funnel import (
    _COMPACT_TMP_PREFIX,
    _assert_local_dir,
    _assert_no_compact_leftover,
    _compact_batch_store,
    _run_concurrently,
)

INDEX_DROP_SCHEMA = (
    "doc_id bigint, text string, ingest_ts timestamp, deleted boolean"
)
# Store-layout fan: tp/dp prefix-partition counts trade read-side
# pruning granularity against file count (one parquet file per prefix
# dir per landed batch — guide §6's small-files cost is paid per file
# PER SERVE). r14: 64/32 -> 16/8 measured -18% on the four *_served_lww
# bench rows (5.48 s -> 4.51 s within one window): at fixture scale the
# per-file open cost dominated the pruned scans (32 one-file tasks of
# ~65 ms fixed cost each). A production store whose per-prefix files
# reach the 128 MB-1 GB band should RAISE these via the envs — the
# pruning story is unchanged, only the fan width.
from ..tables import _env_width as _env_int  # noqa: E402 (defensive env parse)

_TERM_PREFIXES = _env_int("SPARK_GRAFT_TERM_PREFIXES") or 16
_DOC_PREFIXES = _env_int("SPARK_GRAFT_DOC_PREFIXES") or 8
# The prefix moduli are STORE state, not process config: tp/dp are
# recomputed at serve and compaction time, so a store landed under one
# modulus and read under another (env drift between ingest and serve
# processes, or an old store after a default change) silently prunes to
# the WRONG partitions — missing postings/docmeta rows, wrong scores,
# no error (ADVICE r14, medium). Landing therefore persists the moduli
# in a one-line manifest on first land, and every later land / serve /
# compaction asserts against it. Pre-manifest stores (no file) are
# trusted as-is — they were written by this process lineage.
_LAYOUT_FILE = "store_layout.json"


def _layout_now() -> dict:
    return {
        "term_prefixes": _TERM_PREFIXES,
        "doc_prefixes": _DOC_PREFIXES,
    }


def _land_layout(state_dir: str) -> None:
    """First land writes the manifest; later lands assert it. The write
    goes to a temp file that replaces the manifest in one step, so a
    crash never leaves a truncated manifest behind."""
    path = os.path.join(state_dir, _LAYOUT_FILE)
    if os.path.exists(path):
        _assert_layout(state_dir)
        return
    os.makedirs(state_dir, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(_layout_now(), f)
    os.replace(tmp, path)


def _assert_layout(state_dir: str) -> None:
    """Fail loudly when the store's persisted prefix moduli disagree
    with this process's module/env values."""
    path = os.path.join(state_dir, _LAYOUT_FILE)
    if not os.path.exists(path):
        return
    with open(path) as f:
        try:
            got = json.load(f)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"store layout manifest {path!r} is unreadable ({e}): "
                "rewrite it as the JSON object of the moduli the store "
                "was landed with, e.g. "
                f"{json.dumps(_layout_now())}"
            ) from None
    want = _layout_now()
    if got != want:
        raise ValueError(
            f"store layout mismatch at {state_dir!r}: landed with "
            f"{got}, this process uses {want} — set "
            "SPARK_GRAFT_TERM_PREFIXES / SPARK_GRAFT_DOC_PREFIXES to "
            "the landed values (changing a store's fan requires a "
            "rewrite, not an env change)"
        )


# tail collect and stats-correction point-lookup cap: tails up to this
# many touched docs are collected once per request, served back as a
# local relation, and resolve their fold-side lookups via a doc_id IN
# literal pushed into the doc_id-sorted folded docmeta (row-group
# skipping); larger tails stay distributed and fall back to the
# dp-pruned scan. Sized to keep the literal list and the driver
# round-trip trivial at streaming cadence.
#
# Measured-and-DECLINED retune (r13, SCALE_PROBE_COMPACTION's
# reproducible bm25 tail=16 bump): at a ~2.5k-doc tail over a 10k-doc
# fold, the dp-pruned fallback served in 5.11 s vs the IN-literal
# path's 6.30 s — thousand-element IN literals carry real driver-side
# planning cost, which is the bump the knob table shows. Lowering the
# cap would invert at the production target: the fallback's fold scan
# grows with the folded corpus (a 1B-doc fold's dp slice is millions
# of rows) while the literal's cost stays O(tail) regardless of fold
# size — the literal is the LSM point-lookup shape the flat serving
# exponent (SCALE_PROBE_INDEX) depends on. The bump is bounded by the
# cap and vanishes at the compaction cadences the stores default to.
_STATS_LOOKUP_CAP = 8192
# Declared store schemas: a read that names its schema runs no parquet
# footer-inference job. Partition columns keep the types Spark infers
# from their directory names (batch_id, tp, dp: int); the seeds' tp is a
# data column (bigint). Every docmeta ledger (the funnel, media and
# semantic stores land theirs too) has _DOCMETA_SCHEMA, so the shared
# ledger folds declare it for all of them.
_POSTING_SCHEMA = (
    "term string, doc_id bigint, tf bigint, dl bigint, ts timestamp, "
    "tp int, batch_id int"
)
_DOCMETA_SCHEMA = (
    "doc_id bigint, ts timestamp, deleted boolean, dl bigint, dp int, "
    "batch_id int"
)
_SEED_SCHEMA = (
    "query_id bigint, term string, tp bigint, ts timestamp, batch_id int"
)
_STATSNAP_SCHEMA = "dp bigint, n_docs bigint, n_len bigint, sum_dl bigint"


def _cols(schema: str) -> list[str]:
    """A store's columns as landed within one batch: its declared
    schema less the batch_id partition."""
    names = [c.split()[0] for c in schema.split(",")]
    return [c for c in names if c != "batch_id"]


def _tp_col(term_col="term"):
    return F.pmod(F.xxhash64(F.col(term_col)), F.lit(_TERM_PREFIXES))


def _dp_col(doc_col="doc_id"):
    return F.pmod(F.xxhash64(F.col(doc_col)), F.lit(_DOC_PREFIXES))


def _read_store(
    spark: SparkSession, store_dir: str, what: str, schema: str | None = None
):
    """Guarded store read: loud on remote URIs (os.path probes would
    misread them), loud when nothing has landed, loud on interrupted-
    compaction leftovers — the cdfe06a discipline, applied uniformly to
    every store and sidecar this module reads. `schema` (a declared
    store schema) spares the read its footer-inference job; callers
    reading another store's layout leave it None."""
    _assert_local_dir(store_dir, what)
    if not os.path.isdir(store_dir):
        raise ValueError(
            f"no {what} at {store_dir!r}: nothing has landed yet "
            "(run bm25_index_stream / hybrid_index_stream first)"
        )
    _assert_no_compact_leftover(store_dir)
    reader = spark.read.option("basePath", store_dir)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(store_dir)


def _local_frame(spark: SparkSession, **cols: pa.Array) -> DataFrame:
    """Driver-side columns as a Spark local relation. Built from an
    Arrow table, the frame runs no Spark job to build, collect or join
    against (a Python list given to createDataFrame becomes an RDD, and
    each use of it runs a job), and strings travel as data, never as
    SQL text."""
    return spark.createDataFrame(pa.table(cols))


def _lww(docmeta: DataFrame) -> DataFrame:
    """One winner row per doc under last-write-wins: max (ts, deleted,
    dl) struct — latest ts wins; an exact-ts tie (ordering-contract
    violation) resolves delete-over-update deterministically."""
    return docmeta.groupBy("doc_id").agg(
        F.max(F.struct("ts", "deleted", "dl")).alias("w")
    ).select(
        "doc_id",
        F.col("w.ts").alias("ts"),
        F.col("w.deleted").alias("deleted"),
        F.col("w.dl").alias("dl"),
    )


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
    _land_layout(state_dir)
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
    ).withColumn("dp", _dp_col())
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
        partial(
            postings.repartition("tp")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("tp")
            .parquet,
            f"{state_dir}/postings/batch_id={batch_id}",
        ),
        partial(
            docmeta.repartition("dp")
            .write.mode("overwrite")
            .partitionBy("dp")
            .parquet,
            f"{state_dir}/docmeta/batch_id={batch_id}",
        ),
        partial(
            seeds.write.mode("overwrite").parquet,
            f"{state_dir}/seeds/batch_id={batch_id}",
        ),
        *more_writes,
    )


def _fold_horizon(state_dir: str) -> int:
    """Last stats-snapshot id S: docmeta batches with id <= S are
    covered by the snapshot (and, barring a crash window that the next
    fold repairs, physically folded). -1 when never compacted."""
    snap_dir = f"{state_dir}/statsnap"
    if not os.path.isdir(snap_dir):
        return -1
    _assert_no_compact_leftover(snap_dir)
    ids = [
        int(e.split("=", 1)[1])
        for e in os.listdir(snap_dir)
        if e.startswith("batch_id=") and e.split("=", 1)[1].isdigit()
    ]
    return max(ids) if ids else -1


def _tail_live(spark: SparkSession, state_dir: str, fold_id: int):
    """LWW winners among docmeta batches NEWER than the last fold —
    the serve-time visibility mask. Bounded by compaction cadence
    (everything older was already masked physically by the fold), so
    the join against it broadcasts; before the first fold it is the
    global LWW (exact for any arrival order)."""
    dm = _read_store(spark, f"{state_dir}/docmeta", "docmeta store dir")
    return _lww(dm.filter(F.col("batch_id") > fold_id))


def _mask_visible(rows: DataFrame, tail: DataFrame, key: str = "doc_id"):
    """Visibility under the tail mask: a version-stamped row survives
    iff its doc has no tail version, or it IS the tail winner and that
    winner is not a tombstone. Requires the ordering contract (per-doc
    nondecreasing ts); compaction repairs violations globally."""
    t = tail.select(
        F.col("doc_id").alias(key),
        F.col("ts").alias("_t_ts"),
        F.col("deleted").alias("_t_del"),
    )
    return (
        rows.join(t, key, "left")
        .filter(
            F.col("_t_ts").isNull()
            | ((F.col("ts") == F.col("_t_ts")) & ~F.col("_t_del"))
        )
        .drop("_t_ts", "_t_del")
    )


class _Tail(NamedTuple):
    """One request's view of the uncompacted tail (docmeta batches
    newer than the last fold)."""

    fold_id: int  # the last fold's batch id; -1 before the first fold
    docmeta: DataFrame  # the docmeta store, read once per request
    frame: DataFrame  # LWW winners: doc_id, ts, deleted, dl
    # the collected winners (doc_id, ts_us, deleted, dl, dp); None above
    # _STATS_LOOKUP_CAP, where `frame` is the distributed LWW instead
    rows: list | None


def _serve_tail(spark: SparkSession, state_dir: str) -> _Tail:
    """Collect the tail's LWW winners once per request and serve them
    back as a local relation. The tail is bounded by the fold cadence;
    above _STATS_LOOKUP_CAP docs the frame stays the distributed LWW,
    recomputed at each use."""
    _assert_layout(state_dir)
    fold_id = _fold_horizon(state_dir)
    dm = _read_store(
        spark, f"{state_dir}/docmeta", "docmeta store dir", _DOCMETA_SCHEMA
    )
    tail = _lww(dm.filter(F.col("batch_id") > fold_id))
    rows = (
        tail.select(
            "doc_id",
            F.unix_micros("ts").alias("ts_us"),
            "deleted",
            "dl",
            _dp_col().alias("dp"),
        )
        .limit(_STATS_LOOKUP_CAP + 1)
        .collect()
    )
    if len(rows) > _STATS_LOOKUP_CAP:
        return _Tail(fold_id, dm, tail, None)
    local = _local_frame(
        spark,
        doc_id=pa.array([r["doc_id"] for r in rows], pa.int64()),
        ts_us=pa.array([r["ts_us"] for r in rows], pa.int64()),
        deleted=pa.array([r["deleted"] for r in rows], pa.bool_()),
        dl=pa.array([r["dl"] for r in rows], pa.int64()),
    ).select(
        "doc_id", F.timestamp_micros("ts_us").alias("ts"), "deleted", "dl"
    )
    return _Tail(fold_id, dm, local, rows)


_TRIPLET = ("n_docs", "n_len", "sum_dl")


def _contrib(winners: DataFrame, sign: int) -> DataFrame:
    """Each live winner row's (n_docs, n_len, sum_dl) contribution,
    times `sign`: tombstones excluded, null-text docs count toward N
    but not avgdl (the batch op's count(*) vs avg(len) split)."""
    return winners.filter(~F.col("deleted")).select(
        F.lit(sign).cast("long").alias("n_docs"),
        (F.col("dl").isNotNull().cast("long") * sign).alias("n_len"),
        (F.coalesce(F.col("dl"), F.lit(0)) * sign)
        .cast("long")
        .alias("sum_dl"),
    )


def _fold_touched(tail: _Tail) -> DataFrame | None:
    """Fold-side LWW winners of the docs the tail touched. Below the
    cap the fold read carries dp and doc_id IN literals that
    row-group-skip inside the doc_id-sorted folded files (the LSM
    point-lookup shape — about one row group per touched doc, so
    serving stays flat in corpus size); above it, a dp-pruned scan
    semi-joined to the tail."""
    fold = tail.docmeta.filter(F.col("batch_id") <= tail.fold_id)
    if tail.rows is not None:
        if not tail.rows:
            return None
        dps = sorted({r["dp"] for r in tail.rows})
        docs = sorted({r["doc_id"] for r in tail.rows})
        return _lww(
            fold.filter(F.col("dp").isin(dps)).filter(
                F.col("doc_id").isin(docs)
            )
        )
    tdps = [
        r["dp"]
        for r in tail.frame.select(_dp_col().alias("dp")).distinct().collect()
    ]
    return _lww(fold.filter(F.col("dp").isin(sorted(tdps)))).join(
        tail.frame.select("doc_id"), "doc_id", "left_semi"
    )


def _live_stats(
    spark: SparkSession, state_dir: str, tail: _Tail
) -> tuple[float, float]:
    """Exact (N, avgdl) over the LWW-current corpus, without an
    O(corpus) pass: last snapshot totals, minus the fold-live
    contribution of tail-touched docs, plus the tail winners'
    contribution. All arithmetic on integer triplets; the final
    division is the batch op's one IEEE divide. Below the cap the tail
    part is summed on the driver and the rest is one aggregate."""
    parts = []
    total = (0, 0, 0)
    if tail.rows is None:
        parts.append(_contrib(tail.frame, 1))
    else:
        dls = [r["dl"] for r in tail.rows if not r["deleted"]]
        kept = [d for d in dls if d is not None]
        total = (len(dls), len(kept), sum(kept))
    if tail.fold_id >= 0:
        parts.append(
            spark.read.schema(_STATSNAP_SCHEMA)
            .parquet(f"{state_dir}/statsnap/batch_id={tail.fold_id}")
            .select(*_TRIPLET)
        )
        touched = _fold_touched(tail)
        if touched is not None:
            parts.append(_contrib(touched, -1))
    if parts:
        r = reduce(DataFrame.unionByName, parts).agg(
            *[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in _TRIPLET]
        ).collect()[0]
        total = tuple(t + r[c] for t, c in zip(total, _TRIPLET))
    n_docs, n_len, sum_dl = total
    n = float(n_docs)
    avgdl = float(sum_dl) / float(n_len) if n_len else float("nan")
    return n, avgdl


def _write_statsnap(spark: SparkSession, state_dir: str, upto: int) -> None:
    """Per-dp integer stats of the live corpus over docmeta batches
    [0, upto), staged under the underscore crash prefix and swapped in;
    older snapshots removed after the rename (readers take the max id,
    so a crash between rename and removal is harmless)."""
    snap_dir = f"{state_dir}/statsnap"
    if os.path.isdir(os.path.join(snap_dir, f"batch_id={upto - 1}")):
        # a snapshot at this exact horizon already exists (a re-run
        # fold at an unchanged upto — idempotent replay of a compaction
        # batch, or the funnel's per-main-batch fold over a sibling
        # ledger that only grows per INVOCATION): the snapshot is a
        # pure function of docmeta[0, upto), whose winner rows any
        # prior fold preserved, so a rewrite would produce identical
        # content — skip instead of colliding on the rename (r12).
        return
    dm = _read_store(
        spark, f"{state_dir}/docmeta", "docmeta store dir", _DOCMETA_SCHEMA
    )
    live = (
        _lww(dm.filter(F.col("batch_id") < upto))
        .filter(~F.col("deleted"))
        .withColumn("dp", _dp_col())
    )
    snap = live.groupBy("dp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("dl").cast("long").alias("n_len"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    os.makedirs(snap_dir, exist_ok=True)
    _assert_no_compact_leftover(snap_dir)
    tmp = os.path.join(snap_dir, f"{_COMPACT_TMP_PREFIX}batch_id={upto - 1}")
    snap.coalesce(1).write.mode("overwrite").parquet(tmp)
    olds = [
        e
        for e in os.listdir(snap_dir)
        if e.startswith("batch_id=") and e != f"batch_id={upto - 1}"
    ]
    os.rename(tmp, os.path.join(snap_dir, f"batch_id={upto - 1}"))
    for e in olds:
        shutil.rmtree(os.path.join(snap_dir, e))


def _alive_of(spark: SparkSession, state_dir: str, upto: int):
    """(doc_id, ts) of LWW winners that are not tombstones, over
    docmeta batches [0, upto) — the physical-drop mask shared by every
    LWW store fold (postings/seeds/vectors/vecseeds here, vectors/
    verdicts in semantic_dedup, the funnel's and media's stores)."""
    dm = _read_store(
        spark, f"{state_dir}/docmeta", "docmeta store dir", _DOCMETA_SCHEMA
    )
    return (
        _lww(dm.filter(F.col("batch_id") < upto))
        .filter(~F.col("deleted"))
        .select("doc_id", "ts")
    )


def _fold_ledger(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
) -> int:
    """Fold the docmeta version ledger [0, upto) to one winner row per
    doc (tombstones RETAINED — they must suppress any not-yet-arrived
    older version; doc_id-sorted within dp for point lookups) and write
    the per-dp stats snapshot. Snapshot BEFORE the docmeta fold: every
    crash window then serves exactly — a snapshot at id S with unfolded
    docmeta dirs <= S is fine (the correction's fold-read filter
    batch_id <= S still sees them), whereas a docmeta fold without its
    snapshot would make the serve-time correction double-count the
    folded rows."""
    _write_statsnap(spark, state_dir, upto)
    return _compact_batch_store(
        spark,
        f"{state_dir}/docmeta",
        upto,
        cols=_cols(_DOCMETA_SCHEMA),
        partition_cols=["dp"],
        what="docmeta store dir",
        checkpoint_dir=checkpoint_dir,
        # doc_id-sorted within dp partitions: the stats correction's
        # point lookups row-group-skip against the sorted min/max stats
        transform=lambda df: _lww(df)
        .withColumn("dp", _dp_col())
        .repartition("dp")
        .sortWithinPartitions("doc_id"),
        force=True,
        schema=_DOCMETA_SCHEMA,
    )


class _LwwStore(NamedTuple):
    """A version-stamped data store that folds under the ledger's LWW
    mask: rows survive iff (key, ts) is a live winner."""

    name: str  # subdirectory of the state dir
    schema: str  # declared schema, batch_id partition included
    partition_cols: list[str]
    what: str
    key: str  # the doc column: doc_id, or query_id in a seed sidecar


_TEXT_STORES = (
    _LwwStore(
        "postings", _POSTING_SCHEMA, ["tp"], "postings index store dir",
        "doc_id",
    ),
    _LwwStore("seeds", _SEED_SCHEMA, [], "seed sidecar dir", "query_id"),
)


def _compact_lww_stores(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None,
    stores: tuple[_LwwStore, ...],
) -> int:
    """Fold `stores` and then the ledger over batches [0, upto). The
    data-store folds are independent and run at the same time; the
    ledger folds only after ALL of them have succeeded. FOLD ORDER:
    data stores -> stats snapshot -> docmeta. The snapshot is the fold
    horizon the serve-time tail mask starts after, so it may advance
    only once no store holds an unmasked row at or below it: a crash
    before it leaves masked data stores beside an unfolded ledger,
    which the tail mask re-masks harmlessly (rows it would drop are
    already gone), while a horizon moved ahead of an unfolded store
    would serve that store's superseded and tombstoned rows until the
    replayed fold. Returns directories removed."""
    _assert_layout(state_dir)
    if not os.path.isdir(f"{state_dir}/docmeta"):
        return 0  # nothing landed yet — nothing to fold
    alive = _alive_of(spark, state_dir, upto)

    def fold(store: _LwwStore):
        mask = alive.withColumnRenamed("doc_id", store.key)
        return partial(
            _compact_batch_store,
            spark,
            f"{state_dir}/{store.name}",
            upto,
            cols=_cols(store.schema),
            partition_cols=store.partition_cols,
            what=store.what,
            checkpoint_dir=checkpoint_dir,
            transform=lambda df: df.join(mask, [store.key, "ts"]),
            force=True,
            schema=store.schema,
        )

    removed = sum(_run_concurrently(spark, *map(fold, stores)))
    return removed + _fold_ledger(spark, state_dir, upto, checkpoint_dir)


def compact_retrieval_store(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
) -> int:
    """Fold text-face batches [0, upto) into ONE directory per store
    (the shared _compact_batch_store rails), applying the global LWW
    mask: superseded-version and tombstoned-doc postings/seeds are
    physically dropped; docmeta folds to one winner row per doc with
    TOMBSTONES RETAINED (they must suppress any not-yet-arrived older
    version); the per-dp stats snapshot is rewritten so serve-time
    corpus constants never rescan the corpus. The postings and seeds
    folds run at the same time; the fold order is data stores -> stats
    snapshot -> docmeta (_compact_lww_stores says why). Term order
    within folded postings files follows the kernel's read order and is
    NOT guaranteed sorted — the search face never relies on sortedness
    for correctness (the IN predicate is exact either way; sortedness
    only sharpens row-group skipping on freshly-landed batches).
    Returns directories removed."""
    return _compact_lww_stores(
        spark, state_dir, upto, checkpoint_dir, _TEXT_STORES
    )


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
    `compact_every` defaults to 64; to TUNE it for a deployment's
    serve:ingest ratio, feed the measured curve
    (SCALE_PROBE_COMPACTION.json, store "bm25_index") to
    compaction_policy.recommend_fold_cadence — the cadence trades fold
    cost against the tail serve tax, cost knob only (serve answers are
    probe-asserted bit-identical at every fold state)."""

    raw = (
        spark.readStream.schema(INDEX_DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )

    def stage(batch: DataFrame, batch_id: int) -> None:
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_retrieval_store(
                spark, state_dir, upto=batch_id,
                checkpoint_dir=checkpoint_dir,
            )
        batch = batch.persist()
        try:
            _land_text(batch, batch_id, state_dir)
        finally:
            batch.unpersist()

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
    """Landed posting rows pruned to the query terms: tp literals prune
    partitions at the directory level, the term IN-list pushes to the
    parquet scan (row-group min/max skipping against the term-sorted
    files). `terms` is bounded (the seed workload), so both predicates
    are static literals. Rows are version-stamped; callers mask
    visibility with _mask_visible."""
    store = _read_store(
        spark, postings_dir, "postings index store dir", _POSTING_SCHEMA
    )
    tps = sorted({tp for _, tp in terms})
    return (
        store.filter(F.col("tp").isin(tps))
        .filter(F.col("term").isin(sorted({t for t, _ in terms})))
        .select(*_cols(_POSTING_SCHEMA))
    )


def bm25_index_search(
    spark: SparkSession, state_dir: str, query_ids: list[int] | None = None
) -> DataFrame:
    """Serve the landed horizon: BM25 top-k for the stored seed queries
    (optionally a subset — the single-query serving path the pruning
    exists for), with the batch op's scoring expressions verbatim and
    the update/delete tail mask applied to seeds and candidates.
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
    tp-pruned + term-IN-pushed postings read, tail visibility mask,
    and the batch op's scoring expressions verbatim over the request's
    (query_id, term) pairs."""
    n, avgdl = _live_stats(spark, state_dir, tail)
    queries = _local_frame(
        spark,
        query_id=pa.array([q for q, _ in pairs], pa.int64()),
        term=pa.array([t for _, t in pairs], pa.string()),
    )
    cand = _pruned_postings(spark, f"{state_dir}/postings", terms)
    # r14: ONE pinned-width exchange by term feeds the df window (the
    # scoring pipeline previously ran single-task: AQE coalesced the
    # ~1 MB by-term shuffle to one partition while the query fan-out +
    # decimal aggregation behind it was ~1 s of CPU — the same shape
    # measured in bm25_keyword_search, fixed the same way).
    matched = (
        spread(
            _mask_visible(cand, tail.frame).select(
                "doc_id",
                F.col("dl").cast("double").alias("dl"),
                "term",
                F.col("tf").cast("double").alias("tf"),
            ),
            "term",
        )
        .withColumn(
            "df",
            F.count(F.lit(1))
            .over(Window.partitionBy("term"))
            .cast("double"),
        )
    )
    idf = (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    tf_norm = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.lit(avgdl))
    )
    # per-(doc, term) score computed BEFORE the query fan-out join (it
    # does not depend on query_id). r15: the fanned rows carry the
    # score's unscaled long at 1e9 instead of a decimal(25,12), so the
    # fan-out aggregation is a codegen long sum — exact, commutative,
    # and bit-identical to the decimal path through round(.., 6); see
    # the bit-safety argument at bm25_keyword_search (curation.py),
    # which this serve path mirrors expression-for-expression.
    scale9 = F.lit(1000000000).cast("decimal(10,0)")
    term_score_u = (
        F.round(idf * tf_norm, 9).cast("decimal(25,9)") * scale9
    ).cast("long")
    scored = (
        matched.withColumn("ts_u", term_score_u)
        .join(F.broadcast(queries), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                (F.sum("ts_u").cast("decimal(29,9)") / scale9).cast(
                    "double"
                ),
                6,
            ).alias("score"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    # the result is at most _BM25_TOPK rows per query: one partition
    # sorted locally is the global order, without the range sort's
    # sampling job and exchange. coalesce, not repartition: AQE already
    # runs the window stage as one task on the bench's served rows
    # (sf0.1), so merging into it adds no exchange and costs nothing.
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "rank", "doc_id", "score", "n_matched_terms")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )
