"""Composed streaming curation funnel — ONE checkpointed pipeline running
the full batch `corpus_curation_funnel` stage chain on an ingest stream:

    JSONL drops -> quality gate (Gopher/C4-style signal battery)
                -> exact dedup ON ARRIVAL (engine state,
                   dropDuplicatesWithinWatermark)
                -> near-dup drop vs the landed corpus (minhash-LSH
                   against an idempotent signature store)
                -> fuzzy benchmark decontamination (static bench frames)
                -> lang-partitioned landing + per-stage survivor counts
                -> retrospective SOURCE-level exclusion at report time
                   (bottom-quartile rule over the landed horizon's
                   per-source stats — the batch funnel's stage 5)
                -> retrospective DISTILLED-CLASSIFIER exclusion at
                   report time (Bernoulli NB distilling stage 1's own
                   rule battery, model rebuilt exactly from per-batch
                   integer term statistics — the batch funnel's stage 6)

Every face existed individually (quality_gate_stream, dedup/crossdup
streams, land_documents_stream); this module is the composition a real
ingest deployment runs, with a stream/batch PARITY CONTRACT: on the same
drop (ingest order following doc_id order — the usual monotone ingest
sequence), the accumulated per-stage survivor counts equal the batch
funnel's rows exactly (tests/test_streaming_funnel.py pins all 6 stages,
docs and tokens, across a checkpoint restart).

Design decisions, in dependency order:

- The quality signals are the IDENTICAL expressions as the batch funnel
  (operators/textops.py quality_signals_of) — a pure narrow projection,
  so they stream unchanged; stage-0/1 counts are taken with
  `observe()` UPSTREAM of the stateful dedup (rows the dedup drops must
  still be counted as ingested) and surface through
  StreamingQueryProgress.observedMetrics, keyed by batchId — replay
  re-observes the same numbers, so the batch-scoped overwrite stays
  idempotent.

- Exact dedup is the ENGINE's keyed state (dropDuplicatesWithinWatermark
  on the md5 content hash, TTL-evicted — streaming/ingest_dedup.py
  semantics). The batch funnel dedups among QUALITY SURVIVORS only
  (canon counts qk docs), so quality-failing rows must pass through the
  dedup untouched — they get a per-doc unique key
  (`fail:<doc_id>`) instead of the content hash. They are NOT filtered
  out before foreachBatch because the near-dup reference set is ALL
  ingested documents (the batch funnel's ndv comes from full-corpus
  LSH — a survivor is dropped even when its near-twin failed quality).
  Cost: one state entry per failing doc inside the TTL horizon,
  documented and bounded by eviction.

- Exact-dup LOSERS never reach foreachBatch, so their signatures never
  enter the store — sound: a loser's text is byte-identical to its
  kept twin's, hence its minhash signature is identical too, and with
  kept = min doc_id every pair the loser could witness is implied by a
  pair the keeper witnesses (a < loser ⟹ a < keeper ∨ near(keeper, a)
  via the shared signature).

- Near-dup state lives in an idempotent batch-scoped PARQUET SIGNATURE
  STORE, not executor state: LSH banding needs each new doc joined
  against the whole landed horizon, and that reference set belongs in
  storage, not in a state store (the crossdup stream holds 16-byte
  fingerprints; 16x8-byte signatures x the corpus is a table). Batch N
  reads partitions batch_id < N only, so a replayed batch never sees
  its own failed attempt's output.

  The store is laid out as the LSH INDEX, not the raw signatures: one
  row per (doc, band) carrying (bkey, sig), partitioned on disk by
  (band, bprefix = xxhash64(bkey) mod _SIG_STORE_PREFIXES). That layout
  is what keeps per-batch cost flat as the store grows: batch N's
  near-dup stage (a) partition-prunes the store scan to the
  (band, bprefix) directories its OWN band keys hash into — a bounded
  literal predicate, at most BANDS x PREFIXES directories — then (b)
  semi-joins the pruned scan against the batch's broadcast band-key set,
  so only store rows in buckets the batch actually touches are read,
  shuffled, or counted. History in untouched buckets is never re-scanned
  (tests/test_streaming_funnel.py asserts the pruned scan's inputFiles
  stay inside touched partitions, and that per-batch touched-row volume
  is bounded by bucket content, not store size). Storage trades 4 band
  rows per doc (sig rides along, 128 B) for never rebuilding bands over
  history — the postings-list layout every LSH index uses.

  Pair semantics mirror dedup_minhash_lsh exactly: band-key collision,
  doc_id order, round(est_jaccard, 4) >= 0.25, and the SAME bucket cap
  (bsize <= MINHASH_BUCKET_CAP) — applied AS-OF-BATCH: the bucket's
  count is its full landed history plus this batch (exact — the
  semi-join keeps every historical member of a touched bucket), while
  the batch operator counts the whole corpus at once. PARITY
  PRECONDITION, stated explicitly: stream/batch stage-3 parity holds
  only while no band bucket CROSSES the cap mid-stream (a bucket under
  the cap at batch N but over it by end-of-corpus emits pairs the batch
  op suppresses). Each batch records `d_capped` — the number of touched
  buckets over the cap — in its counts row; a nonzero value is the
  signal to re-check parity for that horizon. No tested bucket comes
  near the cap (the batch operator's own pinned claim).

- Decontamination is per-document (n-gram containment against STATIC
  bench frames — benchmarks are fixed inputs in production), so the
  per-batch application equals the batch application row for row
  (operators/curation.py fuzzy_contamination).

- All sinks are batch-id-scoped OVERWRITE directories (the
  ingest_land.py exactly-once-by-idempotent-replay contract): landed
  docs (lang-partitioned), the signature store, per-batch stage counts.

UPDATE/DELETE (the LWW ledger of the store rails, store.py): drops may
carry deleted=true tombstones and re-ingested versions of earlier
doc_ids (LWW by ingest_ts; ordering contract as everywhere: per-doc
nondecreasing DISTINCT ingest_ts).

- The VERSION LEDGER is written by the SIBLING stream (which reads the
  raw drops pre-dedup), not by foreachBatch: version and tombstone
  visibility must not depend on downstream survival — the engine's
  exact-dedup state drops rows the ledger still has to know about.
  Three sibling tables per batch, one signal pass: the dp-partitioned
  `docmeta` ledger (doc_id, ts, deleted, dl=n_tokens — every version,
  tombstones included, EXCEPT identical-content re-sends of the
  current live version, which are ledger no-ops — ADVICE r12, see
  _land_funnel_ledger), `vermeta` (per live version: source, quality
  score, qk, content hash h — the persisted quality-signal row;
  dp-partitioned), and `hterm` (distinct (h, term) postings — a
  content hash's term set, the stage-6 sufficient statistic that
  survives deletes because it is keyed by CONTENT, not by doc).
- SIGNATURE rows are version-stamped with ts; the near-dup stage masks
  the store side against the ledger (a tombstoned or superseded
  version stops being a near-dup witness — including tombstones landed
  in the same run, since the sibling drains FIRST under availableNow:
  within one invocation every judgment is against the invocation's
  end-of-horizon version knowledge, strictly closer to the batch
  reference than arrival-order masking). When one micro-batch carries
  several versions of a doc_id, only the batch-LWW winner lands
  signatures and is judged (the media store's r12 discipline; the
  ledger still records every version).
- The REPORT is retrospective-LWW end to end: stages 0-2 and 5-6 are
  RECOMPUTED over the ledger's live winners (vermeta carries exactly
  the per-version signals the batch expressions need; hterm feeds the
  NB model and scoring through h), and stages 3-4 read the per-doc
  JUDGMENT rows foreachBatch persists (nd_dropped/contaminated,
  version-stamped). So a tombstone retroactively removes its doc from
  EVERY stage count — count parity with corpus_curation_funnel over
  the LWW-current corpus, not just over monotone ingest.
- compact_sig_store folds all five stores with the LWW mask
  (superseded/tombstoned signature + judgment + vermeta rows
  physically dropped; hterm pruned to live contents; ledger folded to
  winner rows with tombstones retained, stats snapshot as the
  fold-horizon marker).

DOCUMENTED DIVERGENCES under update/delete (the semantic/media stores'
verdict-immutability contract, plus two funnel-specific ones):
1. Stage-3/4 judgments are decided at judgment time against the
   then-landed reference set and are immutable once written: a doc
   dropped as a near-dup of a witness that is tombstoned in a LATER
   invocation stays dropped (re-ingest it to re-judge); a doc judged
   before its witness's UPDATE landed sigs was judged against the old
   content. Batch-over-LWW is the ground truth for docs judged after
   the change (the unsuppression test pins it).
2. The engine's exact-dedup state is append-only within its TTL: a
   row whose content hash was already seen never reaches foreachBatch,
   so when such a row becomes a canonical live winner it has no
   judgment row. A SAME-DOC re-send of the doc's CURRENT live content
   never enters this state (ADVICE r12): the sibling ledger detects it
   (h equals the current live winner's h, no tombstone between) and
   skips the version bump entirely — the landed version stays the
   winner and every face keeps serving it. The shapes that remain are
   (a) a DIFFERENT-doc byte twin whose canonical keeper is later
   tombstoned or superseded, and (b) a same-doc REVERT to an older
   (non-current) live content, or a delete-then-identical-revival,
   within the TTL. For those the report REFUSES loudly when a
   canonical live winner lacks its judgment row (naming the doc_ids)
   instead of silently presenting a partial stage 3 — repair by
   re-ingesting the named docs AFTER the dedup TTL has expired (or
   with changed content); a byte-identical re-ingest inside the TTL is
   suppressed again. Quality-FAILING rows are immune (their dedup key
   includes ts precisely so versions never collide).
3. A signature-store fold masks against the ledger's end-of-horizon
   winners; a version superseded by a not-yet-landed later version
   briefly has no live signature rows (its successor's sigs land with
   that later batch) — arrivals judged in that window miss the doc as
   a witness, exactly as any stream must (it cannot judge against
   content that has not arrived).

100 TB/day shape: quality + signatures are narrow maps; the engine
dedup shuffles 16-byte keys; the near-dup join touches only the store
buckets the batch's own signatures hash into (partition-pruned scan +
broadcast semi-join — per-batch cost tracks bucket content, not landed
history); decon broadcasts the bounded bench set; all writes are
append-shaped. No stage holds unbounded executor state. Known
small-files cost: each batch writes up to BANDS x PREFIXES partition
directories; a production deployment compacts store partitions
periodically (a pure rewrite — batch_id pruning only matters for the
CURRENT run's replay window).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ..operators.curation import (
    _FUNNEL_STAGES,
    _SRC_DROP_DEN,
    _SRC_DROP_NUM,
    fuzzy_contamination,
)
from ..operators.dedup import (
    MINHASH_K,
    _banded_sig_pairs,
    _minhash_sig_bands,
    _minhash_sigs,
    _sig_agree,
    _word_shingles,
)
from ..operators.textops import (
    _FILTER_MAX_DUP_BIGRAM,
    _FILTER_MIN_QUALITY,
    quality_signals_of,
    tokens_col,
)
from .store import (
    _DOCMETA_SCHEMA,
    _LOOKUP_CAP,
    _LwwStore,
    _alive_of,
    _assert_layout,
    _assert_local_dir,
    _batch_ids,
    _cols,
    _committed_horizon,
    _compact_batch_store,
    _dp_col,
    _fold_ledger,
    _id_horizon,
    _ledger_write,
    _lww,
    _lww_fold,
    _mask_visible,
    _point_lookup,
    _pruned_store,
    _read_store,
    _run_concurrently,
    _tail_live,
)

DROP_SCHEMA = ("doc_id bigint, text string, lang string, "
               "source string, ingest_ts timestamp, deleted boolean")
# The LWW-folded funnel stores (store.py). sigs and judgments land with
# the main stream's batch ids, vermeta with the ledger sibling's.
_SIGS = _LwwStore(
    "sigs",
    "doc_id bigint, sig array<bigint>, band int, bkey string, ts timestamp, "
    "bprefix int, batch_id int",
    ["band", "bprefix"],
    "signature store dir",
)
_JUDGMENTS = _LwwStore(
    "judgments",
    "doc_id bigint, ts timestamp, nd_dropped boolean, contaminated boolean, "
    "batch_id int",
    [],
    "judgment store dir",
)
_VERMETA = _LwwStore(
    "vermeta",
    "doc_id bigint, ts timestamp, source string, q decimal(18,6), "
    "qk boolean, h string, dp int, batch_id int",
    ["dp"],
    "vermeta store dir",
)
_HTERM_SCHEMA = "h string, term string, batch_id int"
_VERMETA_COLS = ["doc_id", "ts", "source", "q", "qk", "h"]

# Store partition fan-out for the bkey dimension: band (BANDS values) x
# bprefix (this many hash buckets of bkey). 8 keeps the per-batch
# directory count bounded at BANDS*8 = 32 while still pruning ~7/8 of
# history when a batch touches few buckets; a cluster deployment sizes
# it to its partition-count comfort (pure layout knob — bprefix is
# derived, never part of the pair semantics).
_SIG_STORE_PREFIXES = 8


def _bprefix_col():
    return F.pmod(F.xxhash64(F.col("bkey")), F.lit(_SIG_STORE_PREFIXES))


def compact_sig_store(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
    ledger_upto: int | None = None,
    ledger_checkpoint_dir: str | None = None,
    out_dir: str | None = None,
) -> int:
    """Fold the funnel's five stores: signature batches [0, upto) into
    ONE (band, bprefix)-layout directory with the LWW MASK applied
    (superseded-version and tombstoned-doc signature rows PHYSICALLY
    dropped — a deleted document's signatures stop witnessing near-dups
    here, not just logically at the read mask), the judgment sidecar
    masked the same way, and the three sibling-written ledger stores
    over [0, ledger_upto): vermeta masked to live winner versions,
    hterm deduped and pruned to live contents' hashes, docmeta folded
    to one winner row per doc (tombstones RETAINED — they must suppress
    any not-yet-arrived older version) with the stats snapshot as the
    fold-horizon marker (store.py's ledger fold).

    `upto` is the MAIN stream's horizon (guarded against
    `checkpoint_dir`'s commits log); `ledger_upto` is the SIBLING's
    (guarded against `ledger_checkpoint_dir`; defaults to the ledger's
    own id horizon — safe from the runner, where the sibling has fully
    drained before the main query starts). Pass `out_dir` to ALSO fold
    the landed-documents PRODUCT sink under the same mask (tombstoned/
    superseded landed docs physically dropped — the
    landed_documents_current read path's physical half; the runner's
    auto-compaction passes it). The data-store folds (sigs, judgments,
    vermeta, landed docs) run at the same time, then hterm, whose mask
    reads vermeta, then the ledger: store.py's fold order. Returns
    directories removed."""
    if ledger_upto is None:
        ledger_upto = (
            _committed_horizon(ledger_checkpoint_dir)
            if ledger_checkpoint_dir is not None
            else _id_horizon(f"{state_dir}/docmeta")
        )
    if not os.path.isdir(f"{state_dir}/docmeta") or ledger_upto == 0:
        return 0  # nothing landed yet — nothing to fold
    _assert_layout(state_dir)
    # the mask covers the ledger's FULL horizon (global LWW): a version
    # newer than the fold range keeps its rows; `ledger_upto` governs
    # only which ledger directories fold, never visibility
    alive = _alive_of(spark, state_dir, _id_horizon(f"{state_dir}/docmeta"))
    folds = [
        _lww_fold(
            spark, f"{state_dir}/sigs", _SIGS, upto, checkpoint_dir, alive
        ),
        _lww_fold(
            spark, f"{state_dir}/judgments", _JUDGMENTS, upto,
            checkpoint_dir, alive,
        ),
        _lww_fold(
            spark, f"{state_dir}/vermeta", _VERMETA, ledger_upto,
            ledger_checkpoint_dir, alive,
        ),
    ]
    if out_dir is not None and os.path.isdir(out_dir):
        # the product sink folds under the same mask; its version stamp
        # is ingest_ts
        folds.append(
            partial(
                _compact_batch_store,
                spark,
                out_dir,
                upto,
                cols=["doc_id", "text", "source", "ingest_ts",
                      "n_tokens", "lang"],
                partition_cols=["lang"],
                what="landed documents dir",
                checkpoint_dir=checkpoint_dir,
                transform=lambda df: df.join(
                    alive.withColumnRenamed("ts", "ingest_ts"),
                    ["doc_id", "ingest_ts"],
                ),
                force=True,
            )
        )
    removed = sum(_run_concurrently(spark, *folds))
    if os.path.isdir(f"{state_dir}/hterm"):
        # hashes of live contents, read from the folded vermeta: the
        # semi-join prunes a hash once every doc holding it is
        # tombstoned or superseded
        live_h = (
            _read_store(
                spark, f"{state_dir}/vermeta", _VERMETA.what, _VERMETA.schema
            )
            .join(alive, ["doc_id", "ts"])
            .select("h")
            .distinct()
        )
        removed += _compact_batch_store(
            spark,
            f"{state_dir}/hterm",
            ledger_upto,
            cols=["h", "term"],
            partition_cols=[],
            what="hterm store dir",
            checkpoint_dir=ledger_checkpoint_dir,
            transform=lambda df: df.distinct().join(live_h, "h", "semi"),
            force=True,
            schema=_HTERM_SCHEMA,
        )
    return removed + _fold_ledger(
        spark, state_dir, ledger_upto, checkpoint_dir=ledger_checkpoint_dir
    )


def _progress_parts(p):
    """(batch_id, funnel_ingest observed row, query name) from either a
    StreamingQueryProgress object (listener events) or the dict form
    (recentProgress)."""
    if isinstance(p, dict):
        om = (p.get("observedMetrics") or {}).get("funnel_ingest")
        return p.get("batchId"), om, p.get("name")
    om = dict(p.observedMetrics or {}).get("funnel_ingest")
    return p.batchId, om, p.name


def _write_ingest_metrics(spark: SparkSession, ingest_dir: str, p) -> None:
    batch_id, om, _ = _progress_parts(p)
    if om is None:
        return
    spark.createDataFrame(
        [
            (
                int(om["n_raw"]),
                int(om["n_quality"] or 0),
                int(om["tok_raw"] or 0),
                int(om["tok_quality"] or 0),
            )
        ],
        "n_raw long, n_quality long, tok_raw long, tok_quality long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{ingest_dir}/batch_id={batch_id}"
    )


class _IngestMetricsWriter(StreamingQueryListener):
    """Persists each batch's observed stage-0/1 metrics as the progress
    event arrives (driver-side listener thread; job submission from it
    is supported). Event delivery is asynchronous, so a progress event
    can still be in flight while the post-termination fallback sweep
    runs — both paths therefore CLAIM a batch id under a lock before
    writing (exactly one writer per directory; two FileFormatWriter jobs
    racing on one target corrupt each other's _temporary staging). A
    claim is released if the write throws, so the other path can retry
    it."""

    def __init__(self, spark: SparkSession, ingest_dir: str):
        import threading

        self._spark = spark
        self._ingest_dir = ingest_dir
        self._lock = threading.Lock()
        self._claimed: set[int] = set()

    def claim(self, batch_id: int) -> bool:
        """True exactly once per batch id across both writer paths."""
        with self._lock:
            if batch_id in self._claimed:
                return False
            self._claimed.add(batch_id)
            return True

    def release(self, batch_id: int) -> None:
        with self._lock:
            self._claimed.discard(batch_id)

    def write_claimed(self, p) -> None:
        batch_id, om, _ = _progress_parts(p)
        if om is None or not self.claim(batch_id):
            return
        try:
            _write_ingest_metrics(self._spark, self._ingest_dir, p)
        except BaseException:
            self.release(batch_id)
            raise

    def onQueryStarted(self, event) -> None:
        pass  # no per-run state to initialize

    def onQueryProgress(self, event) -> None:
        p = event.progress
        _, _, name = _progress_parts(p)
        if name != "curation_funnel":
            return
        self.write_claimed(p)

    def onQueryIdle(self, event) -> None:
        pass  # idle triggers carry no observed metrics

    def onQueryTerminated(self, event) -> None:
        pass  # the main thread owns termination handling


def _banded_sigs_of(batch: DataFrame) -> DataFrame:
    """(doc_id, text, ingest_ts, ...) -> version-stamped banded
    signature rows (+ bprefix): the signature-landing projection,
    shared VERBATIM by the stream stage and the serving certificate
    (funnel_sigstore_served_lww) — certificate state is real state."""
    ts_of = batch.select("doc_id", F.col("ingest_ts").alias("ts"))
    shingled = batch.select(
        "doc_id",
        F.explode(_word_shingles(tokens_col(), 3)).alias("shingle"),
    ).filter(F.col("shingle") != "")
    return (
        _minhash_sig_bands(_minhash_sigs(shingled))
        .join(ts_of, "doc_id")
        .withColumn("bprefix", _bprefix_col())
    )


def funnel_sigstore_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Near-dup pairs implied by the LANDED signature store's
    LWW-current rows — dedup_minhash_lsh SERVED FROM THE STORE instead
    of recomputed from text: every landed band row, visibility-masked
    against the ledger (the folded part was masked physically at
    compaction; the tail masks at read), through the batch op's pair
    kernel (_banded_sig_pairs) verbatim. Output: (doc_a, doc_b,
    est_jaccard), the batch op's schema.

    This is the OFFLINE FULL-SWEEP face ("which pairs does the landed
    corpus imply right now?") — inherently corpus-scale, like the batch
    op it replaces, but reading 128-byte signature rows instead of
    re-tokenizing text (the reason the store exists); the INCREMENTAL
    face is the stream's per-batch judged join, which prunes to touched
    buckets and never re-sweeps."""
    store = _read_store(
        spark, f"{state_dir}/sigs", _SIGS.what, _SIGS.schema
    ).select(*_cols(_SIGS.schema))
    tail = _tail_live(spark, state_dir)
    live = _mask_visible(store, tail).select("doc_id", "sig", "band", "bkey")
    return _banded_sig_pairs(live).orderBy("doc_a", "doc_b")


def landed_documents_current(
    spark: SparkSession, out_dir: str, state_dir: str
) -> DataFrame:
    """The LWW-CURRENT landed corpus — the funnel's PRODUCT read path:
    the lang-partitioned landing sink masked against the version ledger
    (a tombstoned document's landed file stops being served; a
    superseded version yields to its successor's landed row; a doc
    whose latest version was dropped mid-funnel disappears, matching
    the report's stage-4 set). The landing itself stays append-only
    batch-scoped overwrite (idempotent replay); pass `out_dir` to
    compact_sig_store to apply this mask PHYSICALLY at fold time — a
    training job that consumed the raw directory instead of this
    reader would train on deleted documents."""
    landed = _read_store(spark, out_dir, "landed documents dir")
    tail = _tail_live(spark, state_dir)
    return _mask_visible(
        landed.withColumn("ts", F.col("ingest_ts")), tail
    ).drop("ts")


def funnel_neardup_probe_adhoc(
    spark: SparkSession, state_dir: str, probes: dict[int, str]
) -> DataFrame:
    """Judge AD-HOC texts against the landed LWW-current signature
    store WITHOUT ingesting — the request path a deployment exposes
    ("is this text a near-dup of anything landed?"), completing the
    probe-face family (bm25/hybrid/semantic/media all have one;
    reference anchor: current-state re-read per lookup,
    slackEventServer.js:187-202). `probes` maps probe_id -> text. Each
    probe runs the stream's own signature kernel (_banded_sigs_of),
    the store scan prunes to the probes' touched (band, bprefix)
    partitions and semi-joins their bucket keys (the per-batch judging
    discipline — history in untouched buckets is never read), rows are
    masked against the ledger tail (a tombstoned or superseded version
    has stopped being a witness), the bucket cap applies over the
    store's as-of-now content, and pair semantics are the batch op's
    (band collision, est_jaccard >= 0.25). Landed docs play the
    witness (lower-id) role regardless of probe id — ids offset above
    the landed horizon via one bounded max() over the pruned masked
    slice (only same-bucket docs can ever pair, so the slice
    suffices); probes never witness each other; nothing is written.
    Output: (probe_id, is_dup, n_matches, best_est) in probe_id order,
    dedup_incremental's per-arrival verdict shape."""
    from ..operators.dedup import MINHASH_BUCKET_CAP

    if not probes:
        raise ValueError("no probe texts given")
    ids = sorted(int(p) for p in probes)
    frame = spark.createDataFrame(
        [(i, probes[pid]) for i, pid in enumerate(ids)],
        "doc_id bigint, text string",
    ).withColumn("ingest_ts", F.lit(None).cast("timestamp"))
    bands = _banded_sigs_of(frame)
    touched = [
        (r["band"], r["bprefix"])
        for r in bands.select("band", "bprefix").distinct().collect()
    ]  # bounded: <= |probes| * BANDS pairs
    sigs_dir = f"{state_dir}/sigs"
    _assert_local_dir(sigs_dir, _SIGS.what)
    if not _batch_ids(sigs_dir):
        raise ValueError(
            f"no signature store under {state_dir!r}: nothing has "
            "landed yet (run curation_funnel_stream first)"
        )
    if not touched:
        # the store EXISTS but no probe produced a shingle (every text
        # is shorter than the 3-token shingle width): batch semantics
        # say a shingle-less doc never pairs, so every probe is a KEEP
        # — raising the missing-store error here would misdiagnose a
        # landed store as absent (ADVICE r12)
        return (
            spark.createDataFrame(
                [(pid, False, 0) for pid in ids],
                "probe_id bigint, is_dup boolean, n_matches bigint",
            )
            .withColumn("best_est", F.lit(None).cast("double"))
            .orderBy("probe_id")
        )
    store = _pruned_store(spark, sigs_dir, _SIGS, 1 << 62, touched)
    tail = _tail_live(spark, state_dir)
    cols = ["doc_id", "sig", "band", "bkey"]
    keys = bands.select("band", "bkey").distinct()
    hist = (
        _mask_visible(store, tail)
        .select(*cols)
        .join(F.broadcast(keys), ["band", "bkey"], "semi")
    )
    sized = hist.withColumn(
        "bsize", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
    )
    bands_a = sized.filter(F.col("bsize") <= MINHASH_BUCKET_CAP)
    mx = hist.agg(
        F.coalesce(F.max("doc_id"), F.lit(0)).alias("mx")
    ).collect()[0]["mx"]
    idmap = spark.createDataFrame(
        [(int(mx) + 1 + i, pid) for i, pid in enumerate(ids)],
        "doc_id bigint, probe_id bigint",
    )
    bands_b = bands.withColumn(
        "doc_id", F.col("doc_id") + F.lit(int(mx) + 1)
    )
    est = F.round(
        _sig_agree(F.col("a.sig"), F.col("b.sig")) / F.lit(MINHASH_K), 4
    )
    matches = (
        bands_a.alias("a")
        .join(
            bands_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("a.doc_id").alias("witness"),
            est.alias("est"),
        )
        .filter(F.col("est") >= 0.25)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("witness").alias("n_matches"),
            F.max("est").alias("best_est"),
        )
    )
    return (
        idmap.join(matches, "doc_id", "left")
        .select(
            "probe_id",
            F.col("n_matches").isNotNull().alias("is_dup"),
            F.coalesce("n_matches", F.lit(0).cast("long")).alias(
                "n_matches"
            ),
            "best_est",
        )
        .orderBy("probe_id")
    )


def _current_live_h(
    spark: SparkSession, state_dir: str, before: int, docs: DataFrame
):
    """(doc_id, ts, h) of each given doc's CURRENT LIVE LWW winner over
    ledger batches < `before` (the replay guard: a re-run sibling batch
    never consults its own failed attempt's rows) — None when no ledger
    has landed yet or `docs` is empty. Cost is the LSM read-before-
    write shape: dp-pruned + (below _LOOKUP_CAP) doc_id-IN point
    lookups against the folded doc_id-sorted docmeta/vermeta; above the
    cap, a dp-pruned scan + semi join."""
    _assert_layout(state_dir)  # dp modulus must match the landed store
    dm_dir = f"{state_dir}/docmeta"
    vm_dir = f"{state_dir}/vermeta"
    if not (os.path.isdir(dm_dir) and os.path.isdir(vm_dir)):
        return None
    want = docs.select("doc_id").distinct().withColumn("dp", _dp_col())
    rows = want.limit(_LOOKUP_CAP + 1).collect()
    if not rows:
        return None
    dm = _read_store(spark, dm_dir, "docmeta store dir", _DOCMETA_SCHEMA)
    vm = _read_store(spark, vm_dir, _VERMETA.what, _VERMETA.schema)
    dm = dm.filter(F.col("batch_id") < before)
    vm = vm.filter(F.col("batch_id") < before)
    if len(rows) <= _LOOKUP_CAP:
        dm, vm = _point_lookup(dm, rows), _point_lookup(vm, rows)
    else:
        dps = sorted(
            r["dp"] for r in want.select("dp").distinct().collect()
        )  # bounded: <= _DOC_PREFIXES values
        keys = want.select("doc_id")
        dm = dm.filter(F.col("dp").isin(dps)).join(keys, "doc_id", "semi")
        vm = vm.filter(F.col("dp").isin(dps)).join(keys, "doc_id", "semi")
    win = _lww(dm).filter(~F.col("deleted")).select("doc_id", "ts")
    return win.join(vm.select("doc_id", "ts", "h"), ["doc_id", "ts"])


def _land_funnel_ledger(
    batch: DataFrame, batch_id: int, state_dir: str
) -> None:
    """Land one RAW micro-batch's three ledger tables (the sibling
    stream's writes; also the serving certificate's — shared VERBATIM
    so certificate state is real state): the dp-partitioned docmeta
    version ledger (every version, tombstones included; dl = the
    signal battery's n_tokens), vermeta (per live version: NULL-source
    sentinel, exact-decimal quality score, the qk rule, content hash;
    dp-partitioned so the winner-h lookup below prunes), and hterm
    (distinct (h, term) postings of the batch's live contents).
    Batch-id-scoped overwrite — idempotent replay, the shared store
    contract. One signal pass feeds all three writes (persisted by the
    caller when the source scan is worth sharing).

    IDENTICAL-CONTENT RE-SEND = LEDGER NO-OP: a
    live version whose content hash equals its immediate predecessor's
    — the doc's current live LWW winner, or an earlier live version in
    this same batch — is DROPPED from all three writes. The engine's
    exact-dedup state suppresses that row downstream (dedup_key = h for
    quality passers), so it will never land signatures or a judgment
    row; recording its ts as the LWW winner would permanently mask the
    landed version's signatures (the serving/probe faces silently stop
    serving a live, never-deleted doc) and fail-stop the report's
    orphan gate with a repair recipe that cannot work (a byte-identical
    re-ingest is suppressed again within the TTL). Discarding it —
    ts AND metadata (source) — matches the engine's suppression
    exactly: the landed version simply remains current. Tombstones
    break the chain: a delete followed by a byte-identical re-send IS
    a version bump (the revival must go live), and lands in the
    engine-suppression divergence (note 2) if it falls inside the
    TTL."""
    deleted = F.coalesce(F.col("deleted"), F.lit(False))
    live = batch.filter(~deleted)
    sig = quality_signals_of(
        live, keep=("source", "ingest_ts")
    ).withColumn("source", F.coalesce(F.col("source"), F.lit("")))
    qk = (F.col("quality_score") >= _FILTER_MIN_QUALITY) & (
        F.col("dup_bigram_frac") <= _FILTER_MAX_DUP_BIGRAM
    )
    sig = sig.select(
        "doc_id",
        F.col("ingest_ts").alias("ts"),
        "source",
        F.col("quality_score").cast("decimal(18,6)").alias("q"),
        qk.alias("qk"),
        "h",
        "n_tokens",
    ).persist()
    try:
        tombs = batch.filter(deleted).select(
            "doc_id",
            F.col("ingest_ts").alias("ts"),
            F.lit(True).alias("deleted"),
            F.lit(None).cast("string").alias("h"),
        )
        vers = sig.select(
            "doc_id", "ts", F.lit(False).alias("deleted"), "h"
        ).unionByName(tombs).withColumn("_anchor", F.lit(False))
        anchor = _current_live_h(
            batch.sparkSession, state_dir, batch_id,
            sig.select("doc_id"),
        )
        if anchor is not None:
            vers = vers.unionByName(
                anchor.select(
                    "doc_id", "ts", F.lit(False).alias("deleted"), "h"
                ).withColumn("_anchor", F.lit(True))
            )
        # per-doc version sequence (anchor first — its ts precedes every
        # batch version under the ordering contract; the tie-break keeps
        # it first even under a violated contract): a live row is
        # REDUNDANT iff its immediate predecessor is live with equal h
        wseq = Window.partitionBy("doc_id").orderBy(
            "ts", F.col("_anchor").desc()
        )
        redundant = (
            vers.withColumn(
                "_r",
                ~F.col("deleted")
                & ~F.col("_anchor")
                & F.coalesce(
                    (F.lag("h").over(wseq) == F.col("h"))
                    & ~F.lag("deleted").over(wseq),
                    F.lit(False),
                ),
            )
            .filter(F.col("_r"))
            .select("doc_id", "ts")
        )
        _ledger_write(
            sig.select(
                "doc_id", "ts", F.lit(False).alias("deleted"),
                F.col("n_tokens").cast("long").alias("dl"),
            )
            .join(redundant, ["doc_id", "ts"], "anti")
            .unionByName(
                tombs.select("doc_id", "ts", "deleted"),
                allowMissingColumns=True,
            ),
            state_dir,
            batch_id,
        )()
        (
            sig.select(*_VERMETA_COLS)
            .join(redundant, ["doc_id", "ts"], "anti")
            .withColumn("dp", _dp_col())
            .repartition("dp")
            .write.mode("overwrite")
            .partitionBy("dp")
            .parquet(f"{state_dir}/vermeta/batch_id={batch_id}")
        )
        # hterm needs the token arrays — a second narrow pass over the
        # batch's live rows (tokens are deliberately NOT persisted in
        # sig: the array dwarfs the signal row). Redundant re-sends are
        # excluded for consistency; their h's postings already landed
        # with the predecessor (identical content, identical term set).
        (
            quality_signals_of(live, keep=("ingest_ts",), with_toks=True)
            .filter(F.col("h").isNotNull())
            .join(
                redundant.select(
                    "doc_id", F.col("ts").alias("ingest_ts")
                ),
                ["doc_id", "ingest_ts"],
                "anti",
            )
            .select("h", F.explode(F.array_distinct("toks")).alias("term"))
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{state_dir}/hterm/batch_id={batch_id}")
        )
    finally:
        sig.unpersist()


def curation_funnel_stream(
    spark: SparkSession,
    drop_dir: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    bench_sh: DataFrame,
    bench_sizes: DataFrame,
    ttl: str = "24 hours",
    max_files_per_trigger: int = 1000,
    compact_every: int | None = 64,
):
    """Run the composed funnel over all available drops (availableNow)
    and block until done; returns the finished StreamingQuery. Re-invoke
    with the same checkpoint_dir to resume — only new files process, and
    replayed batches overwrite their own prior output.

    `compact_every=N` makes the runner itself fold the signature store
    every N committed batches (at the start of batch k where
    k % N == 0, upto=k — all of [0, k) is committed by then, and the
    commits-log guard inside compact_sig_store enforces it), so a
    long-running deployment's store directory count stays bounded at
    ~N + 1 batch dirs without an operator remembering the manual tool.
    ON BY DEFAULT (64 — store partition discovery is the pruned path's
    one residual growth term, SCALE_PROBE_FUNNEL.json, and an opt-in
    knob would just recreate the remember-to-run-it problem); pass
    None to disable and manage compaction externally. Replay-safe: a
    replayed batch re-runs the compaction call, which is a no-op once
    only one directory remains below its horizon. To TUNE the cadence
    for a deployment's serve:ingest ratio, feed the measured curve
    (SCALE_PROBE_COMPACTION.json, store "funnel_sigs") to
    compaction_policy.recommend_fold_cadence — the cadence trades
    fold cost against the tail serve tax and is a cost knob only
    (serve answers are probe-asserted bit-identical at every fold
    state)."""
    raw = (
        spark.readStream.schema(DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # tombstones carry no text to gate/judge/land; their only role
        # is the version ledger, which the SIBLING stream writes from
        # the same files (pre-dedup) — the main query never sees them
        .json(drop_dir)
        .filter(~F.coalesce(F.col("deleted"), F.lit(False)))
    )
    sig = quality_signals_of(raw, keep=("text", "source", "ingest_ts"))
    qk = (F.col("quality_score") >= _FILTER_MIN_QUALITY) & (
        F.col("dup_bigram_frac") <= _FILTER_MAX_DUP_BIGRAM
    )
    flagged = sig.select(
        "doc_id",
        "lang",
        "text",
        "source",
        "ingest_ts",
        "n_tokens",
        qk.cast("int").alias("qk"),
        # quality failers bypass the dedup state via a per-VERSION
        # unique key (ts included: two versions of a failing doc must
        # not collide in the engine state — module divergence note 2)
        F.when(qk, F.col("h"))
        .otherwise(
            F.concat(
                F.lit("fail:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("ingest_ts").cast("string"),
            )
        )
        .alias("dedup_key"),
    )
    observed = flagged.observe(
        "funnel_ingest",
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("qk").alias("n_quality"),
        F.sum("n_tokens").alias("tok_raw"),
        F.sum(F.col("qk") * F.col("n_tokens")).alias("tok_quality"),
    )
    deduped = observed.withWatermark("ingest_ts", ttl).dropDuplicatesWithinWatermark(
        ["dedup_key"]
    )

    sigs_dir = f"{state_dir}/sigs"
    counts_dir = f"{state_dir}/counts"
    ingest_dir = f"{state_dir}/ingest"
    ledger_ckpt = f"{checkpoint_dir}_ledger"

    # The VERSION LEDGER, accumulated per batch in a SIBLING availableNow
    # stream over the same drops (own checkpoint). It must see rows
    # BEFORE the exact-dedup state drops losers (a suppressed
    # DIFFERENT-doc twin's ledger row must still land; a same-doc
    # identical-content re-send is the one deliberate no-op —
    # _land_funnel_ledger) and it must see tombstones the main
    # query filters out. It drains FIRST, so by the time the main query
    # judges anything the invocation's full version knowledge is landed
    # — the module's masking contract. The sibling's batch ids are its
    # own (separate checkpoint); nothing cross-references them. The
    # per-source/per-term statistics the old sibling accumulated are now
    # DERIVED at report time from vermeta/hterm over the LWW winners —
    # that is what makes stages 5/6 tombstone-consistent.
    raw_ledger = (
        spark.readStream.schema(DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )

    def ledger_stage(b: DataFrame, bid: int) -> None:
        b = b.persist()
        try:
            _land_funnel_ledger(b, bid, state_dir)
        finally:
            b.unpersist()

    sq = (
        raw_ledger.writeStream.queryName("curation_funnel_ledger")
        .foreachBatch(ledger_stage)
        .option("checkpointLocation", ledger_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination()

    def stage(batch: DataFrame, batch_id: int) -> None:
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_sig_store(
                spark,
                state_dir,
                upto=batch_id,
                checkpoint_dir=checkpoint_dir,
                ledger_checkpoint_dir=ledger_ckpt,
                out_dir=out_dir,
            )
        # per-doc BATCH-LWW winner: a micro-batch may legally carry
        # several versions of one doc_id (distinct ts; both pass the
        # engine dedup — different content hashes or ts-keyed fail
        # keys). Only the winner version lands signatures and is judged
        # (the media store's r12 discipline): a superseded sibling's
        # rows would be invisible under the ledger mask and physically
        # dropped at the next fold anyway. Winner = max (ts, dedup_key)
        # — deterministic even under an exact-ts contract violation.
        wdoc = Window.partitionBy("doc_id")
        batch = (
            batch.withColumn(
                "_w",
                F.max(
                    F.struct(
                        F.col("ingest_ts").alias("ts"),
                        F.col("dedup_key").alias("k"),
                    )
                ).over(wdoc),
            )
            .filter(
                (F.col("ingest_ts") == F.col("_w.ts"))
                & (F.col("dedup_key") == F.col("_w.k"))
            )
            .drop("_w")
            .persist()
        )
        try:
            # signature store gets ALL arriving docs (failers included —
            # they are valid near-dup witnesses in the batch semantics),
            # version-stamped; stored BANDED (the LSH-index layout) so
            # no batch ever rebuilds bands over history
            bands_batch = _banded_sigs_of(batch).persist()
            bands_batch.write.mode("overwrite").partitionBy(
                "band", "bprefix"
            ).parquet(f"{sigs_dir}/batch_id={batch_id}")

            surv2 = batch.filter(F.col("qk") == 1).persist()

            # near-dup: banded pairs of (touched store buckets ∪ this
            # batch) vs this batch's survivors, doc_id order, the batch
            # op's estimator AND its bucket cap as-of-batch (a bucket
            # over MINHASH_BUCKET_CAP contributes no pairs — filtering
            # the a-side kills the whole bucket since both pair members
            # share it). Only buckets THIS batch touches can pair, so
            # restricting the count to them is exact, and the store scan
            # prunes to the partitions those buckets live in: per-batch
            # cost tracks touched-bucket content, not landed history.
            # The store side is masked against the LEDGER (r12): a
            # tombstoned or superseded version has stopped being a
            # witness — the sibling drained first, so the mask carries
            # the invocation's full version knowledge.
            from ..operators.dedup import MINHASH_BUCKET_CAP

            touched = [
                (r["band"], r["bprefix"])
                for r in bands_batch.select("band", "bprefix")
                .distinct()
                .collect()  # bounded: <= BANDS * _SIG_STORE_PREFIXES rows
            ]
            store = _pruned_store(spark, sigs_dir, _SIGS, batch_id, touched)
            batch_keys = bands_batch.select("band", "bkey").distinct()
            cols = ["doc_id", "sig", "band", "bkey"]
            if store is None:
                all_touched = bands_batch.select(*cols)
            else:
                tail = _tail_live(spark, state_dir)
                store = _mask_visible(store, tail)
                all_touched = store.select(*cols).join(
                    F.broadcast(batch_keys), ["band", "bkey"], "semi"
                ).unionByName(bands_batch.select(*cols))
            sized = all_touched.withColumn(
                "bsize",
                F.count(F.lit(1)).over(Window.partitionBy("band", "bkey")),
            ).persist()
            bands_a = sized.filter(F.col("bsize") <= MINHASH_BUCKET_CAP)
            # parity-precondition telemetry: buckets already OVER the cap
            # as of this batch (stage-3 stream/batch parity is only
            # guaranteed while this stays 0 for buckets that later pair)
            n_capped = (
                sized.filter(F.col("bsize") > MINHASH_BUCKET_CAP)
                .select("band", "bkey")
                .distinct()
                .count()
            )
            bands_b = bands_batch.join(
                surv2.select("doc_id"), "doc_id", "semi"
            )
            est = F.round(
                _sig_agree(F.col("a.sig"), F.col("b.sig")) / F.lit(MINHASH_K),
                4,
            )
            flagged_nd = (
                bands_a.alias("a")
                .join(
                    bands_b.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bkey") == F.col("b.bkey"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .filter(est >= 0.25)
                .select(F.col("b.doc_id").alias("doc_id"))
                .distinct()
            )
            flagged_nd = flagged_nd.persist()
            surv3 = surv2.join(flagged_nd, "doc_id", "anti").persist()

            # decontamination: per-doc static-bench containment
            contam = (
                fuzzy_contamination(
                    surv3.select("doc_id", tokens_col().alias("toks")),
                    bench_sh,
                    bench_sizes,
                )
                .select("doc_id")
                .distinct()
                .persist()
            )
            surv4 = surv3.join(contam, "doc_id", "anti").persist()

            (
                surv4.select(
                    "doc_id", "text", "lang", "source", "ingest_ts", "n_tokens"
                )
                .write.mode("overwrite")
                .partitionBy("lang")
                .parquet(f"{out_dir}/batch_id={batch_id}")
            )

            # per-doc JUDGMENT rows (version-stamped): the stage-3/4
            # decisions the LWW report reads back — immutable once
            # written (module divergence note 1). contaminated is NULL
            # for near-dup drops: decon never judged them, and the
            # report only consults it past stage 3.
            (
                surv2.select("doc_id", F.col("ingest_ts").alias("ts"))
                .join(
                    flagged_nd.withColumn("nd", F.lit(True)),
                    "doc_id",
                    "left",
                )
                .join(
                    contam.withColumn("dc", F.lit(True)), "doc_id", "left"
                )
                .select(
                    "doc_id",
                    "ts",
                    F.coalesce("nd", F.lit(False)).alias("nd_dropped"),
                    F.when(
                        F.coalesce("nd", F.lit(False)),
                        F.lit(None).cast("boolean"),
                    )
                    .otherwise(F.coalesce("dc", F.lit(False)))
                    .alias("contaminated"),
                )
                .write.mode("overwrite")
                .parquet(f"{state_dir}/judgments/batch_id={batch_id}")
            )

            def _dt(df):
                row = df.agg(
                    F.count(F.lit(1)).alias("d"),
                    F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t"),
                ).collect()[0]
                return int(row.d), int(row.t)

            d2, t2 = _dt(surv2)
            d3, t3 = _dt(surv3)
            d4, t4 = _dt(surv4)
            spark.createDataFrame(
                [(d2, t2, d3, t3, d4, t4, n_capped)],
                "d2 long, t2 long, d3 long, t3 long, d4 long, t4 long, "
                "d_capped long",
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{counts_dir}/batch_id={batch_id}"
            )
            for df in (
                surv4, contam, surv3, flagged_nd, surv2, sized, bands_batch,
            ):
                df.unpersist()
        finally:
            batch.unpersist()

    # Persist the observed pre-dedup counts per batch DURING the run via
    # a StreamingQueryListener — recentProgress retains only the last
    # ~100 progress entries (spark.sql.streaming.numRecentProgressUpdates),
    # so a long run harvested only at termination would permanently lose
    # early batches' ingest metrics and the report's consistency gate
    # would then always raise for them. Writing from onQueryProgress also
    # shrinks the report's documented crash window: metrics land within
    # one trigger of the batch commit instead of all-at-termination.
    # Replay re-observes identical numbers, so the batch-scoped overwrite
    # stays idempotent.
    listener = _IngestMetricsWriter(spark, ingest_dir)
    spark.streams.addListener(listener)
    try:
        q = (
            deduped.writeStream.queryName("curation_funnel")
            .foreachBatch(stage)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.streams.removeListener(listener)

    # Fallback sweep for any batch the listener missed (event delivery is
    # asynchronous — a progress event can race termination, and the
    # listener bus itself can be unavailable in exotic runners). Skips
    # batch ids the listener already persisted: two writers racing on ONE
    # directory would be a real hazard; one writer per batch id is not —
    # the shared claim set guarantees that even if a late listener event
    # fires mid-sweep.
    for p in q.recentProgress:
        listener.write_claimed(p)
    return q




def curation_funnel_stream_report(
    spark: SparkSession,
    state_dir: str,
    allow_capped: bool = False,
) -> DataFrame:
    """Per-stage funnel table over the LWW-CURRENT horizon — the same
    (stage_ord, stage, n_docs, n_tokens) rows as the batch
    corpus_curation_funnel over the LWW-current corpus (the parity test
    compares them directly; under monotone append-only ingest that is
    the whole drop, so the pre-r12 contract is unchanged).

    RETROSPECTIVE-LWW (r12): stages 0-2 and 5-6 are RECOMPUTED from the
    sibling's ledger stores over the LWW winners with the batch op's
    expressions verbatim — a tombstone retroactively removes its doc
    from EVERY stage count and an update replaces its signals — while
    stages 3-4 read the per-doc judgment rows foreachBatch persisted
    (decided at judgment time, immutable; module divergence note 1).
    The 7 rows come from ONE 14-number global aggregate over a per-doc
    `reached` column, the batch op's exact shape. This is a
    corpus-scale OFFLINE audit job by design (per-version bounded-width
    ledger rows + one hterm postings join — the docmeta scale every
    LWW store already accepts); the per-batch counts/ rows remain the
    cheap online telemetry, and stages 3/4 must equal their accumulated
    sums whenever no version was ever superseded.

    Gates (all loud, none silent):
    - a counts/ batch without its ingest/ metrics raises (crash between
      checkpoint commit and metrics persistence — unchanged from r8);
    - Σ d_capped > 0 raises unless allow_capped=True (the stage-3
      stream/batch parity precondition — unchanged);
    - a state without docmeta/ raises (pre-r12 run: no version ledger,
      so LWW-consistent counts cannot be reconstructed — re-land);
    - docmeta/vermeta/hterm batch horizons that disagree raise (the
      sibling crashed between its three writes; resume to re-align);
    - a canonical live winner WITHOUT a judgment row raises naming the
      doc_ids (the engine-dedup suppression class, divergence note 2,
      or a main query that crashed behind the ledger — re-ingest the
      named docs or resume the run)."""
    ing = spark.read.option("basePath", f"{state_dir}/ingest").parquet(
        f"{state_dir}/ingest"
    )
    cnt = spark.read.option("basePath", f"{state_dir}/counts").parquet(
        f"{state_dir}/counts"
    )
    have = {r.batch_id for r in ing.select("batch_id").distinct().collect()}
    need = {r.batch_id for r in cnt.select("batch_id").distinct().collect()}
    missing = sorted(need - have)
    if missing:
        raise ValueError(
            "funnel ingest metrics missing for batches "
            f"{missing}: the run crashed between checkpoint commit and "
            "metrics persistence — stage-0/1 counts for those batches "
            "were only observable during that run. Re-land the affected "
            "drops or record the gap before trusting stage-0/1 totals."
        )
    capped = [
        (r.batch_id, r.d_capped)
        for r in cnt.select("batch_id", "d_capped")
        .filter(F.col("d_capped") > 0)
        .collect()
    ]
    if capped and not allow_capped:
        raise ValueError(
            "stream/batch stage-3 parity precondition violated: batches "
            f"{sorted(capped)} recorded (batch_id, d_capped) band buckets "
            "over MINHASH_BUCKET_CAP — near-dup pairs those buckets "
            "would emit may differ from the batch operator's for this "
            "horizon. Re-check parity (or pass allow_capped=True to "
            "accept the caveat and get the table)."
        )
    if not os.path.isdir(f"{state_dir}/docmeta"):
        raise ValueError(
            "docmeta/ missing from the funnel state: this state was "
            "written by a pre-LWW (r11) run — the version ledger needed "
            "for LWW-consistent stage counts was never persisted for "
            "this horizon. Re-land the drops into fresh state before "
            "requesting the report."
        )
    dm = _read_store(
        spark, f"{state_dir}/docmeta", "docmeta store dir", _DOCMETA_SCHEMA
    )
    vm = _read_store(
        spark, f"{state_dir}/vermeta", _VERMETA.what, _VERMETA.schema
    )
    ht = _read_store(
        spark, f"{state_dir}/hterm", "hterm store dir", _HTERM_SCHEMA
    )
    jd = _read_store(
        spark, f"{state_dir}/judgments", _JUDGMENTS.what, _JUDGMENTS.schema
    ).select(*_cols(_JUDGMENTS.schema))

    # DIRECTORY ids, not data-row ids: a tombstone-only batch writes an
    # EMPTY vermeta/hterm directory (zero part files), which a data read
    # cannot see — the gate's signal is "the write happened"
    dm_ids, vm_ids, ht_ids = (
        _batch_ids(f"{state_dir}/{sub}")
        for sub in ("docmeta", "vermeta", "hterm")
    )
    if not (dm_ids == vm_ids == ht_ids):
        raise ValueError(
            f"ledger-store horizons disagree (docmeta {dm_ids}, "
            f"vermeta {vm_ids}, hterm {ht_ids}): the "
            "sibling stream crashed between its three writes — resume "
            "the run to re-align before trusting the report."
        )

    # LWW winner signal rows: one row per live doc carrying exactly the
    # per-version signals the batch expressions consume. The inner join
    # is safe: docmeta and vermeta land from one sibling batch in order,
    # and the horizon gate above already rejected a torn write.
    win = _lww(dm).filter(~F.col("deleted"))
    wsig = win.select(
        "doc_id", "ts", F.col("dl").alias("n_tokens")
    ).join(vm.select(*_VERMETA_COLS), ["doc_id", "ts"])

    flagged = wsig.select(
        "doc_id",
        "ts",
        "n_tokens",
        "source",
        "qk",
        # canonical = min doc_id over the content-hash group COUNTING
        # ONLY quality survivors — the batch op's exact window
        F.min(F.when(F.col("qk"), F.col("doc_id")))
        .over(Window.partitionBy("h"))
        .alias("canon"),
    )

    # stage-3/4 availability gate (must run BEFORE reached: a canonical
    # doc with a NULL nd_dropped would otherwise silently classify past
    # the stages that were never decided for it)
    orphans = [
        r["doc_id"]
        for r in flagged.filter(
            F.col("qk") & (F.col("doc_id") == F.col("canon"))
        )
        .join(jd, ["doc_id", "ts"], "left")
        .filter(F.col("nd_dropped").isNull())
        .select("doc_id")
        .limit(8)
        .collect()
    ]
    if orphans:
        raise ValueError(
            f"canonical live winners {orphans} have no judgment row: "
            "their content was suppressed by the engine's exact-dedup "
            "state (a byte-identical keeper later tombstoned or "
            "superseded, a same-doc revert to older content, or a "
            "delete-then-identical-revival — the module's divergence "
            "note 2) or the main query crashed behind the ledger. "
            "Resume a crashed run; otherwise re-ingest the named docs "
            "AFTER the dedup TTL has expired or with changed content "
            "(a byte-identical re-ingest inside the TTL is suppressed "
            "again), then re-request the report."
        )

    # stage 5: the bottom-quartile source rule over ALL live winners
    # (failers included — the batch op's srck expressions verbatim)
    srck = (
        wsig.groupBy("source")
        .agg(
            F.round(
                F.sum("q").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_quality"),
        )
        .select(
            "source",
            F.row_number()
            .over(Window.orderBy("mean_quality", "source"))
            .alias("q_rank"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_sources"),
        )
        .select(
            "source",
            (
                F.col("q_rank") * _SRC_DROP_DEN
                > F.col("n_sources") * _SRC_DROP_NUM
            )
            .cast("int")
            .alias("kept"),
        )
    )

    # stage 6: the NB model rebuilt over the live winners through their
    # content hashes — hterm is keyed by CONTENT, so the model's term
    # counts move with updates and tombstones exactly as the batch op's
    # would (the batch expressions verbatim; cmodel localCheckpoint-ed
    # for its two consumers, the bigram-LM/kmeans precedent)
    ht_d = ht.select("h", "term").distinct()
    dterms = (
        wsig.select("doc_id", F.col("qk").cast("int").alias("y"), "h")
        .join(ht_d, "h")
        .select("doc_id", "y", "term")
    )
    classes = wsig.agg(
        F.sum(F.col("qk").cast("int")).cast("long").alias("nk"),
        (F.count(F.lit(1)) - F.sum(F.col("qk").cast("int")))
        .cast("long")
        .alias("nd_"),
    )
    cmodel = dterms.groupBy("term").agg(
        F.sum("y").cast("long").alias("ck"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("cd"),
    ).localCheckpoint()
    nb_w = (
        ((F.col("ck") + 1) * (F.col("nd_") + 2))
        / ((F.col("cd") + 1) * (F.col("nk") + 2))
    ).cast("double")
    nbk = (
        dterms.select("doc_id", "term")
        .join(cmodel, "term")
        .crossJoin(F.broadcast(classes))
        .select("doc_id", nb_w.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("w").cast("decimal(25,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("nb_score")
        )
        .select("doc_id", (F.col("nb_score") > 1.0).alias("nbk"))
    )

    reached_col = (
        F.when(~F.col("qk"), F.lit(0))
        .when(F.col("doc_id") != F.col("canon"), F.lit(1))
        .when(F.col("nd_dropped"), F.lit(2))
        .when(F.col("contaminated"), F.lit(3))
        .when(F.col("kept") == 0, F.lit(4))
        .when(~F.coalesce(F.col("nbk"), F.lit(False)), F.lit(5))
        .otherwise(F.lit(6))
    )
    reached = (
        flagged.join(jd, ["doc_id", "ts"], "left")
        .join(F.broadcast(srck), "source")
        .join(nbk, "doc_id", "left")
        .select("n_tokens", reached_col.alias("reached"))
    )
    agg = reached.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("reached") >= s, F.lit(1))), F.lit(0)
            )
            .cast("long")
            .alias(f"d{s}")
            for s in range(len(_FUNNEL_STAGES))
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("reached") >= s, F.col("n_tokens"))),
                F.lit(0),
            )
            .cast("long")
            .alias(f"t{s}")
            for s in range(len(_FUNNEL_STAGES))
        ],
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).cast("int").alias("stage_ord"),
                    F.lit(name).alias("stage"),
                    F.col(f"d{s}").alias("n_docs"),
                    F.col(f"t{s}").alias("n_tokens"),
                )
                for s, name in enumerate(_FUNNEL_STAGES)
            ]
        )
    )
    return agg.select(rows.alias("r")).select("r.*").orderBy("stage_ord")
