"""Streaming face of the perceptual media near-dup, ALL THREE
modalities (batch semantics: operators/multimodal.py — the image aHash
of media_neardup_phash, the video frame-coverage rule of
media_neardup_video, the audio whole-track contour of
media_neardup_audio; keep-first verdicts): media payloads arrive as
JSONL drops (doc_id, base64 payload, mimetype, ingest_ts — JSON cannot
carry raw binary; `unbase64` restores the bytes before the Arrow
kernels); every micro-batch

    1. ROUTES arrivals by mimetype to the right fingerprint kernel
       (the reference's files[] mimetype dispatch,
       slackEventServer.js:160,245): image/* -> phash_fps_of (the 8x8
       block-mean thumbnail kernel + the aHash bit rule, 1 unit/doc),
       video/* -> contour_fps_of(., FRAME_BYTES) (per-frame 64-bit
       energy contours), audio/* -> contour_fps_of(., None) (one
       whole-track contour). All kernels emit the same long format
       (modality, doc_id, frame_idx, n_frames, fp_hi, fp_lo); a row
       with a NULL/unroutable mimetype carries nothing we can
       fingerprint and is EXCLUDED, visible as n_raw - n_docs in the
       batch metrics (the NULL-payload telemetry rule);
    2. lands the fingerprints BANDED (one row per (unit, band) carrying
       the full fingerprint — the LSH-index layout, _fp_bands) in a
       parquet store partitioned by (modality, band, bprefix =
       bval mod 8), batch_id-scoped overwrite (the idempotent-replay
       contract every store in this package uses; batch N reads
       batch_id < N only);
    3. judges arrivals against history under ONE unified rule: a pair
       (a < b) QUALIFIES when greatest(cov_a, cov_b) >=
       VIDEO_MIN_COVERAGE over its hamming <= PHASH_MAX_HAMMING matched
       units, where cov_x = round(matched_x / n_frames_x, 6). For
       single-unit modalities (image, audio) this reduces exactly to
       "any banded hamming<=3 match qualifies" (cov = 1/1), so the one
       expression IS the batch ops' three rules; an arrival is DROPPED
       iff any lower-id doc qualifies (keep-first — the media twin of
       the text funnel's stage 3). The store scan partition-prunes to
       the <= 3 x BANDS x PREFIXES touched directories, then semi-joins
       against the batch's broadcast (modality, band, bval) key set, so
       per-batch cost tracks touched-bucket content, not landed history
       (the curation funnel's measured store discipline,
       SCALE_PROBE_MEDIA.json).

PARITY CONTRACT (tests/test_streaming_media.py, across a checkpoint
restart, mixed-modality drops): with monotone ingest (doc_id order),
the accumulated verdicts equal `media_dedup_batch_of` on the same
(payload, mimetype) rows exactly — same keep flags, same n_dups
(distinct qualifying lower-id docs), same best_hamming (min matched-
unit hamming over qualifying docs), same best_coverage.
PARITY PRECONDITION, stated explicitly (the funnel's stage-3 shape):
the batch op caps (modality, band, bval) buckets over the WHOLE corpus
while the stream caps them AS-OF-BATCH, so parity holds only while no
bucket crosses the cap mid-stream. Each batch records `d_capped`
(touched buckets over the cap) in its metrics row, and
media_dedup_stream_report REFUSES to hand over the table while
Σ d_capped > 0 unless the caller passes allow_capped=True (the report
gate shape the funnel and ingest-metrics checks use).

UPDATE/DELETE (the LWW ledger of the store rails, store.py, applied
as in semantic_dedup): drops may carry deleted=true tombstones and
re-ingested versions of earlier doc_ids. Landing writes the
dp-partitioned docmeta version ledger FIRST (so a batch's own
tombstones mask the reference set its arrivals are judged against);
fingerprints and verdicts are version-stamped with ts; judging masks
the history side against the ledger's uncompacted tail (bounded by
compaction cadence — a tombstoned or superseded doc stops being a
near-dup reference); the report serves only live winners' verdicts.
Verdict semantics as in semantic_dedup: decided at judgment time
against the then-live corpus, immutable once written; re-ingests are
re-judged (LWW in the report); not retroactively recomputed. Ordering
contract: per-doc nondecreasing distinct ingest_ts. When one
micro-batch carries SEVERAL versions of a doc_id, only the batch-LWW
winner is fingerprinted and judged (the ledger still records every
version): the kernels key units by doc_id, so fingerprinting every
version would merge them into one doc and stamp the superseded
payload's fingerprints with the winner's ts — corrupting the reference
set past the mask (ADVICE r11); the winner-only discipline is
observationally identical (a superseded sibling's rows would be masked
everywhere and dropped at the next fold).

Store maintenance goes through the store rails (store.py):
compact_media_store folds committed batches of all three stores into one
directory each ((modality, band, bprefix) layout preserved; id-horizon +
commits-log validation; underscore-prefixed crash staging every reader
refuses loudly), PHYSICALLY dropping superseded/tombstoned fingerprints
and verdicts (the LWW mask), folding the ledger to winner rows
(tombstones retained; stats snapshot as fold-horizon marker); the runner
invokes it every `compact_every` batches BY DEFAULT — the
auto-compaction policy all sibling stores ship with.

100 TB/day shape: each fingerprint kernel is one Arrow map (1 row per
image/track, 1 per video frame); the store write is BANDS rows per
unit; the near-dup join reads only touched buckets (pruned scan +
broadcast semi-join); the coverage agg keys on matched (doc_a, doc_b)
pairs — bounded by actual matches, never all-pairs; no stage holds
unbounded executor state. MEASURED (tools/media_probe.py,
SCALE_PROBE_MEDIA.json, three decades of store growth in untouched
buckets, 66k -> 66M rows): the shipped path's store-size exponent is
0.148 (1.6 -> 4.5 s) while the unpartitioned-layout counterfactual
enters its linear regime in the top decade (2.3 -> 11.4 s, exponent
0.385 and climbing) — honest caveat: the layout's fixed overhead
(partition discovery + semi-join) exceeds a whole-store scan below
~10M rows and pays for itself beyond the crossover, which is the
regime the store exists for. Video is the store's fastest-growing
modality (one row per frame per band); SCALE_PROBE_MEDIA's video face
measures that growth term separately.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.multimodal import (
    CONTOUR_SEGMENTS,
    FRAME_BYTES,
    PHASH_MAX_HAMMING,
    VIDEO_MIN_COVERAGE,
    _fp_bands,
    contour_fps_of,
    phash_fps_of,
)
from .store import (
    _LwwStore,
    _assert_local_dir,
    _batch_ids,
    _cols,
    _compact_lww_stores,
    _ledger_write,
    _mask_visible,
    _pruned_store,
    _read_store,
    _tail_live,
)

MEDIA_DROP_SCHEMA = (
    "doc_id bigint, payload_b64 string, mimetype string, "
    "ingest_ts timestamp, deleted boolean"
)
_FP_STORE_PREFIXES = 8
_STORE_COLS = [
    "modality", "doc_id", "frame_idx", "n_frames", "fp_hi", "fp_lo",
    "band", "bval",
]
# The LWW-folded media stores (store.py).
_FINGERPRINTS = _LwwStore(
    "fingerprints",
    "modality string, doc_id bigint, frame_idx bigint, n_frames bigint, "
    "fp_hi bigint, fp_lo bigint, band int, bval bigint, ts timestamp, "
    "bprefix int, batch_id int",
    ["modality", "band", "bprefix"],
    "media fingerprint store dir",
)
_VERDICTS = _LwwStore(
    "verdicts",
    "modality string, doc_id bigint, n_units bigint, fp_hi bigint, "
    "fp_lo bigint, keep boolean, n_dups bigint, best_hamming bigint, "
    "best_coverage double, ts timestamp, batch_id int",
    [],
    "media verdict store dir",
)
_BAND_CARRY = ("modality", "doc_id", "frame_idx", "n_frames")
_BUCKET_KEY = ["modality", "band", "bval"]


def _bprefix_col():
    # bval is already a uniform 16-bit LSH key — no rehash needed
    return F.pmod(F.col("bval"), F.lit(_FP_STORE_PREFIXES))


def _hamming(a: str, b: str):
    return (
        F.bit_count(F.col(f"{a}.fp_lo").bitwiseXOR(F.col(f"{b}.fp_lo")))
        + F.bit_count(F.col(f"{a}.fp_hi").bitwiseXOR(F.col(f"{b}.fp_hi")))
    ).cast("bigint")


def _routed_fps(media: DataFrame) -> DataFrame:
    """(doc_id, payload, mimetype) -> the unified per-unit fingerprint
    long format (modality, doc_id, frame_idx, n_frames, fp_hi, fp_lo):
    mimetype routes each payload to its batch op's kernel and gate —
    image/* through the aHash thumbnail kernel (one unit), video/*
    through per-frame contours, audio/* through one whole-track contour.
    Unroutable mimetypes (NULL or anything else) produce no rows — the
    caller's n_raw - n_docs telemetry keeps them visible."""
    img = media.filter(
        F.col("mimetype").startswith("image/")
        & (F.octet_length("payload") > 0)  # F7 gate, batch-op parity
    ).select("doc_id", "payload")
    vid = media.filter(
        F.col("mimetype").startswith("video/")
        & (F.octet_length("payload") > 0)
    ).select("doc_id", "payload")
    aud = media.filter(
        F.col("mimetype").startswith("audio/")
        & (F.octet_length("payload") >= CONTOUR_SEGMENTS)
    ).select("doc_id", "payload")

    def unit(fps: DataFrame, modality: str) -> DataFrame:
        return fps.select(
            F.lit(modality).alias("modality"),
            "doc_id",
            F.lit(0).cast("long").alias("frame_idx"),
            F.lit(1).cast("long").alias("n_frames"),
            "fp_hi",
            "fp_lo",
        )

    framed = contour_fps_of(vid, FRAME_BYTES).select(
        F.lit("video").alias("modality"),
        "doc_id", "frame_idx", "n_frames", "fp_hi", "fp_lo",
    )
    return (
        unit(phash_fps_of(img), "image")
        .unionByName(framed)
        .unionByName(
            unit(
                contour_fps_of(aud, None).select("doc_id", "fp_hi", "fp_lo"),
                "audio",
            )
        )
    )


def _verdicts_of(
    bands_a: DataFrame, bands_b: DataFrame, fps: DataFrame
) -> DataFrame:
    """Keep-first verdicts for the arrival side `bands_b`, judged
    against `bands_a` (the capped history ∪ same-batch band rows) —
    shared VERBATIM by media_dedup_batch_of and the stream stage, so
    the parity contract is enforced by construction.

    The unified rule: units pair on an exact band match at hamming <=
    PHASH_MAX_HAMMING (pigeonhole: 4 disjoint 16-bit bands cover
    hamming <= 3); a doc pair (a < b) QUALIFIES when
    greatest(cov_a, cov_b) >= VIDEO_MIN_COVERAGE over its matched
    units. Single-unit modalities reduce to "any match qualifies"
    (cov = 1/1) — exactly the batch image/audio rule — while video
    reproduces video_neardup_pairs_of's re-encode AND clip classes."""
    matched = (
        bands_a.alias("a")
        .join(
            bands_b.alias("b"),
            (F.col("a.modality") == F.col("b.modality"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("b.modality").alias("modality"),
            F.col("b.doc_id").alias("doc_id"),
            F.col("a.doc_id").alias("dup_of"),
            F.col("a.n_frames").alias("n_frames_a"),
            F.col("b.n_frames").alias("n_frames_b"),
            F.col("a.frame_idx").alias("fa"),
            F.col("b.frame_idx").alias("fb"),
            _hamming("a", "b").alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .distinct()
    )
    cov_a = F.round(F.col("matched_a") / F.col("n_frames_a"), 6)
    cov_b = F.round(F.col("matched_b") / F.col("n_frames_b"), 6)
    qual = (
        matched.groupBy(
            "modality", "doc_id", "dup_of", "n_frames_a", "n_frames_b"
        )
        .agg(
            F.countDistinct("fa").alias("matched_a"),
            F.countDistinct("fb").alias("matched_b"),
            F.min("hamming").alias("min_hamming"),
        )
        .withColumn("coverage", F.greatest(cov_a, cov_b))
        .filter(F.col("coverage") >= F.lit(VIDEO_MIN_COVERAGE))
    )
    verd = qual.groupBy("modality", "doc_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("min_hamming").alias("best_hamming"),
        F.max("coverage").alias("best_coverage"),
    )
    # one row per fingerprinted doc; single-unit docs carry their
    # fingerprint into the verdict (the r9 image-face certificate),
    # multi-frame videos carry NULL fps and their unit count
    roster = fps.groupBy("modality", "doc_id").agg(
        F.max("n_frames").alias("n_units"),
        F.max(F.when(F.col("n_frames") == 1, F.col("fp_hi"))).alias("fp_hi"),
        F.max(F.when(F.col("n_frames") == 1, F.col("fp_lo"))).alias("fp_lo"),
    )
    return roster.join(verd, ["modality", "doc_id"], "left").select(
        "modality",
        "doc_id",
        "n_units",
        "fp_hi",
        "fp_lo",
        F.col("n_dups").isNull().alias("keep"),
        F.coalesce("n_dups", F.lit(0).cast("long")).alias("n_dups"),
        "best_hamming",
        "best_coverage",
    )


def media_dedup_batch_of(media: DataFrame) -> DataFrame:
    """Keep-first batch verdicts over (doc_id, payload, mimetype) media
    — the parity reference the stream must reproduce, all three
    modalities: keep iff no lower-id doc qualifies under the unified
    coverage rule (same kernels, same bands, same per-(modality, band,
    bval) bucket cap as the registered batch ops)."""
    from ..operators.multimodal import PHASH_BUCKET_CAP

    fps = _routed_fps(media)
    bands = _fp_bands(fps, _BAND_CARRY)
    sized = bands.withColumn(
        "bsize", F.count(F.lit(1)).over(Window.partitionBy(*_BUCKET_KEY))
    )
    bands_a = sized.filter(F.col("bsize") <= PHASH_BUCKET_CAP).drop("bsize")
    return _verdicts_of(bands_a, bands, fps).orderBy("modality", "doc_id")


def compact_media_store(
    spark: SparkSession,
    state_dir: str,
    upto: int,
    checkpoint_dir: str | None = None,
) -> int:
    """Fold batches [0, upto) of all three media stores, preserving the
    (modality, band, bprefix) fingerprint layout — the signature
    store's compaction discipline applied to the media store (partition
    discovery across batch dirs is the pruned path's residual growth
    term) — with the LWW mask: superseded-version and
    tombstoned-doc fingerprints AND their verdicts are PHYSICALLY
    dropped (join against the ledger's live winners), and the docmeta
    ledger folds to one winner row per doc (tombstones retained; stats
    snapshot as fold-horizon marker). The two data-store folds run at
    the same time, then the ledger folds (store.py's fold order)."""
    return _compact_lww_stores(
        spark, state_dir, upto, checkpoint_dir, (_FINGERPRINTS, _VERDICTS)
    )


def media_dedup_stream(
    spark: SparkSession,
    drop_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1000,
    compact_every: int | None = 64,
):
    """Run the stream over all available drops (availableNow) and block
    until done; returns the finished StreamingQuery. Re-invoke with the
    same checkpoint_dir to resume — only new files process, and replayed
    batches overwrite their own prior store partition and verdicts.

    `compact_every=N` folds the fingerprint store every N committed
    batches from inside the runner (ON BY DEFAULT, the sibling stores'
    policy; pass None to manage compaction externally). Replay-safe —
    a replayed batch's repeat call is a no-op once one directory
    remains below its horizon."""
    store_dir = f"{state_dir}/fingerprints"
    verdicts_dir = f"{state_dir}/verdicts"
    metrics_dir = f"{state_dir}/metrics"

    raw = (
        spark.readStream.schema(MEDIA_DROP_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )

    def stage(batch: DataFrame, batch_id: int) -> None:
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_media_store(
                spark, state_dir, upto=batch_id, checkpoint_dir=checkpoint_dir
            )
        # cap read at call time so the parity-precondition harness can
        # drive a bucket over it (the funnel's MINHASH_BUCKET_CAP shape)
        from ..operators.multimodal import PHASH_BUCKET_CAP

        # The raw frame is persisted so n_raw (every arrival,
        # fingerprintable or not — the telemetry that keeps the
        # NULL/empty/unroutable exclusions below visible) and the
        # fingerprint derivation share ONE source scan per micro-batch
        # (ADVICE r9: the trailing batch.count() re-executed the JSON
        # read).
        batch = batch.persist()
        n_raw = batch.count()
        deleted = F.coalesce(F.col("deleted"), F.lit(False))
        # ledger FIRST: this batch's own tombstones/updates must mask
        # the reference set its arrivals are judged against
        _ledger_write(
            batch.select(
                "doc_id", F.col("ingest_ts").alias("ts"),
                deleted.alias("deleted"),
            ),
            state_dir,
            batch_id,
        )()
        # Per-doc BATCH-LWW winner before fingerprinting: one micro-batch
        # may legally carry several versions of a doc_id (the ordering
        # contract only demands nondecreasing distinct ts). The kernels
        # key fingerprints by doc_id, so fingerprinting every version
        # would merge the versions' units into one doc for judging and
        # fan the ts stamp out under BOTH ts values — the superseded
        # payload's fingerprints would then survive the LWW mask and
        # compaction (ADVICE r11). Only the winner version is
        # fingerprinted and judged: the superseded sibling's fingerprints
        # and verdict would be invisible under the ledger mask and
        # physically dropped at the next fold anyway, and at judgment
        # time the live corpus holds only the winner. The ledger above
        # still records EVERY version. Winner = max (ts, deleted,
        # payload, mimetype) struct — _lww's tiebreak extended over the
        # payload so even an ordering-contract violation (duplicate ts)
        # resolves deterministically.
        winners = (
            batch.groupBy("doc_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("ingest_ts").alias("ts"),
                        deleted.alias("deleted"),
                        F.col("payload_b64").alias("payload_b64"),
                        F.col("mimetype").alias("mimetype"),
                    )
                ).alias("w")
            )
            .select(
                "doc_id",
                F.col("w.ts").alias("ingest_ts"),
                F.col("w.deleted").alias("deleted"),
                F.col("w.payload_b64").alias("payload_b64"),
                F.col("w.mimetype").alias("mimetype"),
            )
        )
        # NULL payloads carry no pixels to fingerprint and would crash
        # the Arrow kernels (bytes(None)); _routed_fps applies each
        # modality's batch-op gate (octet_length / CONTOUR_SEGMENTS)
        # and drops unroutable mimetypes — parity-preserving, since
        # media_dedup_batch_of routes through the same function.
        # Tombstones carry no payload to fingerprint.
        ts_of = winners.select(
            "doc_id", F.col("ingest_ts").alias("ts")
        )
        fps = _routed_fps(
            winners.filter(~F.col("deleted"))
            .filter(F.col("payload_b64").isNotNull())
            .select(
                "doc_id",
                F.unbase64("payload_b64").alias("payload"),
                "mimetype",
            )
        ).persist()
        bands_batch = sized = None
        try:
            bands_batch = (
                _fp_bands(fps, _BAND_CARRY)
                .withColumn("bprefix", _bprefix_col())
                .join(ts_of, "doc_id")
                .persist()
            )
            bands_batch.write.mode("overwrite").partitionBy(
                "modality", "band", "bprefix"
            ).parquet(f"{store_dir}/batch_id={batch_id}")

            touched = [
                (r["modality"], r["band"], r["bprefix"])
                for r in bands_batch.select("modality", "band", "bprefix")
                .distinct()
                .collect()  # bounded: <= 3 * BANDS * _FP_STORE_PREFIXES
            ]
            store = _pruned_store(
                spark, store_dir, _FINGERPRINTS, batch_id, touched
            )
            batch_keys = bands_batch.select(*_BUCKET_KEY).distinct()
            if store is None:
                all_touched = bands_batch.select(*_STORE_COLS)
            else:
                # live history only: mask superseded/tombstoned versions
                # against the ledger tail (bounded by compaction
                # cadence; includes THIS batch's just-landed tombstones)
                tail = _tail_live(spark, state_dir)
                store = _mask_visible(store, tail, key="doc_id")
                all_touched = store.select(*_STORE_COLS).join(
                    F.broadcast(batch_keys), _BUCKET_KEY, "semi"
                ).unionByName(bands_batch.select(*_STORE_COLS))
            sized = all_touched.withColumn(
                "bsize",
                F.count(F.lit(1)).over(Window.partitionBy(*_BUCKET_KEY)),
            ).persist()
            bands_a = sized.filter(F.col("bsize") <= PHASH_BUCKET_CAP)
            d_capped = (
                sized.filter(F.col("bsize") > PHASH_BUCKET_CAP)
                .select(*_BUCKET_KEY)
                .distinct()
                .count()
            )
            (
                _verdicts_of(bands_a, bands_batch, fps)
                .join(ts_of, "doc_id")
                .write.mode("overwrite")
                .parquet(f"{verdicts_dir}/batch_id={batch_id}")
            )
            (
                fps.agg(
                    F.lit(n_raw).cast("long").alias("n_raw"),
                    F.countDistinct("modality", "doc_id").alias("n_docs"),
                    *[
                        F.countDistinct(
                            F.when(F.col("modality") == m, F.col("doc_id"))
                        ).alias(f"n_{m}")
                        for m in ("image", "video", "audio")
                    ],
                    F.lit(d_capped).cast("long").alias("d_capped"),
                )
                .write.mode("overwrite")
                .parquet(f"{metrics_dir}/batch_id={batch_id}")
            )
        finally:
            for frame in (sized, bands_batch):
                if frame is not None:
                    frame.unpersist()
            fps.unpersist()
            batch.unpersist()

    q = (
        raw.writeStream.queryName("media_dedup_stream")
        .foreachBatch(stage)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def media_dedup_probe_adhoc(
    spark: SparkSession,
    state_dir: str,
    probes: dict[int, tuple[bytes, str]],
) -> DataFrame:
    """Judge AD-HOC media payloads against the landed LWW-current
    fingerprint store WITHOUT ingesting — the request path a deployment
    exposes ("is this payload a dup of anything landed?"; until now
    only ingestion triggered judgment). `probes` maps probe_id ->
    (payload bytes, mimetype); mimetype routes each probe through the
    same kernels and gates as ingestion (_routed_fps — an unroutable or
    empty probe simply yields no row, the batch ops' exclusion rule).
    The store scan prunes to the probes' own touched (modality, band,
    bprefix) buckets; history is masked against the ledger tail (a
    tombstoned or superseded payload has stopped being a reference) and
    capped per bucket exactly as the batch ops cap (PHASH_BUCKET_CAP
    over the store's as-of-now bucket content — probes land nothing, so
    they never count toward a bucket); the verdict kernel is
    _verdicts_of, shared VERBATIM with the stream and the batch op.
    Every live landed doc plays the reference (lower-id) role
    regardless of the probe's id: probe ids are offset above the landed
    horizon internally (one bounded max() over the pruned masked slice
    — only same-bucket units can ever qualify, so the slice suffices)
    and mapped back on output. Probes are judged INDEPENDENTLY (they do
    not witness each other — each is its own question). Nothing is
    written. Output: (probe_id, modality, n_units, keep, n_dups,
    best_hamming, best_coverage) in probe_id order; keep=false means "a
    dup of something landed". Reference anchor: the serving path
    re-reads CURRENT state per lookup
    (Slack Event Server/slackEventServer.js:187-202)."""
    from ..operators.multimodal import PHASH_BUCKET_CAP

    if not probes:
        raise ValueError("no probe payloads given")
    ids = sorted(int(p) for p in probes)
    frame = spark.createDataFrame(
        [
            (i, bytearray(probes[pid][0]), probes[pid][1])
            for i, pid in enumerate(ids)
        ],
        "doc_id bigint, payload binary, mimetype string",
    )
    # no persists: a probe request is a handful of rows, so the Arrow
    # fingerprint kernels re-running per plan branch cost nothing next
    # to the store read
    fps = _routed_fps(frame)
    bands = _fp_bands(fps, _BAND_CARRY).withColumn(
        "bprefix", _bprefix_col()
    )
    touched = [
        (r["modality"], r["band"], r["bprefix"])
        for r in bands.select("modality", "band", "bprefix")
        .distinct()
        .collect()  # bounded: <= probes' units * BANDS
    ]
    fp_dir = f"{state_dir}/fingerprints"
    _assert_local_dir(fp_dir, _FINGERPRINTS.what)
    if not _batch_ids(fp_dir):
        raise ValueError(
            f"no fingerprint store under {state_dir!r}: nothing "
            "has landed yet (run media_dedup_stream first)"
        )
    if not touched:
        # the store EXISTS but every probe was unroutable or empty
        # (the documented exclusion rule: such payloads yield no row)
        # — raising the missing-store error here would misdiagnose a
        # landed store as absent (ADVICE r12); return the zero-row
        # verdict frame in the output schema instead
        return spark.createDataFrame(
            [],
            "probe_id bigint, modality string, n_units bigint, "
            "keep boolean, n_dups bigint, best_hamming bigint, "
            "best_coverage double",
        )
    store = _pruned_store(spark, fp_dir, _FINGERPRINTS, 1 << 62, touched)
    tail = _tail_live(spark, state_dir)
    hist = _mask_visible(store, tail, key="doc_id").select(*_STORE_COLS)
    sized = hist.withColumn(
        "bsize",
        F.count(F.lit(1)).over(Window.partitionBy(*_BUCKET_KEY)),
    )
    bands_a = sized.filter(F.col("bsize") <= PHASH_BUCKET_CAP).drop("bsize")
    mx = hist.agg(
        F.coalesce(F.max("doc_id"), F.lit(0)).alias("mx")
    ).collect()[0]["mx"]
    base = F.lit(int(mx) + 1)
    bands_b = bands.withColumn("doc_id", F.col("doc_id") + base)
    fps_b = fps.withColumn("doc_id", F.col("doc_id") + base)
    idmap = spark.createDataFrame(
        [(int(mx) + 1 + i, pid) for i, pid in enumerate(ids)],
        "doc_id bigint, probe_id bigint",
    )
    return (
        _verdicts_of(bands_a, bands_b, fps_b)
        .join(F.broadcast(idmap), "doc_id")
        .select(
            "probe_id",
            "modality",
            "n_units",
            "keep",
            "n_dups",
            "best_hamming",
            "best_coverage",
        )
        .orderBy("probe_id")
    )


def media_dedup_stream_report(
    spark: SparkSession, state_dir: str, allow_capped: bool = False
) -> DataFrame:
    """Accumulated per-doc verdicts over every processed batch — the
    same (modality, doc_id, n_units, fp_hi, fp_lo, keep, n_dups,
    best_hamming, best_coverage) rows as media_dedup_batch_of (the
    parity test compares them directly).

    Refuses to hand over the table when any processed batch recorded
    band buckets over PHASH_BUCKET_CAP (the stated stream/batch parity
    precondition), naming the offending (batch_id, d_capped) pairs;
    allow_capped=True accepts the caveat and returns the rows anyway
    (the funnel report's honest-gate shape). The metrics sidecar is
    deliberately NOT folded at compaction: its per-batch (batch_id,
    d_capped) identity IS the gate's error message, each batch adds one
    tiny file, and only this offline report reads it — a
    directory-listing growth term, never a serving one."""
    metrics_dir = f"{state_dir}/metrics"
    if os.path.isdir(metrics_dir):
        capped = (
            spark.read.option("basePath", metrics_dir)
            .parquet(metrics_dir)
            .filter(F.col("d_capped") > 0)
            .select("batch_id", "d_capped")
            .collect()
        )
        if capped and not allow_capped:
            pairs = sorted((r["batch_id"], r["d_capped"]) for r in capped)
            raise ValueError(
                f"media_dedup_stream_report: batches {pairs} recorded "
                "band buckets over PHASH_BUCKET_CAP — stream/batch "
                "keep-verdict parity is not guaranteed for this horizon "
                "(the batch operator suppresses over-cap buckets "
                "corpus-wide; the stream caps as-of-batch). Pass "
                "allow_capped=True to accept the caveat."
            )
    v = _read_store(
        spark, f"{state_dir}/verdicts", _VERDICTS.what, _VERDICTS.schema
    ).select(*_cols(_VERDICTS.schema))
    # LWW-current verdicts only: superseded versions' and tombstoned
    # docs' verdicts are masked against the ledger tail here and
    # physically dropped at compaction
    tail = _tail_live(spark, state_dir)
    return (
        _mask_visible(v, tail, key="doc_id")
        .select(
            "modality", "doc_id", "n_units", "fp_hi", "fp_lo", "keep",
            "n_dups", "best_hamming", "best_coverage",
        )
        .orderBy("modality", "doc_id")
    )
