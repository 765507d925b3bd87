"""Media fingerprint-store probe: is per-batch perceptual-dedup cost
flat as the landed store grows in buckets the batch does not touch?

The sibling stores each carry this discipline (SCALE_PROBE_FUNNEL.json,
SCALE_PROBE_SEMANTIC.json); the new media store
(streaming/media_dedup.py) ships with it from day one instead of
waiting for a verdict to ask.

It measures the store-dependent stage of media_dedup_stream's
foreachBatch (touched-bucket collect -> (band, bprefix)-pruned store
scan -> broadcast (band, bval) semi-join -> union with the batch ->
bucket sizing/cap -> banded hamming pair join -> dropped-doc count)
for a FIXED incoming batch against stores three decades apart in rows,
in both shapes:

  pruned        — the shipped path (store._pruned_store over the
                  (band, bprefix) partitioned layout + the semi-join)
  unpartitioned — the naive LAYOUT counterfactual: identical rows
                  landed WITHOUT the partitioning (doc order, bvals
                  interleaved so row-group stats cannot skip) and read
                  whole every batch (the funnel/semantic probes'
                  honest counterfactual: the engine can rescue a lazy
                  plan, not a lazy layout).

Store growth mode: the decade points add 9 / 99 replicas of every base
band row with REMAPPED bvals, shifted doc_ids — history accumulating
in buckets the probe batch never touches (replicas landing in the
batch's own (band, bval) buckets are filtered out; counts are measured,
not assumed), the exact growth the layout exists to neutralize. The
probe batch duplicates 50 landed images under fresh high ids, written
to and re-read from parquet so its values are runtime data; both shapes
must drop the same docs at every store size — asserted.

Protocol: warmup + 2 timed passes, min (bench.py's). Writes
SCALE_PROBE_MEDIA.json at the repo root and prints one JSON line.

Usage:  python tools/media_probe.py [--out SCALE_PROBE_MEDIA.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from kafka_flink_slack_pipeline_spark.operators.multimodal import (  # noqa: E402
    FRAME_BYTES,
    PHASH_BUCKET_CAP,
    PHASH_MAX_HAMMING,
    VIDEO_MIN_COVERAGE,
    _fp_bands,
    contour_fps_of,
    phash_fps_of,
)
from kafka_flink_slack_pipeline_spark.session import get_spark  # noqa: E402
from kafka_flink_slack_pipeline_spark.streaming.media_dedup import (  # noqa: E402
    _BAND_CARRY,
    _BUCKET_KEY,
    _FINGERPRINTS,
    _STORE_COLS,
    _bprefix_col,
)
from kafka_flink_slack_pipeline_spark.streaming.store import (  # noqa: E402
    _pruned_store,
)

CORPUS_MULT = 10            # 50k-doc base corpus (5k/sf0.1 x 10)
BATCH_SRC_N = 50            # landed docs the probe batch duplicates
BATCH_ID_OFFSET = 100_000_000
STORE_REPLICAS = {"base": 0, "x10": 9, "x100": 99, "x1000": 999}
LAND_BATCH_DOCS = 6_000     # docs per landed batch_id directory


def _face_fps(spark, corpus_dir: str, face: str):
    """Unified-long-format fingerprints (modality, doc_id, frame_idx,
    n_frames, fp_hi, fp_lo) for the probe face — the rows a media
    ingest stream would land. face='image': the corpus' image-typed
    docs through the aHash kernel (one unit/doc). face='video': the
    video-typed docs through the per-frame contour kernel, payloads
    repeated x10 so each doc spans multiple FRAME_BYTES frames (the
    generator's docs are mostly single-frame; the video face exists to
    measure the store's fastest-growing modality — several band rows
    per doc per FRAME)."""
    d = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    if face == "image":
        images = d.filter(
            (F.col("doc_id") % 3 == 0) & (F.octet_length("text") > 0)
        ).select("doc_id", F.col("text").cast("binary").alias("payload"))
        return phash_fps_of(images).select(
            F.lit("image").alias("modality"),
            "doc_id",
            F.lit(0).cast("long").alias("frame_idx"),
            F.lit(1).cast("long").alias("n_frames"),
            "fp_hi",
            "fp_lo",
        )
    videos = d.filter(
        (F.col("doc_id") % 3 == 2) & (F.octet_length("text") > 0)
    ).select(
        "doc_id",
        F.repeat(F.col("text"), 10).cast("binary").alias("payload"),
    )
    return contour_fps_of(videos, FRAME_BYTES).select(
        F.lit("video").alias("modality"),
        "doc_id", "frame_idx", "n_frames", "fp_hi", "fp_lo",
    )


def _build_base_store(spark, fps_dir: str, store_dir: str,
                      partitioned: bool) -> int:
    fps = spark.read.parquet(fps_dir)
    n = fps.agg(F.max("doc_id")).collect()[0][0] + 1
    batch_id = 0
    for lo in range(0, int(n), LAND_BATCH_DOCS):
        bands = (
            _fp_bands(
                fps.filter(
                    (F.col("doc_id") >= lo)
                    & (F.col("doc_id") < lo + LAND_BATCH_DOCS)
                ),
                _BAND_CARRY,
            )
            .withColumn("bprefix", _bprefix_col())
            # r11 version stamp (this probe measures the append-only
            # store-growth axis; the update-tail mask is bounded by
            # compaction cadence and measured live in
            # SCALE_PROBE_INDEX/SCALE_PROBE_HYBRID)
            .withColumn("ts", F.lit("2025-01-01 00:00:00").cast("timestamp"))
        )
        w = bands.write.mode("overwrite")
        if partitioned:
            w = w.partitionBy("modality", "band", "bprefix")
        w.parquet(f"{store_dir}/batch_id={batch_id}")
        batch_id += 1
    return batch_id


def _add_replicas(spark, base_dir: str, store_dir: str, next_id: int,
                  n_rep: int, batch_bvals, partitioned: bool) -> int:
    """n_rep replicas of every base band row into REMAPPED buckets
    (bval' = (31*bval + 9973*r) mod 2^16, rows colliding with the probe
    batch's own buckets filtered OUT), shifted doc_ids — history
    growing in buckets the batch never touches."""
    base = (
        spark.read.option("basePath", base_dir)
        .parquet(base_dir)
        .select(*_STORE_COLS, "ts")
    )
    rep = (
        base.withColumn("r", F.explode(F.sequence(F.lit(1), F.lit(n_rep))))
        .select(
            "modality",
            (F.col("doc_id") + F.col("r") * F.lit(1_000_000)).alias(
                "doc_id"
            ),
            "frame_idx",
            "n_frames",
            "fp_hi",
            "fp_lo",
            "band",
            F.pmod(
                F.col("bval") * 31 + F.col("r") * 9973, F.lit(1 << 16)
            ).alias("bval"),
            "ts",
        )
        .join(F.broadcast(batch_bvals), _BUCKET_KEY, "anti")
        .withColumn("bprefix", _bprefix_col())
    )
    w = rep.write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("modality", "band", "bprefix")
    w.parquet(f"{store_dir}/batch_id={next_id}")
    return next_id + 1


def _dropped_count(spark, store_dir: str, before: int, batch_bands,
                   pruned: bool) -> int:
    """The store-dependent stage work, ending in the verdict action —
    media_dedup_stream's foreachBatch body verbatim."""
    if pruned:
        touched = [
            (r["modality"], r["band"], r["bprefix"])
            for r in batch_bands.select("modality", "band", "bprefix")
            .distinct()
            .collect()
        ]
        store = _pruned_store(
            spark, store_dir, _FINGERPRINTS, before, touched
        ).select(*_STORE_COLS)
        keys = batch_bands.select(*_BUCKET_KEY).distinct()
        all_t = store.join(
            F.broadcast(keys), _BUCKET_KEY, "semi"
        ).unionByName(batch_bands.select(*_STORE_COLS))
    else:
        store = (
            spark.read.option("basePath", store_dir)
            .parquet(store_dir)
            .filter(F.col("batch_id") < before)
            .select(*_STORE_COLS)
        )
        all_t = store.unionByName(batch_bands.select(*_STORE_COLS))
    sized = all_t.withColumn(
        "bsize", F.count(F.lit(1)).over(Window.partitionBy(*_BUCKET_KEY))
    )
    bands_a = sized.filter(F.col("bsize") <= PHASH_BUCKET_CAP)
    hamming = (
        F.bit_count(F.col("a.fp_lo").bitwiseXOR(F.col("b.fp_lo")))
        + F.bit_count(F.col("a.fp_hi").bitwiseXOR(F.col("b.fp_hi")))
    ).cast("bigint")
    matched = (
        bands_a.alias("a")
        .join(
            batch_bands.alias("b"),
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
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .distinct()
    )
    cov_a = F.round(F.col("matched_a") / F.col("n_frames_a"), 6)
    cov_b = F.round(F.col("matched_b") / F.col("n_frames_b"), 6)
    return (
        matched.groupBy(
            "modality", "doc_id", "dup_of", "n_frames_a", "n_frames_b"
        )
        .agg(
            F.countDistinct("fa").alias("matched_a"),
            F.countDistinct("fb").alias("matched_b"),
        )
        .filter(
            F.greatest(cov_a, cov_b) >= F.lit(VIDEO_MIN_COVERAGE)
        )
        .select("modality", "doc_id")
        .distinct()
        .count()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_PROBE_MEDIA.json")
    ap.add_argument(
        "--face", choices=("image", "video"), default="image",
        help="which modality's store growth to measure (video lands "
             "several band rows per doc per FRAME — the store's "
             "fastest-growing modality)",
    )
    args = ap.parse_args()

    spark = get_spark("media_probe")
    work = tempfile.mkdtemp(prefix="media_probe_")
    try:
        from scale_probe import generate

        corpus_dir = f"{work}/corpus"
        os.makedirs(corpus_dir)
        generate(CORPUS_MULT, corpus_dir)
        _face_fps(spark, corpus_dir, args.face).write.parquet(
            f"{work}/fps"
        )

        # probe batch: duplicates of 50 landed docs (every frame of
        # each, for the video face) under fresh high ids (pairs do real
        # work), parquet-round-tripped so bvals are runtime data
        batch_ids = (
            spark.read.parquet(f"{work}/fps")
            .select("doc_id").distinct().orderBy("doc_id")
            .limit(BATCH_SRC_N)
        )
        (
            _fp_bands(
                spark.read.parquet(f"{work}/fps").join(
                    F.broadcast(batch_ids), "doc_id", "semi"
                ),
                _BAND_CARRY,
            )
            .select(
                "modality",
                (F.col("doc_id") + F.lit(BATCH_ID_OFFSET)).alias("doc_id"),
                "frame_idx",
                "n_frames",
                "fp_hi",
                "fp_lo",
                "band",
                "bval",
            )
            .withColumn("bprefix", _bprefix_col())
            .write.parquet(f"{work}/batch")
        )
        batch_bands = spark.read.parquet(f"{work}/batch").localCheckpoint()
        batch_bvals = batch_bands.select(
            *_BUCKET_KEY
        ).distinct().localCheckpoint()

        stores: dict[str, dict[bool, tuple[str, int]]] = {}
        for partitioned in (True, False):
            tag = "p" if partitioned else "u"
            base_dir = f"{work}/store_base_{tag}"
            next_id = _build_base_store(
                spark, f"{work}/fps", base_dir, partitioned
            )
            stores.setdefault("base", {})[partitioned] = (base_dir, next_id)
            for name, n_rep in STORE_REPLICAS.items():
                if n_rep == 0:
                    continue
                d = f"{work}/store_{name}_{tag}"
                shutil.copytree(base_dir, d)
                stores.setdefault(name, {})[partitioned] = (
                    d,
                    _add_replicas(
                        spark, base_dir, d, next_id, n_rep,
                        batch_bvals, partitioned,
                    ),
                )
        store_rows = {
            name: spark.read.option("basePath", by[True][0])
            .parquet(by[True][0])
            .filter(F.col("batch_id") < by[True][1])
            .count()
            for name, by in stores.items()
        }

        results: dict[str, dict] = {}
        for shape in ("pruned", "unpartitioned"):
            partitioned = shape == "pruned"
            times: dict[str, float] = {}
            drops: dict[str, int] = {}
            for name in stores:
                store_dir, before = stores[name][partitioned]
                dropped = _dropped_count(
                    spark, store_dir, before, batch_bands, partitioned
                )  # warmup, kept for the equivalence check
                samples = []
                for _ in range(2):
                    t0 = time.time()
                    n = _dropped_count(
                        spark, store_dir, before, batch_bands, partitioned
                    )
                    samples.append(time.time() - t0)
                    assert n == dropped
                times[name] = round(min(samples), 3)
                drops[name] = dropped
            growth = store_rows["x1000"] / store_rows["base"]
            exponent = round(
                math.log(times["x1000"] / times["base"]) / math.log(growth),
                3,
            )
            results[shape] = {
                "times_by_store": times,
                "dropped_by_store": drops,
                "store_size_exponent": exponent,
            }
        assert (
            results["pruned"]["dropped_by_store"]
            == results["unpartitioned"]["dropped_by_store"]
        ), "shapes disagree on dropped docs — probe invalid"

        out = {
            "metric": "media_store_growth",
            "store_rows": store_rows,
            "batch_docs": BATCH_SRC_N,
            "face": args.face,
            "methodology": (
                "fixed probe batch (50 duplicated docs, parquet-round-"
                "tripped) vs stores three decades apart; growth = remapped-"
                "bval replicas in buckets the batch never touches (batch-"
                "colliding replicas filtered); counterfactual = identical "
                "rows in an UNPARTITIONED layout; warmup + 2 passes, min; "
                "equal dropped-doc counts asserted across shapes/sizes"
            ),
            "shapes": results,
        }
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
