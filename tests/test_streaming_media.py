"""Stream/batch parity for the streaming perceptual media-dedup face,
all three modalities.

The contract (streaming/media_dedup.py): with monotone ingest (doc_id
order), the accumulated keep-first verdicts equal media_dedup_batch_of
on the same (payload, mimetype) rows exactly — across a checkpoint
restart, with image/video/audio arrivals routed by mimetype in the same
drops — the per-batch pair stage reads only touched (modality, band,
bprefix) store partitions, auto-compaction preserves the verdicts, and
the report refuses a horizon whose batches recorded over-cap buckets.
"""

from __future__ import annotations

import base64
import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_flink_slack_pipeline_spark.operators import multimodal as M
from kafka_flink_slack_pipeline_spark.streaming.media_dedup import (
    _FINGERPRINTS,
    media_dedup_batch_of,
    media_dedup_stream,
    media_dedup_stream_report,
)
from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

_COPY_OFFSET = 10**6
_CLIP_OFFSET = 2 * 10**6


def _reencode(payload: bytes) -> bytes:
    """The fake codec's quality-loss class (quantize-to-even) — caught
    by the perceptual kernels of all three modalities, missed by every
    byte-level op (the planted batch tests' transform)."""
    return bytes(b - (b % 2) for b in payload)


_SYNTH_VIDEO_ID = 5000  # above the sf0.001 corpus, below the copies


def _media_rows(spark, sf_dir):
    """(doc_id, payload, mimetype) rows of ALL THREE modalities from the
    corpus — plus two synthetic MULTI-FRAME videos (every sf0.001 video
    payload is under FRAME_BYTES, so the frame-coverage rule would
    otherwise never see a second frame) — plus planted near-dups the
    keep-first verdicts must drop: re-encode copies at doc_id + 1M for
    images (first 10), for both multi-frame videos, and for the two
    longest audio tracks; a CLIP (the first 2 frames) of the first
    multi-frame video at doc_id + 2M."""
    base = [
        (r.doc_id, bytes(r.payload), r.mimetype)
        for r in M.multimodal_view(spark, sf_dir)
        .filter(F.octet_length("payload") > 0)
        .select("doc_id", "payload", "mimetype")
        .orderBy("doc_id")
        .collect()
    ]
    images = [r for r in base if r[2].startswith("image/")]
    audios = sorted(
        (r for r in base if r[2].startswith("audio/")),
        key=lambda r: -len(r[1]),
    )
    longest = max((p for _, p, _ in base), key=len)
    videos = [
        (_SYNTH_VIDEO_ID, (longest * 20)[:5000], "video/mp4"),
        (
            _SYNTH_VIDEO_ID + 1,
            (longest[::-1] * 20)[:4000],
            "video/mp4",
        ),
    ]
    base = base + videos
    planted = [
        (d + _COPY_OFFSET, _reencode(p), m) for d, p, m in images[:10]
    ]
    planted += [
        (d + _COPY_OFFSET, _reencode(p), m) for d, p, m in videos
    ]
    planted += [
        (d + _COPY_OFFSET, _reencode(p), m) for d, p, m in audios[:2]
    ]
    # the clip source spans 5 full frames, so the clip (2 frames) is a
    # strict prefix with coverage 1.0 on its own side only
    clip_src = videos[0]
    planted.append(
        (
            clip_src[0] + _CLIP_OFFSET,
            clip_src[1][: 2 * M.FRAME_BYTES],
            clip_src[2],
        )
    )
    return base + planted, {
        "image_copies": [d + _COPY_OFFSET for d, _, _ in images[:10]],
        "video_copies": [d + _COPY_OFFSET for d, _, _ in videos],
        "audio_copies": [d + _COPY_OFFSET for d, _, _ in audios[:2]],
        "clip": clip_src[0] + _CLIP_OFFSET,
    }


def _media_frame(spark, rows):
    return spark.createDataFrame(
        [(d, bytearray(p), m) for d, p, m in rows],
        "doc_id bigint, payload binary, mimetype string",
    )


def _write_drop(path, rows, lo, hi):
    with open(path, "w") as f:
        for i, (doc_id, payload, mimetype) in enumerate(
            sorted(r for r in rows if lo <= r[0] < hi)
        ):
            f.write(
                json.dumps(
                    {
                        "doc_id": doc_id,
                        "payload_b64": base64.b64encode(payload).decode(),
                        "mimetype": mimetype,
                        "ingest_ts": f"2025-01-01T00:{i // 60:02d}"
                        f":{i % 60:02d}.000Z",
                    }
                )
                + "\n"
            )


def _verdict_key(r):
    return (r["modality"], r["doc_id"])


def _verdict_val(r):
    return (
        r["n_units"], r["fp_hi"], r["fp_lo"], r["keep"], r["n_dups"],
        r["best_hamming"], r["best_coverage"],
    )


@pytest.fixture(scope="module")
def media_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("mediadedup")
    d = {
        "drop": str(base / "drop"),
        "state": str(base / "state"),
        "ckpt": str(base / "ckpt"),
    }
    os.makedirs(d["drop"])
    return d


def test_media_stream_batch_parity_across_restart(spark, sf_dir, media_dirs):
    rows, planted = _media_rows(spark, sf_dir)

    # first drop: the base corpus (all three modalities); run to done
    _write_drop(f"{media_dirs['drop']}/part1.jsonl", rows, 0, 300)
    media_dedup_stream(
        spark, media_dirs["drop"], media_dirs["state"], media_dirs["ckpt"]
    )
    mid = media_dedup_stream_report(spark, media_dirs["state"])
    assert mid.count() > 0

    # the rest (including every planted copy/clip) lands; RESUME from
    # the same checkpoint — only the new file processes
    _write_drop(f"{media_dirs['drop']}/part2.jsonl", rows, 300, 10**9)
    media_dedup_stream(
        spark, media_dirs["drop"], media_dirs["state"], media_dirs["ckpt"]
    )

    got = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_stream_report(
            spark, media_dirs["state"]
        ).collect()
    }
    want = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_batch_of(_media_frame(spark, rows)).collect()
    }
    assert got == want
    by_doc = {d: (m, v) for (m, d), v in got.items()}
    assert {m for m, _ in by_doc.values()} == {"image", "video", "audio"}

    # non-vacuous, per modality: every planted re-encode copy dropped
    for doc_id in planted["image_copies"]:
        assert by_doc[doc_id][0] == "image"
        assert by_doc[doc_id][1][3] is False
    for doc_id in planted["video_copies"]:
        assert by_doc[doc_id][0] == "video"
        assert by_doc[doc_id][1][3] is False
    for doc_id in planted["audio_copies"]:
        assert by_doc[doc_id][0] == "audio"
        assert by_doc[doc_id][1][3] is False
    # the CLIP is caught through its own side's coverage 1.0 (the
    # greatest(cov_a, cov_b) rule); multi-frame docs carry NULL fps
    m, v = by_doc[planted["clip"]]
    assert m == "video" and v[3] is False
    assert v[0] == 2 and v[1] is None and v[2] is None  # 2 units, no fp
    assert v[6] == 1.0  # best_coverage


def test_media_store_scan_prunes_to_touched_buckets(spark, media_dirs):
    """Runs after the parity test (module-scoped dirs hold a real
    store): a probe touching ONE (modality, band, bprefix) triple must
    read only that partition's files, and the store must hold others."""
    store_dir = f"{media_dirs['state']}/fingerprints"
    full = spark.read.option("basePath", store_dir).parquet(store_dir)
    triples = sorted(
        (r["modality"], r["band"], r["bprefix"])
        for r in full.select("modality", "band", "bprefix")
        .distinct()
        .collect()
    )
    assert len({m for m, _, _ in triples}) == 3  # all modalities landed
    modality, band, bprefix = triples[0]
    pruned = _pruned_store(
        spark, store_dir, _FINGERPRINTS, 10**9, [(modality, band, bprefix)]
    )
    read_files = [
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert (
            f"/modality={modality}/band={band}/bprefix={bprefix}/" in f
        ), f"read untouched partition: {f}"
    all_files = [
        r[0] for r in full.select(F.input_file_name()).distinct().collect()
    ]
    assert len(read_files) < len(all_files)


def test_media_store_rejects_remote_uri(spark):
    with pytest.raises(ValueError, match="driver-local"):
        _pruned_store(
            spark, "hdfs://nn/fps", _FINGERPRINTS, 2, [("image", 0, 0)]
        )


@pytest.mark.slow
def test_media_store_compaction_and_auto_policy(spark, sf_dir, tmp_path):
    """A 3-batch run with compact_every=1 folds the store from inside
    the runner: directory count ends below the batch count, pruning
    still works on the folded layout, and the accumulated verdicts
    equal the batch rows exactly (output identity)."""
    rows, _ = _media_rows(spark, sf_dir)
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 10**9)]):
        path = f"{d['drop']}/part{i}.jsonl"
        _write_drop(path, rows, lo, hi)
        # FileStreamSource orders files by modification time; three
        # files written in one fast loop can tie on mtime and process
        # out of doc_id order, violating the monotone-ingest parity
        # precondition — pin strictly increasing mtimes
        os.utime(path, (1700000000 + i, 1700000000 + i))
    media_dedup_stream(
        spark, d["drop"], d["state"], d["ckpt"],
        max_files_per_trigger=1, compact_every=1,
    )

    store_dir = f"{d['state']}/fingerprints"
    n_dirs = len(
        [e for e in os.listdir(store_dir) if e.startswith("batch_id=")]
    )
    assert n_dirs < 3  # folded from inside the runner

    got = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_stream_report(spark, d["state"]).collect()
    }
    want = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_batch_of(_media_frame(spark, rows)).collect()
    }
    assert got == want


def test_media_report_refuses_capped_horizon(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Drive a bucket over the cap (cap monkeypatched to 0 — every
    touched bucket is over it) and pin the report's refusal plus the
    allow_capped acceptance path (the funnel report's gate shape)."""
    monkeypatch.setattr(M, "PHASH_BUCKET_CAP", 0)
    rows = _media_rows(spark, sf_dir)[0][:10]
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_drop(f"{d['drop']}/part1.jsonl", rows, 0, 10**9)
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])
    with pytest.raises(ValueError, match="PHASH_BUCKET_CAP"):
        media_dedup_stream_report(spark, d["state"])
    rep = media_dedup_stream_report(spark, d["state"], allow_capped=True)
    n_routable = sum(
        1
        for _, p, m in rows
        if (m.startswith(("image/", "video/")) and len(p) > 0)
        or (m.startswith("audio/") and len(p) >= M.CONTOUR_SEGMENTS)
    )
    assert rep.count() == n_routable
    # with every bucket suppressed, nothing can pair: all keeps
    assert all(r["keep"] for r in rep.collect())


def test_media_stream_skips_unroutable_and_empty_payloads(
    spark, sf_dir, tmp_path
):
    """A drop with a missing/empty payload, or a mimetype no kernel can
    fingerprint, carries nothing to dedup: the stream must exclude it
    (the batch ops' gates) rather than crash the Arrow kernels on
    bytes(None) — and the exclusions stay visible in telemetry."""
    rows = _media_rows(spark, sf_dir)[0][:5]
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_drop(f"{d['drop']}/part1.jsonl", rows, 0, 10**9)
    extras = [
        {"doc_id": 900, "payload_b64": None, "mimetype": "image/png",
         "ingest_ts": "2025-01-01T01:00:00.000Z"},
        {"doc_id": 901, "payload_b64": "", "mimetype": "image/png",
         "ingest_ts": "2025-01-01T01:00:01.000Z"},
        # routable payload, unroutable mimetype: no kernel to run
        {"doc_id": 902,
         "payload_b64": base64.b64encode(b"x" * 500).decode(),
         "mimetype": "application/pdf",
         "ingest_ts": "2025-01-01T01:00:02.000Z"},
        # the r9 drop layout carried no mimetype at all: parses to NULL
        {"doc_id": 903,
         "payload_b64": base64.b64encode(b"y" * 500).decode(),
         "ingest_ts": "2025-01-01T01:00:03.000Z"},
    ]
    with open(f"{d['drop']}/part1.jsonl", "a") as f:
        for e in extras:
            f.write(json.dumps(e) + "\n")
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])
    n_routable = sum(
        1
        for _, p, m in rows
        if (m.startswith(("image/", "video/")) and len(p) > 0)
        or (m.startswith("audio/") and len(p) >= M.CONTOUR_SEGMENTS)
    )
    got = {r["doc_id"] for r in
           media_dedup_stream_report(spark, d["state"]).collect()}
    assert not {900, 901, 902, 903} & got
    assert len(got) == n_routable
    # the exclusions stay visible in telemetry: n_raw counts arrivals,
    # n_docs the fingerprintable subset
    m = spark.read.option("basePath", f"{d['state']}/metrics").parquet(
        f"{d['state']}/metrics"
    ).collect()
    assert sum(r["n_raw"] for r in m) == len(rows) + len(extras)
    assert sum(r["n_docs"] for r in m) == n_routable
    # per-modality telemetry decomposes the total
    assert sum(
        r["n_image"] + r["n_video"] + r["n_audio"] for r in m
    ) == n_routable


def _write_recs(path, recs):
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


@pytest.mark.slow
def test_media_update_delete_lww(spark, sf_dir, tmp_path):
    """Updates and tombstones in the media store (r11, the
    semantic-store template): a tombstoned image stops being a near-dup
    reference and leaves the report; an updated image's OLD payload
    stops matching and its NEW payload becomes the reference; the one
    documented immutability divergence is pinned; compaction physically
    drops superseded/tombstoned fingerprints and preserves the
    report."""
    from kafka_flink_slack_pipeline_spark.streaming.media_dedup import (
        compact_media_store,
    )

    rows, _ = _media_rows(spark, sf_dir)
    p1 = bytes((i * 7) % 256 for i in range(2048))
    p2 = bytes((i * 13 + 5) % 256 for i in range(2048))
    p3 = bytes((i * 29 + 11) % 256 for i in range(2048))
    synth = [
        (6000, p1, "image/png"),
        (6001, p2, "image/png"),
        (6002, p3, "image/png"),
    ]
    wave1 = rows + synth
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_drop(f"{d['drop']}/w1.jsonl", wave1, 0, 10**9)
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])

    # wave 2 (restart): tombstone 6000; re-ingest 6001 with 6002's
    # payload (the reference moves; 6002 > 6001 becomes batch-over-LWW's
    # dup of it — the documented immutability divergence)
    _write_recs(
        f"{d['drop']}/w2.jsonl",
        [
            {
                "doc_id": 6001,
                "payload_b64": base64.b64encode(p3).decode(),
                "mimetype": "image/png",
                "ingest_ts": "2025-02-01T00:00:00.000Z",
            },
            {
                "doc_id": 6000,
                "payload_b64": None,
                "mimetype": None,
                "ingest_ts": "2025-02-01T00:00:01.000Z",
                "deleted": True,
            },
        ],
    )
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])

    # wave 3 (restart): re-encode probes of the three regimes
    probes = [
        (3000001, _reencode(p1), "image/png"),  # deleted ref -> KEPT
        (3000002, _reencode(p2), "image/png"),  # superseded ref -> KEPT
        (3000003, _reencode(p3), "image/png"),  # live refs -> DUP
    ]
    _write_recs(
        f"{d['drop']}/w3.jsonl",
        [
            {
                "doc_id": did,
                "payload_b64": base64.b64encode(p).decode(),
                "mimetype": m,
                "ingest_ts": f"2025-03-01T00:00:0{k}.000Z",
            }
            for k, (did, p, m) in enumerate(probes)
        ],
    )
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])

    live = rows + [(6001, p3, "image/png"), (6002, p3, "image/png")]
    live += probes
    got = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_stream_report(spark, d["state"]).collect()
    }
    want = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_batch_of(_media_frame(spark, live)).collect()
    }
    assert set(got) == set(want), "report must cover exactly the live set"
    assert ("image", 6000) not in got
    mismatches = {k for k in got if got[k] != want[k]}
    assert mismatches == {("image", 6002)}, (
        f"unexpected divergences: {sorted(mismatches)[:8]}"
    )
    # the pinned divergence: batch-over-LWW sees updated 6001 as 6002's
    # lower-id twin; 6002's stream verdict predates the update
    assert want[("image", 6002)][3] is False
    assert got[("image", 6002)][3] is True
    assert got[("image", 3000001)][3] is True, (
        "deleted reference still suppresses"
    )
    assert got[("image", 3000002)][3] is True, (
        "superseded payload still a reference"
    )
    assert got[("image", 3000003)][3] is False

    # non-vacuity: with 6000 restored, the same batch kernel calls the
    # first probe a DUP
    want_restored = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_batch_of(
            _media_frame(spark, live + [(6000, p1, "image/png")])
        ).collect()
    }
    assert want_restored[("image", 3000001)][3] is False

    # compaction: physical drop + identical report
    compact_media_store(spark, d["state"], upto=3, checkpoint_dir=d["ckpt"])
    got2 = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_stream_report(spark, d["state"]).collect()
    }
    assert got2 == got
    fps = spark.read.option(
        "basePath", f"{d['state']}/fingerprints"
    ).parquet(f"{d['state']}/fingerprints")
    assert fps.filter(F.col("doc_id") == 6000).count() == 0
    assert (
        fps.filter(F.col("doc_id") == 6001)
        .select("ts")
        .distinct()
        .count()
        == 1
    ), "superseded fingerprints not physically dropped"


@pytest.mark.slow
def test_media_probe_adhoc(spark, sf_dir, tmp_path):
    """r11 verdict item 3 (media face): ad-hoc payload probes judge
    against the landed LWW-current reference set WITHOUT ingesting — a
    re-encode of a landed image returns DUP; after its reference is
    tombstoned, the same probe returns KEEP; a probe of a superseded
    payload returns KEEP while the update's new payload returns DUP;
    probing writes nothing (the report and store are unchanged); an
    unroutable probe yields no row."""
    from kafka_flink_slack_pipeline_spark.streaming.media_dedup import (
        media_dedup_probe_adhoc,
    )

    rows, _ = _media_rows(spark, sf_dir)
    p1 = bytes((i * 7) % 256 for i in range(2048))
    p2 = bytes((i * 13 + 5) % 256 for i in range(2048))
    p3 = bytes((i * 29 + 11) % 256 for i in range(2048))
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_drop(
        f"{d['drop']}/w1.jsonl",
        rows + [(6000, p1, "image/png"), (6001, p2, "image/png")],
        0,
        10**9,
    )
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])

    # BEFORE any change: re-encodes of both landed payloads are DUPs
    got = {
        r["probe_id"]: r
        for r in media_dedup_probe_adhoc(
            spark,
            d["state"],
            {
                1: (_reencode(p1), "image/png"),
                2: (_reencode(p2), "image/png"),
                3: (b"x" * 500, "application/pdf"),  # unroutable
            },
        ).collect()
    }
    assert set(got) == {1, 2}, "unroutable probe must yield no row"
    assert got[1]["keep"] is False and got[1]["modality"] == "image"
    assert got[2]["keep"] is False

    # wave 2: tombstone 6000; update 6001 -> p3
    _write_recs(
        f"{d['drop']}/w2.jsonl",
        [
            {
                "doc_id": 6001,
                "payload_b64": base64.b64encode(p3).decode(),
                "mimetype": "image/png",
                "ingest_ts": "2025-02-01T00:00:00.000Z",
            },
            {
                "doc_id": 6000,
                "payload_b64": None,
                "mimetype": None,
                "ingest_ts": "2025-02-01T00:00:01.000Z",
                "deleted": True,
            },
        ],
    )
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])

    report_before = sorted(
        map(tuple, media_dedup_stream_report(spark, d["state"]).collect())
    )
    got2 = {
        r["probe_id"]: r
        for r in media_dedup_probe_adhoc(
            spark,
            d["state"],
            {
                1: (_reencode(p1), "image/png"),  # ref tombstoned -> KEEP
                2: (_reencode(p2), "image/png"),  # ref superseded -> KEEP
                3: (_reencode(p3), "image/png"),  # ref live -> DUP
            },
        ).collect()
    }
    assert got2[1]["keep"] is True, "tombstoned reference still suppresses"
    assert got2[2]["keep"] is True, "superseded payload still a reference"
    assert got2[3]["keep"] is False

    # probing wrote nothing: the report is bit-identical after probing
    # (tombstoned doc gone, the update's single winner present), and a
    # re-probe answers identically
    rep = media_dedup_stream_report(spark, d["state"]).collect()
    assert sorted(map(tuple, rep)) == report_before
    rep_ids = {r["doc_id"] for r in rep}
    assert 6000 not in rep_ids and 6001 in rep_ids
    again = {
        r["probe_id"]: r["keep"]
        for r in media_dedup_probe_adhoc(
            spark, d["state"], {1: (_reencode(p1), "image/png")}
        ).collect()
    }
    assert again == {1: True}
    with pytest.raises(ValueError, match="no probe payloads"):
        media_dedup_probe_adhoc(spark, d["state"], {})

    # ADVICE r12: an ALL-unroutable workload on a landed store returns
    # the zero-row verdict frame (the documented exclusion rule: such
    # payloads yield no row) — not the missing-store error the empty
    # touched list used to trigger ...
    empty = media_dedup_probe_adhoc(
        spark, d["state"], {9: (b"x" * 500, "application/pdf")}
    )
    assert empty.columns == [
        "probe_id", "modality", "n_units", "keep", "n_dups",
        "best_hamming", "best_coverage",
    ]
    assert empty.count() == 0
    # ... while a genuinely absent store still refuses loudly, even
    # for an unroutable workload
    with pytest.raises(ValueError, match="no fingerprint store"):
        media_dedup_probe_adhoc(
            spark,
            str(tmp_path / "nostate"),
            {9: (b"x" * 500, "application/pdf")},
        )


def test_media_same_batch_multi_version_lww(spark, tmp_path):
    """ADVICE r11 (medium): ONE micro-batch carrying two versions of a
    doc_id must fingerprint and judge only the batch-LWW winner. The
    failure mode this pins: keying fingerprints by doc_id alone merged
    both versions' units into one doc and duplicated every row under
    BOTH ts values, so the superseded payload's fingerprints survived
    the mask — a probe equal to the OLD payload must be KEPT, a probe
    equal to the NEW payload must be a DUP, the report must hold ONE
    row per doc, and the store only the winner's fingerprints."""
    p_old = bytes((i * 7) % 256 for i in range(2048))
    p_new = bytes((i * 13 + 5) % 256 for i in range(2048))
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_recs(
        f"{d['drop']}/w1.jsonl",
        [
            {
                "doc_id": 10,
                "payload_b64": base64.b64encode(p_old).decode(),
                "mimetype": "image/png",
                "ingest_ts": "2025-01-01T00:00:00.000Z",
            },
            {
                "doc_id": 10,
                "payload_b64": base64.b64encode(p_new).decode(),
                "mimetype": "image/png",
                "ingest_ts": "2025-01-01T00:00:01.000Z",
            },
            # judged against the WINNER: the old payload's re-encode
            # has no live reference, the new payload's does
            {
                "doc_id": 11,
                "payload_b64": base64.b64encode(
                    _reencode(p_old)
                ).decode(),
                "mimetype": "image/png",
                "ingest_ts": "2025-01-01T00:00:02.000Z",
            },
            {
                "doc_id": 12,
                "payload_b64": base64.b64encode(
                    _reencode(p_new)
                ).decode(),
                "mimetype": "image/png",
                "ingest_ts": "2025-01-01T00:00:03.000Z",
            },
        ],
    )
    media_dedup_stream(spark, d["drop"], d["state"], d["ckpt"])

    rep = media_dedup_stream_report(spark, d["state"]).collect()
    got = {r["doc_id"]: r for r in rep}
    assert len(rep) == 3 and set(got) == {10, 11, 12}, (
        "one verdict row per doc expected"
    )
    assert got[10]["keep"] is True
    assert got[11]["keep"] is True, "superseded-in-batch payload masked"
    assert got[12]["keep"] is False, "winner payload is the reference"

    # parity with the batch kernel over the LWW-current rows
    live = [(10, p_new, "image/png"),
            (11, _reencode(p_old), "image/png"),
            (12, _reencode(p_new), "image/png")]
    want = {
        _verdict_key(r): _verdict_val(r)
        for r in media_dedup_batch_of(_media_frame(spark, live)).collect()
    }
    assert {_verdict_key(r): _verdict_val(r) for r in rep} == want

    # store holds ONLY the winner version's fingerprints for doc 10
    fps = spark.read.option(
        "basePath", f"{d['state']}/fingerprints"
    ).parquet(f"{d['state']}/fingerprints")
    ten = fps.filter(F.col("doc_id") == 10).select("ts").distinct()
    assert ten.count() == 1
    assert str(ten.collect()[0]["ts"]) == "2025-01-01 00:00:01"
