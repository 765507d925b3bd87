"""Stream/batch parity for the streaming semantic-dedup face.

The contract (streaming/semantic_dedup.py): with monotone ingest
(vec_id order), the accumulated per-vector verdicts equal the batch
semantic_dedup rows exactly — across a checkpoint restart that adds a
second drop file — and the per-batch pair stage reads only the store's
touched cid partitions.
"""

from __future__ import annotations

import json
import os

import pytest

from kafka_flink_slack_pipeline_spark.operators.similarity import (
    _centroid_model,
    _neardup_corpus,
    semantic_dedup,
)
from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
    semantic_dedup_stream,
    semantic_dedup_stream_report,
)


def _write_drop(spark, sf_dir, path, lo, hi):
    """One JSONL drop of the batch op's OWN corpus (embeddings + planted
    near-dup copies), vec_id-ordered rows in [lo, hi) — the monotone
    ingest sequence the parity contract states."""
    rows = (
        _neardup_corpus(spark, sf_dir)
        .filter(f"vec_id >= {lo} AND vec_id < {hi}")
        .orderBy("vec_id")
        .collect()
    )
    with open(path, "w") as f:
        for i, r in enumerate(rows):
            f.write(
                json.dumps(
                    {
                        "vec_id": r["vec_id"],
                        "embedding": list(r["emb"]),
                        "ingest_ts": f"2025-01-01T00:{i // 60:02d}"
                        f":{i % 60:02d}.000Z",
                    }
                )
                + "\n"
            )


@pytest.fixture(scope="module")
def sem_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("semdedup")
    d = {
        "drop": str(base / "drop"),
        "state": str(base / "state"),
        "ckpt": str(base / "ckpt"),
    }
    os.makedirs(d["drop"])
    return d


def test_semantic_stream_batch_parity_across_restart(spark, sf_dir, sem_dirs):
    model = _centroid_model(spark, sf_dir)

    # first drop: the base half; run to completion
    _write_drop(spark, sf_dir, f"{sem_dirs['drop']}/part1.jsonl", 0, 100)
    semantic_dedup_stream(
        spark, sem_dirs["drop"], sem_dirs["state"], sem_dirs["ckpt"], model
    )
    mid = semantic_dedup_stream_report(spark, sem_dirs["state"])
    assert mid.count() == 100

    # the rest (including every planted +1M near-dup copy) lands; RESUME
    # from the same checkpoint — only the new file processes
    _write_drop(
        spark, sf_dir, f"{sem_dirs['drop']}/part2.jsonl", 100, 10**9
    )
    semantic_dedup_stream(
        spark, sem_dirs["drop"], sem_dirs["state"], sem_dirs["ckpt"], model
    )

    got = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup_stream_report(
            spark, sem_dirs["state"]
        ).collect()
    }
    want = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup(spark, sf_dir).collect()
    }
    assert got == want
    # the parity is non-vacuous: the planted copies produce real drops
    assert any(not keep for (_, keep, _, _) in got.values())


def test_semantic_store_scan_prunes_to_touched_cids(spark, sf_dir, sem_dirs):
    """Runs after the parity test (module-scoped dirs hold a real
    store): a probe batch touching ONE cid must read only that cid's
    store partitions, and the store must hold others (non-vacuous)."""
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        _VECTORS,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

    store_dir = f"{sem_dirs['state']}/vectors"
    full = spark.read.option("basePath", store_dir).parquet(store_dir)
    cids = sorted(r["cid"] for r in full.select("cid").distinct().collect())
    assert len(cids) > 1
    probe = [cids[0]]
    pruned = _pruned_store(
        spark, store_dir, _VECTORS, 10**9, [(c,) for c in probe]
    )
    read_files = [
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert f"/cid={probe[0]}/" in f, f"read untouched partition: {f}"
    all_files = [
        r[0] for r in full.select(F.input_file_name()).distinct().collect()
    ]
    assert len(read_files) < len(all_files)


def test_semantic_store_rejects_remote_uri(spark):
    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        _VECTORS,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

    with pytest.raises(ValueError, match="driver-local"):
        _pruned_store(spark, "hdfs://nn/vectors", _VECTORS, 2, [(0,)])


def test_vec_store_compaction_and_auto_policy(spark, sf_dir, tmp_path):
    """The signature store's compaction discipline, applied to the
    semantic vector store (r8 verdict item 3/4): a 3-batch run with
    compact_every=1 folds the store from inside the runner, the
    directory count ends below the batch count, cid-partition pruning
    still works on the folded layout, and the accumulated verdicts
    equal the batch semantic_dedup rows exactly (output identity)."""
    import os as _os

    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        _VECTORS,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

    model = _centroid_model(spark, sf_dir)
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    _os.makedirs(d["drop"])
    for i, (lo, hi) in enumerate([(0, 70), (70, 140), (140, 10**9)]):
        _write_drop(spark, sf_dir, f"{d['drop']}/part{i}.jsonl", lo, hi)
        # pin strictly increasing mtimes (monotone-ingest precondition;
        # FileStreamSource orders by modification time)
        _os.utime(f"{d['drop']}/part{i}.jsonl",
                  (1700000000 + i, 1700000000 + i))
    semantic_dedup_stream(
        spark, d["drop"], d["state"], d["ckpt"], model,
        max_files_per_trigger=1, compact_every=1,
    )

    store_dir = f"{d['state']}/vectors"
    # batch count from the commits log (the verdicts store FOLDS at
    # compaction now, so its directory count is no longer a proxy)
    n_batches = len(
        [
            e
            for e in _os.listdir(f"{d['ckpt']}/commits")
            if e.isdigit()
        ]
    )
    assert n_batches >= 3
    for folded in ("vectors", "verdicts", "docmeta"):
        n_dirs = len(
            [
                e
                for e in _os.listdir(f"{d['state']}/{folded}")
                if e.startswith("batch_id=")
            ]
        )
        assert n_dirs < n_batches, f"{folded} not folded"

    # verdict output identity vs the batch op, across the folds
    got = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup_stream_report(spark, d["state"]).collect()
    }
    want = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup(spark, sf_dir).collect()
    }
    assert got == want
    assert any(not keep for (_, keep, _, _) in got.values())

    # pruning is still file-level on the folded layout
    full = spark.read.option("basePath", store_dir).parquet(store_dir)
    cids = sorted(r["cid"] for r in full.select("cid").distinct().collect())
    assert len(cids) > 1
    pruned = _pruned_store(spark, store_dir, _VECTORS, 10**9, [(cids[0],)])
    read_files = [
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert f"/cid={cids[0]}/" in f


def test_vec_store_compaction_guards(spark, sf_dir, tmp_path):
    """compact_semantic_store shares the signature store's rails:
    id-horizon validation and loud staged-leftover refusal on the
    reader; a fold of an append-only state preserves every live row."""
    import os as _os

    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        _VECTORS,
        compact_semantic_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import (
        _COMPACT_TMP_PREFIX,
        _dp_col,
        _pruned_store,
    )

    state_dir = str(tmp_path / "state")
    store_dir = f"{state_dir}/vectors"
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .selectExpr(
            "vec_id",
            "cast(embedding as array<double>) as emb",
            "cast('2025-01-01' as timestamp) as ts",
            "cast(vec_id % 3 as int) as cid",
        )
    )
    for b in range(2):
        part = emb.filter(f"vec_id % 2 = {b}")
        part.write.mode("overwrite").partitionBy("cid").parquet(
            f"{store_dir}/batch_id={b}"
        )
        (
            part.select(
                F.col("vec_id").alias("doc_id"),
                "ts",
                F.lit(False).alias("deleted"),
                F.lit(None).cast("long").alias("dl"),
            )
            .withColumn("dp", _dp_col())
            .write.mode("overwrite")
            .partitionBy("dp")
            .parquet(f"{state_dir}/docmeta/batch_id={b}")
        )

    with pytest.raises(ValueError, match="id horizon"):
        compact_semantic_store(spark, state_dir, upto=4)

    leftover = _os.path.join(store_dir, f"{_COMPACT_TMP_PREFIX}batch_id=0")
    _os.makedirs(leftover)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        _pruned_store(spark, store_dir, _VECTORS, 5, [(0,)])
    _os.rmdir(leftover)

    every_cid = [(0,), (1,), (2,)]
    before = _pruned_store(spark, store_dir, _VECTORS, 5, every_cid).count()
    assert compact_semantic_store(spark, state_dir, upto=2) >= 2
    assert sorted(
        e for e in _os.listdir(store_dir) if e.startswith("batch_id=")
    ) == ["batch_id=1"]
    after = _pruned_store(spark, store_dir, _VECTORS, 5, every_cid).count()
    assert after == before


def _write_recs(path, recs):
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


def test_semantic_update_delete_lww(spark, sf_dir, tmp_path):
    """Updates and tombstones in the semantic store (r11): a tombstoned
    vector leaves the reference set AND the report; a re-ingested
    vector is re-judged and its new embedding becomes the reference; a
    vector judged AFTER a delete is NOT suppressed by the deleted
    reference (the planted unsuppression case, certified against the
    batch kernel over the LWW-current corpus); and the one documented
    divergence — verdict immutability for vectors judged BEFORE a
    change — is pinned explicitly. Compaction physically drops
    superseded/tombstoned rows and preserves the report."""
    from kafka_flink_slack_pipeline_spark.operators.similarity import (
        _semantic_verdicts_over,
    )
    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        compact_semantic_store,
    )

    model = _centroid_model(spark, sf_dir)
    corpus = {
        r["vec_id"]: list(r["emb"])
        for r in _neardup_corpus(spark, sf_dir).collect()
    }
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])

    _write_drop(spark, sf_dir, f"{d['drop']}/w1.jsonl", 0, 10**9)
    semantic_dedup_stream(
        spark, d["drop"], d["state"], d["ckpt"], model
    )

    # wave 2 (restart): update 7 -> 450's embedding (the reference
    # moves), re-ingest 11 unchanged; tombstone 3, and 40 + its
    # planted +1M copy
    upds = {7: corpus[450], 11: corpus[11]}
    dels = [3, 40, 1000040]
    _write_recs(
        f"{d['drop']}/w2.jsonl",
        [
            {
                "vec_id": v,
                "embedding": e,
                "ingest_ts": f"2025-02-01T00:00:{k:02d}.000Z",
            }
            for k, (v, e) in enumerate(sorted(upds.items()))
        ]
        + [
            {
                "vec_id": v,
                "embedding": None,
                "ingest_ts": f"2025-02-02T00:00:{k:02d}.000Z",
                "deleted": True,
            }
            for k, v in enumerate(dels)
        ],
    )
    semantic_dedup_stream(
        spark, d["drop"], d["state"], d["ckpt"], model
    )

    # wave 3 (restart): planted high-id probes of the three regimes
    probes = {
        2000001: corpus[3],    # equals ONLY the deleted vec -> KEPT
        2000002: corpus[450],  # equals live 450 and 7's new emb -> DUP
        2000003: corpus[7],    # equals only 7's OLD emb -> KEPT
    }
    _write_recs(
        f"{d['drop']}/w3.jsonl",
        [
            {
                "vec_id": v,
                "embedding": e,
                "ingest_ts": f"2025-03-01T00:00:{k:02d}.000Z",
            }
            for k, (v, e) in enumerate(sorted(probes.items()))
        ],
    )
    semantic_dedup_stream(
        spark, d["drop"], d["state"], d["ckpt"], model
    )

    live = {**corpus, **upds, **probes}
    for v in dels:
        live.pop(v)
    want = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in _semantic_verdicts_over(
            spark.createDataFrame(
                sorted(live.items()), "vec_id bigint, emb array<double>"
            ),
            model,
        ).collect()
    }
    got = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup_stream_report(spark, d["state"]).collect()
    }
    assert set(got) == set(live), "report must cover exactly the live set"
    # vec 450 is the DOCUMENTED immutability divergence: batch-over-LWW
    # sees updated 7 as its lower-id twin, but 450's stream verdict
    # predates the update and is immutable
    assert want[450][1] is False and got[450][1] is True
    mismatches = {v for v in got if got[v] != want[v]}
    assert mismatches == {450}, f"unexpected divergences: {mismatches}"
    assert got[2000001][1] is True, "deleted reference still suppresses"
    assert got[2000002][1] is False
    assert got[2000003][1] is True, "superseded embedding still a reference"

    # non-vacuity of the unsuppression case: with vec 3 restored, the
    # batch kernel calls the same probe a DUP
    with3 = dict(live)
    with3[2000001] = corpus[3]
    with3[3] = corpus[3]
    want3 = {
        r["vec_id"]: r["keep"]
        for r in _semantic_verdicts_over(
            spark.createDataFrame(
                sorted(with3.items()), "vec_id bigint, emb array<double>"
            ),
            model,
        ).collect()
    }
    assert want3[2000001] is False

    # compaction: physical drop + identical report
    compact_semantic_store(spark, d["state"], upto=3, checkpoint_dir=d["ckpt"])
    got2 = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup_stream_report(spark, d["state"]).collect()
    }
    assert got2 == got
    from pyspark.sql import functions as F

    vectors = spark.read.option(
        "basePath", f"{d['state']}/vectors"
    ).parquet(f"{d['state']}/vectors")
    assert vectors.filter(F.col("vec_id").isin(dels)).count() == 0
    v7 = vectors.filter(F.col("vec_id") == 7).select("ts", "cid").collect()
    assert len(v7) == 1, "superseded vector not physically dropped"


def _land_lww_state(spark, sf_dir, tmp_path, model):
    """Land the corpus plus an update/tombstone wave (the LWW test's
    shape, lighter): update 7 -> 450's embedding, tombstone 3 and 40
    (and 40's planted +1M copy). Returns (dirs, live corpus dict)."""
    corpus = {
        r["vec_id"]: list(r["emb"])
        for r in _neardup_corpus(spark, sf_dir).collect()
    }
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_drop(spark, sf_dir, f"{d['drop']}/w1.jsonl", 0, 10**9)
    semantic_dedup_stream(spark, d["drop"], d["state"], d["ckpt"], model)
    upds = {7: corpus[450]}
    dels = [3, 40, 1000040]
    _write_recs(
        f"{d['drop']}/w2.jsonl",
        [
            {
                "vec_id": 7,
                "embedding": corpus[450],
                "ingest_ts": "2025-02-01T00:00:00.000Z",
            }
        ]
        + [
            {
                "vec_id": v,
                "embedding": None,
                "ingest_ts": f"2025-02-02T00:00:{k:02d}.000Z",
                "deleted": True,
            }
            for k, v in enumerate(dels)
        ],
    )
    semantic_dedup_stream(spark, d["drop"], d["state"], d["ckpt"], model)
    live = {**corpus, **upds}
    for v in dels:
        live.pop(v)
    return d, corpus, live


def test_retrain_semantic_store_under_new_model(spark, sf_dir, tmp_path):
    """r11 verdict item 2: retrain under a genuinely different codebook
    (trained on the even half of the embeddings) over an LWW state with
    updates and tombstones — afterwards the report equals the batch
    kernel under the NEW model on the LWW-current corpus EXACTLY
    (cluster ids AND re-decided keep flags; the pre-retrain verdicts'
    immutability is revoked by the recluster), exactly one folded
    layout remains per store, and cid pruning is still file-level."""
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.operators.similarity import (
        _semantic_verdicts_over,
    )
    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        _VECTORS,
        retrain_semantic_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

    model = _centroid_model(spark, sf_dir)
    d, _, live = _land_lww_state(spark, sf_dir, tmp_path, model)

    half = str(tmp_path / "half")
    os.makedirs(half)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") % 2 == 0
    ).write.parquet(f"{half}/embeddings.parquet")
    model2 = _centroid_model(spark, half)
    assert model2 != model, "retrain codebook not distinct"

    retrain_semantic_store(
        spark, d["state"], model2, checkpoint_dir=d["ckpt"]
    )
    for store in ("vectors", "verdicts", "docmeta"):
        n_dirs = len(
            [
                e
                for e in os.listdir(f"{d['state']}/{store}")
                if e.startswith("batch_id=")
            ]
        )
        assert n_dirs == 1, f"{store}: retrain must leave ONE folded layout"

    got = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup_stream_report(spark, d["state"]).collect()
    }
    want = {
        r["vec_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in _semantic_verdicts_over(
            spark.createDataFrame(
                sorted(live.items()), "vec_id bigint, emb array<double>"
            ),
            model2,
        ).collect()
    }
    assert got == want, "report != batch kernel under the new model"
    # the recluster genuinely re-decided: cluster ids moved vs the old
    # model, and the report still carries real drops
    old = {
        r["vec_id"]: r["cid"]
        for r in _semantic_verdicts_over(
            spark.createDataFrame(
                sorted(live.items()), "vec_id bigint, emb array<double>"
            ),
            model,
        ).collect()
    }
    assert any(old[v] != cid for v, (cid, _, _, _) in got.items())
    assert any(not keep for (_, keep, _, _) in got.values())

    # cid pruning still file-level on the retrained layout
    store_dir = f"{d['state']}/vectors"
    full = spark.read.option("basePath", store_dir).parquet(store_dir)
    cids = sorted(r["cid"] for r in full.select("cid").distinct().collect())
    assert len(cids) > 1
    pruned = _pruned_store(spark, store_dir, _VECTORS, 10**9, [(cids[0],)])
    read_files = [
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert f"/cid={cids[0]}/" in f, f"read untouched partition: {f}"
    all_files = [
        r[0] for r in full.select(F.input_file_name()).distinct().collect()
    ]
    assert len(read_files) < len(all_files)


def test_semantic_probe_adhoc(spark, sf_dir, tmp_path):
    """r11 verdict item 3 (vector face): ad-hoc probes judge against
    the landed LWW-current reference set WITHOUT ingesting — a probe
    equal to a live vector is a DUP; equal only to a tombstoned or
    superseded vector, KEPT; the verdicts equal the batch kernel run
    with the probes appended at high ids (the shared-kernel pin); and
    probing writes nothing (the report is unchanged, and a re-probe
    answers identically)."""
    from kafka_flink_slack_pipeline_spark.operators.similarity import (
        _semantic_verdicts_over,
    )
    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        semantic_dedup_probe_adhoc,
    )

    model = _centroid_model(spark, sf_dir)
    d, corpus, live = _land_lww_state(spark, sf_dir, tmp_path, model)

    before = {
        r["vec_id"]: tuple(r)
        for r in semantic_dedup_stream_report(spark, d["state"]).collect()
    }
    probes = {
        11: corpus[3],    # equals ONLY the tombstoned vec -> KEPT
        22: corpus[450],  # equals live 450 (and 7's new emb) -> DUP
        33: corpus[7],    # equals only 7's superseded emb -> KEPT
    }
    got = {
        r["probe_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup_probe_adhoc(
            spark, d["state"], model, probes
        ).collect()
    }
    assert got[11][1] is True, "tombstoned reference still suppresses"
    assert got[22][1] is False
    assert got[33][1] is True, "superseded embedding still a reference"

    # shared-kernel pin: the batch kernel with the probes appended at
    # ids above the landed horizon gives the identical probe verdicts
    base = max(live) + 1
    appended = dict(live)
    probe_at = {}
    for i, pid in enumerate(sorted(probes)):
        appended[base + i] = probes[pid]
        probe_at[base + i] = pid
    want = {
        probe_at[r["vec_id"]]: (
            r["cid"], r["keep"], r["n_dups"], r["best_sim"]
        )
        for r in _semantic_verdicts_over(
            spark.createDataFrame(
                sorted(appended.items()), "vec_id bigint, emb array<double>"
            ),
            model,
        ).collect()
        if r["vec_id"] in probe_at
    }
    assert got == want

    # nothing was written: the report is unchanged and a re-probe
    # answers identically
    after = {
        r["vec_id"]: tuple(r)
        for r in semantic_dedup_stream_report(spark, d["state"]).collect()
    }
    assert after == before
    again = {
        r["probe_id"]: (r["cid"], r["keep"], r["n_dups"], r["best_sim"])
        for r in semantic_dedup_probe_adhoc(
            spark, d["state"], model, probes
        ).collect()
    }
    assert again == got
    with pytest.raises(ValueError, match="no probe vectors"):
        semantic_dedup_probe_adhoc(spark, d["state"], model, {})
