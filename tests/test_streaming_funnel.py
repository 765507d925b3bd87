"""Stream/batch parity for the composed streaming curation funnel.

The contract (streaming/curation_funnel.py): on the same drop, with
ingest order following doc_id order, the accumulated per-stage survivor
counts equal the batch corpus_curation_funnel rows exactly — across a
checkpoint restart that adds a second drop file.
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest

from kafka_flink_slack_pipeline_spark.operators.curation import (
    corpus_curation_funnel,
    fuzzy_bench_frames,
)
from kafka_flink_slack_pipeline_spark.operators.textops import tokens_col
from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
    curation_funnel_stream,
    curation_funnel_stream_report,
)


def _write_drop(sf_dir: str, path: str, lo: int, hi: int) -> None:
    """One single-file JSONL drop of documents with doc_id in [lo, hi),
    rows in doc_id order, ingest_ts monotone in doc_id (the monotone
    ingest-sequence assumption the parity contract states)."""
    rows = duckdb.sql(
        f"""
        SELECT doc_id, text, lang, source
        FROM read_parquet('{sf_dir}/documents.parquet')
        WHERE doc_id >= {lo} AND doc_id < {hi}
        ORDER BY doc_id
        """
    ).fetchall()
    with open(path, "w") as f:
        for doc_id, text, lang, source in rows:
            ts = f"2025-01-01T00:{doc_id // 60:02d}:{doc_id % 60:02d}.000Z"
            f.write(
                json.dumps(
                    {
                        "doc_id": doc_id,
                        "text": text,
                        "lang": lang,
                        "source": source,
                        "ingest_ts": ts,
                    }
                )
                + "\n"
            )


@pytest.fixture(scope="module")
def funnel_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("funnel")
    d = {
        "drop": str(base / "drop"),
        "out": str(base / "out"),
        "state": str(base / "state"),
        "ckpt": str(base / "ckpt"),
    }
    os.makedirs(d["drop"])
    return d


def _run(spark, sf_dir, dirs):
    toked = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokens_col().alias("toks"))
    )
    bench_sh, bench_sizes = fuzzy_bench_frames(toked)
    return curation_funnel_stream(
        spark,
        dirs["drop"],
        dirs["out"],
        dirs["state"],
        dirs["ckpt"],
        bench_sh,
        bench_sizes,
        ttl="2 hours",
    )


@pytest.mark.slow
def test_funnel_stream_batch_parity_across_restart(spark, sf_dir, funnel_dirs):
    # first drop: the lower half of the corpus; run to completion
    _write_drop(sf_dir, f"{funnel_dirs['drop']}/part1.jsonl", 0, 250)
    _run(spark, sf_dir, funnel_dirs)

    mid = {
        r["stage"]: r
        for r in curation_funnel_stream_report(
            spark, funnel_dirs["state"]
        ).collect()
    }
    assert mid["raw"]["n_docs"] == 250

    # second drop lands; RESUME from the same checkpoint — only the new
    # file processes (raw count would exceed 500 if part1 re-ran)
    _write_drop(sf_dir, f"{funnel_dirs['drop']}/part2.jsonl", 250, 10**9)
    _run(spark, sf_dir, funnel_dirs)

    got = {
        (r["stage_ord"], r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in curation_funnel_stream_report(
            spark, funnel_dirs["state"]
        ).collect()
    }
    want = {
        (r["stage_ord"], r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in corpus_curation_funnel(spark, sf_dir).collect()
    }
    assert got == want


@pytest.mark.slow  # reads the parity test's module state
def test_funnel_stream_lands_final_survivors(spark, sf_dir, funnel_dirs):
    # runs after the parity test (module-scoped dirs): landed docs must
    # equal the batch funnel's final-stage count and be lang-partitioned
    landed = spark.read.option("basePath", funnel_dirs["out"]).parquet(
        funnel_dirs["out"]
    )
    final = [
        r["n_docs"]
        for r in corpus_curation_funnel(spark, sf_dir).collect()
        if r["stage"] == "decontaminated"
    ][0]
    assert landed.count() == final
    assert "lang" in landed.columns and "batch_id" in landed.columns
    # partition pruning works on the landed layout
    assert landed.filter("lang = 'en'").count() > 0


@pytest.mark.slow  # reads the parity test's module state
def test_funnel_report_refuses_missing_ingest_metrics(spark, funnel_dirs):
    """The crash-window consistency gate: counts/ holding a batch_id
    that ingest/ lacks must raise, not silently undercount stage 0/1.
    (Runs after the parity test — module-scoped dirs have real state.)"""
    import shutil

    import pytest as _pytest

    ingest = os.path.join(funnel_dirs["state"], "ingest")
    victim = sorted(
        e for e in os.listdir(ingest) if e.startswith("batch_id=")
    )[0]
    backup = os.path.join(funnel_dirs["state"], "_backup_" + victim)
    shutil.move(os.path.join(ingest, victim), backup)
    try:
        with _pytest.raises(ValueError, match="ingest metrics missing"):
            curation_funnel_stream_report(
                spark, funnel_dirs["state"]
            )
    finally:
        shutil.move(backup, os.path.join(ingest, victim))
    # restored state reports cleanly again
    assert (
        curation_funnel_stream_report(
            spark, funnel_dirs["state"]
        ).count()
        == 7
    )


# ---------------------------------------------------------------------------
# Signature-store pruning: the property that keeps per-batch near-dup cost
# flat as the store grows. The store is partitioned by (band, bprefix); a
# batch's near-dup stage must READ only the partitions its own band keys
# hash into, and the rows it pulls from them must be exactly the full
# store's members of the buckets the batch touches (so restricting the
# bucket-size count to touched buckets loses nothing).


_TS0 = "2025-01-01 00:00:00"


def _bands_of(spark, sf_dir, lo, hi):
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.operators.dedup import (
        _minhash_sig_bands,
        _minhash_sigs,
        _word_shingles,
    )
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        _bprefix_col,
    )

    shingled = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(f"doc_id >= {lo} AND doc_id < {hi}")
        .select(
            "doc_id",
            F.explode(_word_shingles(tokens_col(), 3)).alias("shingle"),
        )
        .filter("shingle <> ''")
    )
    return (
        _minhash_sig_bands(_minhash_sigs(shingled))
        .withColumn("ts", F.lit(_TS0).cast("timestamp"))
        .withColumn("bprefix", _bprefix_col())
    )


def _ledger_for(spark, state_dir, lo, hi, batch_id=0):
    """A docmeta ledger batch covering doc_id in [lo, hi) at _TS0 — the
    (doc_id, ts) rows the store mask joins against when tests build
    signature stores by hand."""
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.streaming.store import _dp_col

    (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(_TS0).cast("timestamp").alias("ts"),
            F.lit(False).alias("deleted"),
            F.lit(None).cast("long").alias("dl"),
        )
        .withColumn("dp", _dp_col())
        .write.mode("overwrite")
        .partitionBy("dp")
        .parquet(f"{state_dir}/docmeta/batch_id={batch_id}")
    )


def test_sig_store_scan_prunes_to_touched_partitions(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        _SIGS,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

    sigs_dir = str(tmp_path / "sigs")
    _bands_of(spark, sf_dir, 0, 200).write.mode("overwrite").partitionBy(
        "band", "bprefix"
    ).parquet(f"{sigs_dir}/batch_id=0")
    _bands_of(spark, sf_dir, 200, 400).write.mode("overwrite").partitionBy(
        "band", "bprefix"
    ).parquet(f"{sigs_dir}/batch_id=1")

    # a single-doc incoming batch touches at most 4 (band, bprefix) pairs
    new = _bands_of(spark, sf_dir, 400, 401)
    touched = [
        (r["band"], r["bprefix"])
        for r in new.select("band", "bprefix").distinct().collect()
    ]
    assert 0 < len(touched) <= 4

    store = _pruned_store(spark, sigs_dir, _SIGS, 2, touched)
    read_files = [
        r[0]
        for r in store.select(F.input_file_name()).distinct().collect()
    ]
    # every file actually read lives under a touched partition directory
    assert read_files
    for f in read_files:
        assert any(
            f"/band={b}/bprefix={p}/" in f for b, p in touched
        ), f"read an untouched partition's file: {f}"

    # non-vacuous: the store HAS partitions the batch does not touch
    full = spark.read.option("basePath", sigs_dir).parquet(sigs_dir)
    all_files = [
        r[0] for r in full.select(F.input_file_name()).distinct().collect()
    ]
    assert len(read_files) < len(all_files)

    # exactness: pruning + bucket semi-join together return precisely the
    # full store's members of the buckets the batch touches — nothing the
    # bucket-size count (and hence the cap decision) needs is lost
    keys = new.select("band", "bkey").distinct()
    got = store.join(keys, ["band", "bkey"], "semi").count()
    want = full.join(keys, ["band", "bkey"], "semi").count()
    assert got == want


def test_sig_store_rejects_remote_uri(spark):
    import pytest as _pytest

    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        _SIGS,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

    with _pytest.raises(ValueError, match="driver-local"):
        _pruned_store(spark, "s3://bucket/sigs", _SIGS, 2, [(0, 0)])


@pytest.mark.slow
def test_funnel_records_capped_bucket_telemetry(
    spark, tmp_path, monkeypatch
):
    """The stated parity precondition has working telemetry: when a band
    bucket CROSSES the cap mid-stream (under it at batch 1, over it by
    batch 2), the second batch's counts row must record d_capped > 0 —
    the signal the docstring tells operators to watch before trusting
    stream/batch stage-3 parity for that horizon. Cap monkeypatched to 2
    (the real cap needs >1000 colliding docs); four near-identical docs
    deterministically share three band buckets (checked in-test)."""
    import json as _json

    import kafka_flink_slack_pipeline_spark.operators.dedup as dd
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.operators.curation import (
        fuzzy_bench_frames,
    )
    from kafka_flink_slack_pipeline_spark.operators.dedup import (
        _minhash_sig_bands,
        _minhash_sigs,
        _word_shingles,
    )
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        curation_funnel_stream,
    )

    monkeypatch.setattr(dd, "MINHASH_BUCKET_CAP", 2)

    base = "the of and " + " ".join(f"tok{i}" for i in range(50))
    texts = [base + f" tail{i}" for i in range(4)]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    # precondition of the fixture itself: all four docs share >= 1 bucket
    shared = (
        _minhash_sig_bands(
            _minhash_sigs(
                docs.select(
                    "doc_id",
                    F.explode(_word_shingles(tokens_col(), 3)).alias(
                        "shingle"
                    ),
                ).filter("shingle <> ''")
            )
        )
        .groupBy("band", "bkey")
        .count()
        .filter("count >= 4")
        .count()
    )
    assert shared >= 1

    d = {
        "drop": str(tmp_path / "drop"),
        "out": str(tmp_path / "out"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    bench_sh, bench_sizes = fuzzy_bench_frames(
        docs.select("doc_id", F.split(F.trim("text"), "\\s+").alias("toks"))
    )

    def _drop(path, ids):
        with open(path, "w") as f:
            for i in ids:
                f.write(
                    _json.dumps(
                        {
                            "doc_id": i,
                            "text": texts[i],
                            "lang": "en",
                            "source": "s0",
                            "ingest_ts": f"2025-01-01T00:00:{i:02d}.000Z",
                        }
                    )
                    + "\n"
                )

    _drop(f"{d['drop']}/p1.jsonl", [0, 1])
    curation_funnel_stream(
        spark, d["drop"], d["out"], d["state"], d["ckpt"],
        bench_sh, bench_sizes, ttl="2 hours",
    )
    _drop(f"{d['drop']}/p2.jsonl", [2, 3])
    curation_funnel_stream(
        spark, d["drop"], d["out"], d["state"], d["ckpt"],
        bench_sh, bench_sizes, ttl="2 hours",
    )

    cnt = spark.read.option("basePath", f"{d['state']}/counts").parquet(
        f"{d['state']}/counts"
    )
    # availableNow appends empty trailing batches — judge only the
    # batches that actually carried documents
    per_batch = {
        r["batch_id"]: r["d_capped"]
        for r in cnt.filter("d2 > 0").select("batch_id", "d_capped").collect()
    }
    first, last = min(per_batch), max(per_batch)
    assert first != last
    # batch 1: the shared buckets hold 2 docs — under the cap, no signal
    assert per_batch[first] == 0
    # batch 2: those buckets now hold 4 > cap — the telemetry must fire
    assert per_batch[last] > 0

    # the report must SURFACE the violated parity precondition, not
    # silently sum over it (r8 verdict item 2): default raises naming
    # the capped batches; allow_capped hands over the table with the
    # caveat accepted
    import pytest as _pytest

    with _pytest.raises(ValueError, match="parity precondition"):
        curation_funnel_stream_report(spark, d["state"])
    assert (
        curation_funnel_stream_report(
            spark, d["state"], allow_capped=True
        ).count()
        == 7
    )


def test_sig_store_compaction_preserves_neardup_output(spark, sf_dir, tmp_path):
    """compact_sig_store folds many batch dirs into one while the
    near-dup stage's output for a later batch stays IDENTICAL, the
    (band, bprefix) layout survives (pruning still works), and the
    directory count actually drops. All landed versions are live here
    (the ledger has no tombstones), so the LWW fold mask must be an
    identity on the pair output."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.operators.dedup import (
        MINHASH_BUCKET_CAP,
        MINHASH_K,
        _sig_agree,
    )
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        _SIGS,
        compact_sig_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _pruned_store

    state = str(tmp_path / "state")
    sigs_dir = f"{state}/sigs"
    for b, (lo, hi) in enumerate([(0, 120), (120, 240), (240, 360)]):
        _bands_of(spark, sf_dir, lo, hi).write.mode("overwrite").partitionBy(
            "band", "bprefix"
        ).parquet(f"{sigs_dir}/batch_id={b}")
    _ledger_for(spark, state, 0, 380)

    new = _bands_of(spark, sf_dir, 360, 380)
    touched = [
        (r["band"], r["bprefix"])
        for r in new.select("band", "bprefix").distinct().collect()
    ]
    cols = ["doc_id", "sig", "band", "bkey"]

    def flags():
        store = _pruned_store(spark, sigs_dir, _SIGS, 10, touched)
        keys = new.select("band", "bkey").distinct()
        all_t = store.select(*cols).join(
            F.broadcast(keys), ["band", "bkey"], "semi"
        ).unionByName(new.select(*cols))
        sized = all_t.withColumn(
            "bsize", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
        )
        est = F.round(
            _sig_agree(F.col("a.sig"), F.col("b.sig")) / F.lit(MINHASH_K), 4
        )
        return sorted(
            r["doc_id"]
            for r in sized.filter(F.col("bsize") <= MINHASH_BUCKET_CAP)
            .alias("a")
            .join(
                new.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .filter(est >= 0.25)
            .select(F.col("b.doc_id"))
            .distinct()
            .collect()
        )

    def batch_dirs():
        return sorted(
            e for e in os.listdir(sigs_dir) if e.startswith("batch_id=")
        )

    before_flags, before_dirs = flags(), batch_dirs()
    assert len(before_dirs) == 3
    removed = compact_sig_store(spark, state, upto=3)
    assert removed >= 3  # 3 sig dirs + the ledger's own fold
    after_dirs = batch_dirs()
    assert after_dirs == ["batch_id=2"]
    assert flags() == before_flags
    # pruning still file-level after compaction
    store = _pruned_store(spark, sigs_dir, _SIGS, 10, touched)
    read_files = [
        r[0]
        for r in store.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert any(f"/band={b}/bprefix={p}/" in f for b, p in touched)


def test_compact_store_guards(spark, sf_dir, tmp_path):
    """ADVICE r8 safety rails: (a) upto beyond the store's id horizon
    raises (a future batch's overwrite would destroy the fold); (b)
    upto beyond the checkpoint's committed horizon raises (an
    uncommitted batch may replay); (c) a crashed compaction's staged
    leftover makes every reader fail loudly instead of silently
    reading a store missing its folded history, and the error names
    the repair that fits the leftover (a partial staging is deleted, a
    complete one is renamed into place)."""
    import pytest as _pytest

    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        _SIGS,
        compact_sig_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import (
        _COMPACT_TMP_PREFIX,
        _pruned_store,
    )

    state = str(tmp_path / "state")
    sigs_dir = f"{state}/sigs"
    for b, (lo, hi) in enumerate([(0, 60), (60, 120), (120, 180)]):
        _bands_of(spark, sf_dir, lo, hi).write.mode("overwrite").partitionBy(
            "band", "bprefix"
        ).parquet(f"{sigs_dir}/batch_id={b}")
    _ledger_for(spark, state, 0, 180)

    # (a) id-horizon guard: store holds ids 0..2, horizon 3
    with _pytest.raises(ValueError, match="id horizon"):
        compact_sig_store(spark, state, upto=5)

    # (b) committed-horizon guard: commits log says only batches 0,1
    # committed — folding batch 2 (replayable) must refuse
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    for i in (0, 1):
        (ckpt / "commits" / str(i)).write_text("{}")
    with _pytest.raises(ValueError, match="committed horizon"):
        compact_sig_store(spark, state, upto=3, checkpoint_dir=str(ckpt))
    # within both horizons it proceeds (2 sig dirs + the ledger fold)
    assert compact_sig_store(
        spark, state, upto=2, checkpoint_dir=str(ckpt)
    ) >= 2

    # (c) staged-leftover guard, on readers AND on a re-run of the tool,
    # naming the repair for each kind of leftover; following it restores
    # the store
    def n_rows():
        return _pruned_store(spark, sigs_dir, _SIGS, 10, [(0, 0)]).count()

    want = n_rows()
    folded = os.path.join(sigs_dir, "batch_id=1")
    leftover = os.path.join(sigs_dir, f"{_COMPACT_TMP_PREFIX}batch_id=1")
    # a fold that died mid-write: no _SUCCESS, the originals are intact
    os.makedirs(leftover)
    partial_msg = (
        r"interrupted compaction.*partial.*delete '_compact_tmp\.batch_id=1'"
    )
    with _pytest.raises(RuntimeError, match=partial_msg):
        n_rows()
    with _pytest.raises(RuntimeError, match=partial_msg):
        compact_sig_store(spark, state, upto=3)
    os.rmdir(leftover)
    assert n_rows() == want
    # a fold that died after its write committed, with the original
    # below the target id already removed: the staging is complete
    os.rename(folded, leftover)
    assert os.path.exists(os.path.join(leftover, "_SUCCESS"))
    with _pytest.raises(
        RuntimeError,
        match=r"complete.*i <= 1, then rename '_compact_tmp\.batch_id=1' "
        r"to 'batch_id=1'",
    ):
        n_rows()
    os.rename(leftover, folded)
    assert n_rows() == want


@pytest.mark.slow  # reads the parity test's module state
def test_funnel_report_ledger_horizon_gate(spark, funnel_dirs):
    """The sibling writes docmeta, vermeta, and hterm per batch in
    order; a crash between the writes leaves their horizons unequal and
    the report must raise instead of silently computing stages over a
    torn ledger. Simulated by hiding one vermeta batch directory.
    (Runs after the parity test — module-scoped dirs have real state.)"""
    import shutil

    import pytest as _pytest

    vm_dir = os.path.join(funnel_dirs["state"], "vermeta")
    victim = sorted(
        e for e in os.listdir(vm_dir) if e.startswith("batch_id=")
    )[0]
    backup = os.path.join(funnel_dirs["state"], "_backup_" + victim)
    shutil.move(os.path.join(vm_dir, victim), backup)
    try:
        with _pytest.raises(ValueError, match="horizons disagree"):
            curation_funnel_stream_report(spark, funnel_dirs["state"])
    finally:
        shutil.move(backup, os.path.join(vm_dir, victim))
    assert (
        curation_funnel_stream_report(
            spark, funnel_dirs["state"]
        ).count()
        == 7
    )


@pytest.mark.slow
def test_funnel_auto_compaction_bounds_store_and_keeps_parity(
    spark, sf_dir, tmp_path
):
    """compact_every=N folds the signature store from inside the runner:
    across a 3-batch run (one drop file per batch) the store must end
    with fewer batch directories than batches processed, and the
    accumulated report must still equal the batch funnel exactly."""
    from kafka_flink_slack_pipeline_spark.operators.curation import (
        fuzzy_bench_frames as _fbf,
    )

    d = {
        "drop": str(tmp_path / "drop"),
        "out": str(tmp_path / "out"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    for i, (lo, hi) in enumerate([(0, 170), (170, 340), (340, 10**9)]):
        _write_drop(sf_dir, f"{d['drop']}/part{i}.jsonl", lo, hi)
        # pin strictly increasing mtimes: FileStreamSource orders files
        # by modification time, and a tie from this fast loop can
        # process drops out of doc_id order (the monotone-ingest parity
        # precondition)
        os.utime(f"{d['drop']}/part{i}.jsonl",
                 (1700000000 + i, 1700000000 + i))
    toked = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokens_col().alias("toks"))
    )
    bench_sh, bench_sizes = _fbf(toked)
    curation_funnel_stream(
        spark, d["drop"], d["out"], d["state"], d["ckpt"],
        bench_sh, bench_sizes, ttl="2 hours",
        max_files_per_trigger=1, compact_every=1,
    )

    cnt = spark.read.option("basePath", f"{d['state']}/counts").parquet(
        f"{d['state']}/counts"
    )
    n_batches = cnt.select("batch_id").distinct().count()
    assert n_batches >= 3
    sig_dirs = [
        e
        for e in os.listdir(f"{d['state']}/sigs")
        if e.startswith("batch_id=")
    ]
    # every compaction point folds [0, k) into one dir: the store can
    # never hold more than 2 live dirs at a compaction boundary, so the
    # end state must be strictly below the batch count
    assert len(sig_dirs) < n_batches

    got = {
        (r["stage_ord"], r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in curation_funnel_stream_report(
            spark, d["state"]
        ).collect()
    }
    want = {
        (r["stage_ord"], r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in corpus_curation_funnel(spark, sf_dir).collect()
    }
    assert got == want


@pytest.mark.slow  # reads the parity test's module state
def test_funnel_report_refuses_pre_lww_state(spark, funnel_dirs):
    """Upgrade-path gate: state written by a pre-r12 run has no
    docmeta/ version ledger — the report must name the condition
    instead of dying in a parquet read (or, worse, presenting counts
    that cannot be made LWW-consistent). (Runs after the parity test —
    module-scoped dirs have real state.)"""
    import shutil

    import pytest as _pytest

    dm = os.path.join(funnel_dirs["state"], "docmeta")
    backup = os.path.join(funnel_dirs["state"], "_backup_docmeta")
    shutil.move(dm, backup)
    try:
        with _pytest.raises(ValueError, match="pre-LWW"):
            curation_funnel_stream_report(spark, funnel_dirs["state"])
    finally:
        shutil.move(backup, dm)
    assert (
        curation_funnel_stream_report(
            spark, funnel_dirs["state"]
        ).count()
        == 7
    )


def _stage_rows(df):
    return {
        (r["stage_ord"], r["stage"]): (r["n_docs"], r["n_tokens"])
        for r in df.collect()
    }


def _synth_neardup_texts():
    """Two quality-passing texts that are near-dups of each other (a
    shared 55-token base, distinct tails — deterministically >= 1
    shared band, the capped-telemetry fixture's construction) plus two
    unrelated quality-passing texts for the update case."""
    stops = "the a of is and"
    base = stops + " " + " ".join(f"wtok{i:02d}" for i in range(50))
    w_text = base + " tailw"
    b_text = base + " tailb"
    x1 = stops + " " + " ".join(f"u1tok{i:02d}" for i in range(50))
    x2 = stops + " " + " ".join(f"u2tok{i:02d}" for i in range(50))
    return w_text, b_text, x1, x2


def _funnel_drop_recs(rows, ts):
    return [
        {
            "doc_id": did,
            "text": text,
            "lang": "en",
            "source": src,
            "ingest_ts": ts,
        }
        for did, text, src in rows
    ]


def _write_jsonl(path, recs, mtime):
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _corpus_dir_of(spark, tmp_path, name, extra_rows, sf_dir=None):
    """documents.parquet = (optionally) the sf corpus plus extra
    (doc_id, text, source) rows — the batch funnel's input table."""
    from pyspark.sql import functions as F

    out = str(tmp_path / name)
    os.makedirs(out, exist_ok=True)
    extra = spark.createDataFrame(
        [(d, t, "en", s) for d, t, s in extra_rows],
        "doc_id bigint, text string, lang string, source string",
    )
    if sf_dir is not None:
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "lang", "source"
        )
        extra = base.unionByName(extra)
    extra.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    return out


@pytest.mark.slow
def test_funnel_lww_unsuppression_and_update(spark, sf_dir, tmp_path):
    """r11 verdict item 1, the centerpiece: the funnel's signature
    store under the LWW rails. A document whose ONLY near-dup witness
    was tombstoned before it arrived SURVIVES the funnel (the
    unsuppression case), restoring the witness kills it (the batch
    counterfactual), an updated document counts with its CURRENT
    signals, and the full 7-stage report equals corpus_curation_funnel
    over the LWW-current corpus EXACTLY — across checkpoint restarts,
    pre- AND post-compaction (with physical-drop assertions)."""
    from pyspark.sql import functions as F

    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        compact_sig_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import (
        _committed_horizon,
    )

    w_text, b_text, x1, x2 = _synth_neardup_texts()
    base_rows = [
        (r["doc_id"], r["text"], r["lang"], r["source"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
        .collect()
    ]

    d = {
        "drop": str(tmp_path / "drop"),
        "out": str(tmp_path / "out"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])

    # wave 1: the corpus + witness W + U's first version
    recs1 = [
        {
            "doc_id": did,
            "text": text,
            "lang": lang,
            "source": src,
            "ingest_ts": "2025-01-01T00:00:00.000Z",
        }
        for did, text, lang, src in base_rows
    ] + _funnel_drop_recs(
        [(9000, w_text, "s_w"), (9200, x1, "s_u")],
        "2025-01-01T01:00:00.000Z",
    )
    _write_jsonl(f"{d['drop']}/w1.jsonl", recs1, 1700000000)
    _run(spark, sf_dir, d)

    # wave 2 (restart): tombstone W; update U -> x2
    recs2 = _funnel_drop_recs(
        [(9200, x2, "s_u")], "2025-02-01T00:00:00.000Z"
    ) + [
        {
            "doc_id": 9000,
            "text": None,
            "lang": None,
            "source": None,
            "ingest_ts": "2025-02-01T00:00:01.000Z",
            "deleted": True,
        }
    ]
    _write_jsonl(f"{d['drop']}/w2.jsonl", recs2, 1700000001)
    _run(spark, sf_dir, d)

    # wave 3 (restart): the victim B — its ONLY near-twin is W
    _write_jsonl(
        f"{d['drop']}/w3.jsonl",
        _funnel_drop_recs(
            [(9100, b_text, "s_b")], "2025-03-01T00:00:00.000Z"
        ),
        1700000002,
    )
    _run(spark, sf_dir, d)

    got = _stage_rows(curation_funnel_stream_report(spark, d["state"]))

    # batch funnel over the LWW-CURRENT corpus: base + B + U(v2), W gone
    lww_dir = _corpus_dir_of(
        spark,
        tmp_path,
        "lww",
        [(9100, b_text, "s_b"), (9200, x2, "s_u")],
        sf_dir=sf_dir,
    )
    want = _stage_rows(corpus_curation_funnel(spark, lww_dir))
    assert got == want

    # the unsuppression is non-vacuous: with W restored, the SAME batch
    # kernel drops B at the near-dup stage (one fewer stage-3 doc net of
    # W's own +1 contribution to every stage it reaches; W itself is
    # quality-passing, unique, uncontaminated — so stages 0-2 gain
    # exactly W and stage 3 gains W but loses B)
    cf_dir = _corpus_dir_of(
        spark,
        tmp_path,
        "cf",
        [(9000, w_text, "s_w"), (9100, b_text, "s_b"), (9200, x2, "s_u")],
        sf_dir=sf_dir,
    )
    cf = _stage_rows(corpus_curation_funnel(spark, cf_dir))
    n_w = len(w_text.split())
    n_b = len(b_text.split())
    assert cf[(0, "raw")][0] == want[(0, "raw")][0] + 1
    assert cf[(2, "exact_dedup")][0] == want[(2, "exact_dedup")][0] + 1
    assert cf[(3, "near_dedup")] == (
        want[(3, "near_dedup")][0],
        want[(3, "near_dedup")][1] + n_w - n_b,
    ), "restoring the witness must kill the victim at stage 3"

    # the PRODUCT read path serves the LWW-current landed corpus: its
    # membership equals the report's stage-4 set (count + the planted
    # docs' fates), even though the raw sink still holds W's file
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        landed_documents_current,
    )

    def landed_ids():
        return {
            r["doc_id"]
            for r in landed_documents_current(
                spark, d["out"], d["state"]
            ).collect()
        }

    cur = landed_ids()
    assert len(cur) == got[(4, "decontaminated")][0]
    assert 9000 not in cur and 9100 in cur and 9200 in cur

    # compaction: fold everything (product sink included), report and
    # landed reader identical, physical drops
    upto = _committed_horizon(d["ckpt"])
    compact_sig_store(
        spark,
        d["state"],
        upto=upto,
        checkpoint_dir=d["ckpt"],
        ledger_checkpoint_dir=f"{d['ckpt']}_ledger",
        out_dir=d["out"],
    )
    got2 = _stage_rows(curation_funnel_stream_report(spark, d["state"]))
    assert got2 == got
    assert landed_ids() == cur
    sigs = spark.read.option("basePath", f"{d['state']}/sigs").parquet(
        f"{d['state']}/sigs"
    )
    assert sigs.filter(F.col("doc_id") == 9000).count() == 0, (
        "tombstoned witness's signatures not physically dropped"
    )
    assert (
        sigs.filter(F.col("doc_id") == 9200)
        .select("ts")
        .distinct()
        .count()
        == 1
    ), "superseded version's signatures not physically dropped"
    landed_raw = spark.read.option("basePath", d["out"]).parquet(d["out"])
    assert landed_raw.filter(F.col("doc_id") == 9000).count() == 0, (
        "tombstoned doc's landed file not physically dropped"
    )
    assert (
        landed_raw.filter(F.col("doc_id") == 9200)
        .select("ingest_ts")
        .distinct()
        .count()
        == 1
    ), "superseded version's landed row not physically dropped"


@pytest.mark.slow
def test_funnel_lww_immutability_divergence(spark, tmp_path):
    """The documented divergence (module note 1), pinned: a victim
    judged BEFORE its witness's tombstone arrives stays dropped — its
    judgment row is immutable — while batch-over-LWW keeps it. The
    report therefore reads exactly one doc short of the batch funnel at
    the near-dup stage (and the judgment row carries the evidence)."""
    from pyspark.sql import functions as F

    w_text, b_text, x1, _ = _synth_neardup_texts()
    extra = [(10, w_text, "s0"), (20, b_text, "s0"), (30, x1, "s0")]
    corpus = _corpus_dir_of(spark, tmp_path, "corpus", extra)

    d = {
        "drop": str(tmp_path / "drop"),
        "out": str(tmp_path / "out"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    # invocation 1: W, B, X together — B is judged against live W and
    # DROPPED at stage 3
    _write_jsonl(
        f"{d['drop']}/w1.jsonl",
        _funnel_drop_recs(extra, "2025-01-01T00:00:00.000Z"),
        1700000000,
    )
    _run(spark, corpus, d)
    # invocation 2: the witness's tombstone — too late for B
    _write_jsonl(
        f"{d['drop']}/w2.jsonl",
        [
            {
                "doc_id": 10,
                "text": None,
                "lang": None,
                "source": None,
                "ingest_ts": "2025-02-01T00:00:00.000Z",
                "deleted": True,
            }
        ],
        1700000001,
    )
    _run(spark, corpus, d)

    jd = spark.read.option(
        "basePath", f"{d['state']}/judgments"
    ).parquet(f"{d['state']}/judgments")
    assert [
        r["nd_dropped"]
        for r in jd.filter(F.col("doc_id") == 20).collect()
    ] == [True], "the victim's pre-tombstone judgment must be immutable"

    got = _stage_rows(curation_funnel_stream_report(spark, d["state"]))
    lww = _corpus_dir_of(
        spark, tmp_path, "lww", [(20, b_text, "s0"), (30, x1, "s0")]
    )
    want = _stage_rows(corpus_curation_funnel(spark, lww))
    n_b = len(b_text.split())
    # stages 0-2 agree; stage 3 diverges by EXACTLY the victim
    for s in range(3):
        key = (s, ("raw", "quality", "exact_dedup")[s])
        assert got[key] == want[key]
    assert got[(3, "near_dedup")] == (
        want[(3, "near_dedup")][0] - 1,
        want[(3, "near_dedup")][1] - n_b,
    )


@pytest.mark.slow
def test_funnel_neardup_probe_adhoc(spark, tmp_path):
    """The funnel store's non-ingesting probe face (completing the
    ad-hoc family): a probe text near a landed doc is a DUP; after the
    witness's tombstone the same probe is KEPT; probes write nothing
    (the report is unchanged and a re-probe agrees); an empty workload
    refuses loudly."""
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        funnel_neardup_probe_adhoc,
    )

    w_text, b_text, x1, _ = _synth_neardup_texts()
    extra = [(10, w_text, "s0"), (30, x1, "s0")]
    corpus = _corpus_dir_of(spark, tmp_path, "corpus", extra)
    d = {
        "drop": str(tmp_path / "drop"),
        "out": str(tmp_path / "out"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_jsonl(
        f"{d['drop']}/w1.jsonl",
        _funnel_drop_recs(extra, "2025-01-01T00:00:00.000Z"),
        1700000000,
    )
    _run(spark, corpus, d)

    report_before = _stage_rows(
        curation_funnel_stream_report(spark, d["state"])
    )
    got = {
        r["probe_id"]: (r["is_dup"], r["n_matches"])
        for r in funnel_neardup_probe_adhoc(
            spark, d["state"], {5: b_text, 6: "nothing like the corpus"}
        ).collect()
    }
    assert got[5] == (True, 1), "near-twin of landed W must be a dup"
    assert got[6] == (False, 0)

    # tombstone the witness; the same probe must now be KEPT
    _write_jsonl(
        f"{d['drop']}/w2.jsonl",
        [
            {
                "doc_id": 10,
                "text": None,
                "lang": None,
                "source": None,
                "ingest_ts": "2025-02-01T00:00:00.000Z",
                "deleted": True,
            }
        ],
        1700000001,
    )
    _run(spark, corpus, d)
    got2 = {
        r["probe_id"]: r["is_dup"]
        for r in funnel_neardup_probe_adhoc(
            spark, d["state"], {5: b_text}
        ).collect()
    }
    assert got2 == {5: False}, "tombstoned witness still suppresses"

    # probing wrote nothing: the report reflects only the stream's own
    # state transitions (W's tombstone), and a re-probe agrees
    after = _stage_rows(curation_funnel_stream_report(spark, d["state"]))
    assert after[(0, "raw")][0] == report_before[(0, "raw")][0] - 1
    again = {
        r["probe_id"]: r["is_dup"]
        for r in funnel_neardup_probe_adhoc(
            spark, d["state"], {5: b_text}
        ).collect()
    }
    assert again == got2
    with pytest.raises(ValueError, match="no probe texts"):
        funnel_neardup_probe_adhoc(spark, d["state"], {})

    # ADVICE r12: a workload whose EVERY text is shorter than the
    # 3-token shingle width is all-KEEP on a landed store (batch
    # semantics: a shingle-less doc never pairs) — not the
    # missing-store error the empty touched list used to trigger ...
    short = funnel_neardup_probe_adhoc(
        spark, d["state"], {7: "hi there", 8: "x"}
    ).collect()
    assert [
        (r["probe_id"], r["is_dup"], r["n_matches"], r["best_est"])
        for r in short
    ] == [(7, False, 0, None), (8, False, 0, None)]
    # ... while a genuinely absent store still refuses loudly, even
    # for a shingle-less workload
    with pytest.raises(ValueError, match="no signature store"):
        funnel_neardup_probe_adhoc(
            spark, str(tmp_path / "nostate"), {7: "hi there"}
        )


@pytest.mark.slow
def test_funnel_identical_resend_is_ledger_noop(spark, tmp_path):
    """ADVICE r12 (medium): a byte-identical re-send of a LIVE doc
    (same doc_id, same text, later distinct ingest_ts — legal under the
    ordering contract) is suppressed by the engine's exact-dedup state,
    so the sibling ledger must treat it as a NO-OP: the landed version
    stays the LWW winner (no docmeta/vermeta bump), its signatures keep
    witnessing (the probe face — the advice's empirical repro), the
    product read path keeps serving the doc, and the report does not
    orphan-gate. A DIFFERENT-content re-send still bumps normally; a
    within-batch identical pair collapses to its first (min-ts) row —
    the row the engine's keyed state keeps under the ordering
    contract. All re-asserted after a physical fold."""
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        compact_sig_store,
        funnel_neardup_probe_adhoc,
        landed_documents_current,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import (
        _committed_horizon,
    )

    w_text, b_text, x1, x2 = _synth_neardup_texts()
    stops = "the a of is and"
    y_base = stops + " " + " ".join(f"ytok{i:02d}" for i in range(50))
    extra = [(10, w_text, "s0"), (30, x1, "s0")]
    corpus = _corpus_dir_of(spark, tmp_path, "corpus", extra)
    d = {
        "drop": str(tmp_path / "drop"),
        "out": str(tmp_path / "out"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    _write_jsonl(
        f"{d['drop']}/w1.jsonl",
        _funnel_drop_recs(extra, "2025-01-01T00:00:00.000Z"),
        1700000000,
    )
    _run(spark, corpus, d)
    report_before = _stage_rows(
        curation_funnel_stream_report(spark, d["state"])
    )

    def probe(texts):
        return {
            r["probe_id"]: r["is_dup"]
            for r in funnel_neardup_probe_adhoc(
                spark, d["state"], texts
            ).collect()
        }

    def n_versions(sub, did):
        return (
            spark.read.option("basePath", f"{d['state']}/{sub}")
            .parquet(f"{d['state']}/{sub}")
            .filter(f"doc_id = {did}")
            .count()
        )

    assert probe({5: b_text}) == {5: True}

    # wave 2: byte-identical re-send of LIVE doc 10 at a later distinct
    # ts, inside the 2h dedup TTL — the advice's exact shape
    _write_jsonl(
        f"{d['drop']}/w2.jsonl",
        _funnel_drop_recs([(10, w_text, "s0")], "2025-01-01T00:30:00.000Z"),
        1700000001,
    )
    _run(spark, corpus, d)

    # ledger no-op: no docmeta/vermeta bump for doc 10
    assert n_versions("docmeta", 10) == 1, "identical re-send bumped docmeta"
    assert n_versions("vermeta", 10) == 1
    # serving faces still see the doc (pre-fix: probe silently flipped
    # to False and the report fail-stopped on the orphan gate)
    assert probe({5: b_text}) == {5: True}, "landed sigs must keep witnessing"
    assert (
        _stage_rows(curation_funnel_stream_report(spark, d["state"]))
        == report_before
    )
    assert 10 in {
        r["doc_id"]
        for r in landed_documents_current(
            spark, d["out"], d["state"]
        ).collect()
    }, "product read path must keep serving the re-sent live doc"

    # wave 3: a DIFFERENT-content re-send of doc 30 (normal bump) and a
    # new doc 40 sent TWICE byte-identically within one batch (collapses
    # to its first row; the engine's first-arrival keep under per-key
    # order makes min-ts the kept one)
    _write_jsonl(
        f"{d['drop']}/w3.jsonl",
        _funnel_drop_recs([(30, x2, "s0")], "2025-01-01T01:00:00.000Z")
        + _funnel_drop_recs(
            [(40, y_base + " taily", "s0")], "2025-01-01T01:00:01.000Z"
        )
        + _funnel_drop_recs(
            [(40, y_base + " taily", "s0")], "2025-01-01T01:00:02.000Z"
        ),
        1700000002,
    )
    _run(spark, corpus, d)
    assert n_versions("docmeta", 30) == 2, "content change must still bump"
    assert n_versions("docmeta", 40) == 1, "within-batch identical pair"
    got3 = probe({1: b_text, 2: x1 + " tailp", 3: y_base + " tailp"})
    assert got3 == {1: True, 2: False, 3: True}, (
        "W keeps witnessing, superseded x1 stopped, the collapsed "
        "doc 40 witnesses"
    )
    rep3 = _stage_rows(curation_funnel_stream_report(spark, d["state"]))
    assert rep3[(0, "raw")][0] == 3  # live winners: 10, 30, 40

    # physical fold: the no-op'd ledger folds cleanly and every face
    # answers identically after it
    compact_sig_store(
        spark,
        d["state"],
        upto=_committed_horizon(d["ckpt"]),
        checkpoint_dir=d["ckpt"],
        ledger_checkpoint_dir=f"{d['ckpt']}_ledger",
        out_dir=d["out"],
    )
    assert probe({1: b_text, 2: x1 + " tailp", 3: y_base + " tailp"}) == got3
    assert (
        _stage_rows(curation_funnel_stream_report(spark, d["state"])) == rep3
    )


def test_funnel_out_of_order_version_repaired_at_fold(spark, tmp_path):
    """The ORDERING CONTRACT's documented failure-and-repair path, the
    funnel twin of the retrieval-index pin: a LATE OLDER version
    arriving after its successor was folded becomes the ledger tail's
    winner, so the store deterministically serves the OLD content's
    signatures (batch-op-over-v1) — and the next fold's global LWW
    reinstates v2 exactly. Both states asserted through the probe
    face (landing via the stream's own kernels, the certificate's
    fixture discipline)."""
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        _banded_sigs_of,
        _land_funnel_ledger,
        compact_sig_store,
        funnel_neardup_probe_adhoc,
    )
    from pyspark.sql import functions as F

    w_text, b_text, x1, x2 = _synth_neardup_texts()
    # v2 of doc 10 = x2-near content; the late v1 = w_text content
    state = str(tmp_path / "state")

    def land(batch_rows, i, ts):
        wave = spark.createDataFrame(
            [(d, t, "en", "s0") for d, t in batch_rows],
            "doc_id bigint, text string, lang string, source string",
        ).select(
            "doc_id", "text", "lang", "source",
            F.lit(ts).cast("timestamp").alias("ingest_ts"),
            F.lit(False).alias("deleted"),
        )
        _land_funnel_ledger(wave, i, state)
        (
            _banded_sigs_of(wave)
            .write.mode("overwrite")
            .partitionBy("band", "bprefix")
            .parquet(f"{state}/sigs/batch_id={i}")
        )

    # batch 0: doc 10 AT ITS LATEST VERSION (v2 = x2 + tail), doc 30
    land([(10, x2 + " tailv2"), (30, x1)], 0, "2025-01-02 00:00:00")
    compact_sig_store(spark, state, upto=1, ledger_upto=1)

    # batch 1: the LATE OLDER v1 (w_text) arrives after the fold —
    # the contract violation
    land([(10, w_text)], 1, "2025-01-01 00:00:00")

    def verdicts():
        return {
            r["probe_id"]: r["is_dup"]
            for r in funnel_neardup_probe_adhoc(
                spark, state,
                {1: b_text, 2: x2 + " tailprobe"},
            ).collect()
        }

    # failure state, deterministic: the tail's only version (v1) wins
    # the tail-LWW, so v2's folded signatures are masked and the store
    # serves v1's content — b_text (near w_text) matches, the x2 probe
    # does not
    assert verdicts() == {1: True, 2: False}

    # repair: the next fold's GLOBAL LWW reinstates v2
    compact_sig_store(spark, state, upto=2, ledger_upto=2)
    assert verdicts() == {1: False, 2: True}
    sigs = spark.read.option("basePath", f"{state}/sigs").parquet(
        f"{state}/sigs"
    )
    assert (
        sigs.filter(F.col("doc_id") == 10).select("ts").distinct().count()
        == 1
    ), "the late older version's signatures must be physically dropped"


@pytest.mark.slow
def test_funnel_stream_classifier_stage_drops_in_stream(
    spark, tmp_path
):
    """Stage-6 stream/batch parity in the regime where the classifier
    actually DROPS something (the corpus parity run's classifier stage
    drops zero docs, which would leave the stream's stage-6 path
    verified only vacuously): the planted trap corpus from
    test_curation — a rule-passing doc made of the junk-class
    vocabulary — must lose exactly the trap at classifier_kept on BOTH
    faces, from the same drops."""
    stops = ["the", "a", "of", "is", "and"]
    pool = [f"junk{j:02d}" for j in range(25)]
    rows = []
    for d in range(8):
        toks = stops + [f"clean{d}x{j:02d}" for j in range(25)]
        rows.append((d, " ".join(toks), "en", "src_clean"))
    for d in range(24):
        toks = [f"u{d:02d}"] + stops + pool + pool
        rows.append((100 + d, " ".join(toks), "en", "src_junk"))
    trap_toks = []
    for j, t in enumerate(reversed(pool)):
        trap_toks.append(t)
        if j < len(stops):
            trap_toks.append(stops[j])
    rows.append((200, " ".join(trap_toks), "en", "src_trap"))

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    ).write.parquet(f"{corpus}/documents.parquet")

    d = {
        "drop": str(tmp_path / "drop"),
        "out": str(tmp_path / "out"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    with open(f"{d['drop']}/part1.jsonl", "w") as f:
        for doc_id, text, lang, source in sorted(rows):
            ts = f"2025-01-01T00:{doc_id // 60:02d}:{doc_id % 60:02d}.000Z"
            f.write(json.dumps({"doc_id": doc_id, "text": text,
                                "lang": lang, "source": source,
                                "ingest_ts": ts}) + "\n")
    _run(spark, corpus, d)

    got = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in curation_funnel_stream_report(
            spark, d["state"]
        ).collect()
    }
    want = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in corpus_curation_funnel(spark, corpus).collect()
    }
    assert got == want
    # non-vacuous on BOTH faces: exactly the trap fell at stage 6
    assert (
        got["source_kept"][0] - got["classifier_kept"][0] == 1
        and got["source_kept"][1] - got["classifier_kept"][1] == 30
    )
