"""Stream/batch parity for the incrementally-maintained hybrid index.

The contract (streaming/hybrid_index.py): once the corpus has landed,
hybrid_index_search with the codebook trained on that corpus equals
hybrid_search_rrf_ivf over the same (documents, embeddings) tables
EXACTLY — fused ranks, rrf scores, in_lex/in_dense flags — across a
checkpoint restart; and a single query's dense candidates are read
only from its probed cid partitions.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from kafka_flink_slack_pipeline_spark.operators.curation import (
    hybrid_search_rrf_ivf,
)
from kafka_flink_slack_pipeline_spark.operators.similarity import (
    IVF_NPROBE,
    _centroid_model,
)
from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
    _pruned_vectors,
    hybrid_index_search,
    hybrid_index_stream,
)


def _drop_rows(spark, sf_dir):
    """documents JOIN embeddings (1:1 on id in this corpus): each drop
    carries the text and the float32→double vector, so the landed
    doubles are bit-identical to what the batch op reads."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    return [
        (r.doc_id, r.text, list(r.emb) if r.emb is not None else None)
        for r in docs.join(emb, "doc_id", "left").orderBy("doc_id").collect()
    ]


def _write_drop(path, rows, lo, hi):
    with open(path, "w") as f:
        for i, (doc_id, text, emb) in enumerate(
            sorted((r for r in rows if lo <= r[0] < hi), key=lambda r: r[0])
        ):
            f.write(
                json.dumps(
                    {
                        "doc_id": doc_id,
                        "text": text,
                        "embedding": emb,
                        "ingest_ts": f"2025-01-01T00:{i // 60:02d}"
                        f":{i % 60:02d}.000Z",
                    }
                )
                + "\n"
            )


@pytest.fixture(scope="module")
def hybrid_dirs(tmp_path_factory, spark, sf_dir):
    base = tmp_path_factory.mktemp("hybridindex")
    d = {
        "drop": str(base / "drop"),
        "state": str(base / "state"),
        "ckpt": str(base / "ckpt"),
    }
    os.makedirs(d["drop"])
    codebook = _centroid_model(spark, sf_dir)
    rows = _drop_rows(spark, sf_dir)
    _write_drop(f"{d['drop']}/part1.jsonl", rows, 0, 300)
    hybrid_index_stream(
        spark, d["drop"], d["state"], d["ckpt"], codebook
    )
    _write_drop(f"{d['drop']}/part2.jsonl", rows, 300, 10**9)
    hybrid_index_stream(
        spark, d["drop"], d["state"], d["ckpt"], codebook
    )
    d["codebook"] = codebook
    return d


def test_hybrid_index_search_equals_batch_fusion(
    spark, sf_dir, hybrid_dirs
):
    got = [
        tuple(r)
        for r in hybrid_index_search(
            spark, hybrid_dirs["state"], hybrid_dirs["codebook"]
        ).collect()
    ]
    want = [tuple(r) for r in hybrid_search_rrf_ivf(spark, sf_dir).collect()]
    assert got == want
    assert got, "empty workload — parity vacuous"


def test_hybrid_index_single_query_and_cid_pruning(spark, hybrid_dirs):
    """The serving path: one query's fused rows equal its slice of the
    full workload, and its dense candidates come only from <= nprobe
    cid partitions (input_file_name-pinned)."""
    full = {
        (r["query_id"], r["rank"]): tuple(r)
        for r in hybrid_index_search(
            spark, hybrid_dirs["state"], hybrid_dirs["codebook"]
        ).collect()
    }
    qid = sorted({q for q, _ in full})[0]
    one = hybrid_index_search(
        spark, hybrid_dirs["state"], hybrid_dirs["codebook"],
        query_ids=[qid],
    ).collect()
    assert [tuple(r) for r in one] == [
        full[(q, k)] for q, k in sorted(full) if q == qid
    ]

    # the probed cids for this query are <= IVF_NPROBE; the pruned scan
    # must touch only those partitions, and the store must hold others
    vectors_dir = f"{hybrid_dirs['state']}/vectors"
    all_cids = {
        r["cid"]
        for r in spark.read.option("basePath", vectors_dir)
        .parquet(vectors_dir)
        .select("cid")
        .distinct()
        .collect()
    }
    assert len(all_cids) > IVF_NPROBE
    probe_cids = sorted(all_cids)[:IVF_NPROBE]
    pruned = _pruned_vectors(spark, vectors_dir, probe_cids)
    read_files = [
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert any(f"/cid={c}/" in f for c in probe_cids), (
            f"read untouched partition: {f}"
        )


def test_hybrid_vector_store_rejects_remote_uri(spark):
    with pytest.raises(ValueError, match="driver-local"):
        _pruned_vectors(spark, "hdfs://nn/vectors", [0])


@pytest.mark.slow
def test_hybrid_index_compaction_preserves_search(spark, sf_dir, tmp_path):
    """A 3-batch run with compact_every=1 folds BOTH stores from inside
    the runner; the folded index serves identical fused results."""
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        hybrid_index_stream as run,
    )

    codebook = _centroid_model(spark, sf_dir)
    rows = _drop_rows(spark, sf_dir)
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["drop"])
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 10**9)]):
        path = f"{d['drop']}/part{i}.jsonl"
        _write_drop(path, rows, lo, hi)
        os.utime(path, (1700000000 + i, 1700000000 + i))  # mtime order
    run(
        spark, d["drop"], d["state"], d["ckpt"], codebook,
        max_files_per_trigger=1, compact_every=1,
    )
    for store in ("postings", "vectors"):
        n_dirs = len(
            [
                e
                for e in os.listdir(f"{d['state']}/{store}")
                if e.startswith("batch_id=")
            ]
        )
        assert n_dirs < 3, f"{store} not folded"
    got = [
        tuple(r)
        for r in hybrid_index_search(spark, d["state"], codebook).collect()
    ]
    want = [tuple(r) for r in hybrid_search_rrf_ivf(spark, sf_dir).collect()]
    assert got == want


def test_hybrid_vector_store_refuses_empty_store(spark, tmp_path):
    with pytest.raises(ValueError, match="nothing has landed"):
        _pruned_vectors(spark, f"{tmp_path}/vectors", [0])


def test_hybrid_vecseeds_refuse_empty_and_remote(spark, tmp_path):
    """The r10 ADVICE gap: the dense seed sidecar gets the same loud
    guards as the vector store."""
    from kafka_flink_slack_pipeline_spark.streaming.store import _read_store

    with pytest.raises(ValueError, match="nothing has landed"):
        _read_store(spark, f"{tmp_path}/vecseeds", "dense seed sidecar dir")
    with pytest.raises(ValueError, match="driver-local"):
        _read_store(spark, "s3://b/vecseeds", "dense seed sidecar dir")


# ---------------------------------------------------------------------------
# update/delete + retrain: the r10 verdict's top two items


def _write_recs(path, recs):
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


def _updated_tables(spark, sf_dir, out_dir, upd_text, upd_emb, dels):
    """Write the LWW-current (documents, embeddings) tables — the
    batch comparator's ground truth after updates/tombstones."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    text_col = F.col("text")
    for i, t in upd_text.items():
        text_col = F.when(F.col("doc_id") == i, F.lit(t)).otherwise(text_col)
    docs.filter(~F.col("doc_id").isin(sorted(dels))).withColumn(
        "text", text_col
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_col = F.col("embedding")
    for i, vec in upd_emb.items():
        lit_vec = F.array(*[F.lit(float(x)) for x in vec]).cast(
            "array<float>"
        )
        emb_col = F.when(F.col("vec_id") == i, lit_vec).otherwise(emb_col)
    emb.filter(~F.col("vec_id").isin(sorted(dels))).withColumn(
        "embedding", emb_col
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def hybrid_lww_dirs(tmp_path_factory, spark, sf_dir):
    """Full corpus, then (across a restart) text+embedding updates and
    tombstones: doc 7 gets doc 450's embedding (typically a different
    cid — the vector must MOVE lists), seed doc 0 gets new text, seed
    doc 100 is tombstoned, every doc_id%10==3 is tombstoned."""
    base = tmp_path_factory.mktemp("hybridlww")
    d = {
        "drop": str(base / "drop"),
        "state": str(base / "state"),
        "ckpt": str(base / "ckpt"),
        "tables": str(base / "tables"),
    }
    os.makedirs(d["drop"])
    os.makedirs(d["tables"])
    codebook = _centroid_model(spark, sf_dir)
    rows = _drop_rows(spark, sf_dir)
    by_id = {r[0]: r for r in rows}

    _write_drop(f"{d['drop']}/w1.jsonl", rows, 0, 10**9)
    hybrid_index_stream(spark, d["drop"], d["state"], d["ckpt"], codebook)

    upd_text = {
        7: f"{by_id[7][1]} revised {by_id[7][1]}",
        0: (
            "alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliett kilo lima mike november oscar papa"
        ),
    }
    upd_emb = {7: by_id[450][2], 0: by_id[0][2]}
    dels = {i for i, _, _ in rows if i % 10 == 3} | {100}
    recs = [
        {
            "doc_id": i,
            "text": upd_text[i],
            "embedding": upd_emb[i],
            "ingest_ts": f"2025-02-01T00:00:{k:02d}.000Z",
        }
        for k, i in enumerate(sorted(upd_text))
    ] + [
        {
            "doc_id": i,
            "text": None,
            "embedding": None,
            "ingest_ts": f"2025-02-02T00:{k // 60:02d}:{k % 60:02d}.000Z",
            "deleted": True,
        }
        for k, i in enumerate(sorted(dels))
    ]
    _write_recs(f"{d['drop']}/w2.jsonl", recs)
    hybrid_index_stream(spark, d["drop"], d["state"], d["ckpt"], codebook)

    _updated_tables(spark, sf_dir, d["tables"], upd_text, upd_emb, dels)
    d.update(codebook=codebook, dels=dels)
    return d


def test_hybrid_update_delete_parity(spark, hybrid_lww_dirs):
    d = hybrid_lww_dirs
    got = [
        tuple(r)
        for r in hybrid_index_search(
            spark, d["state"], d["codebook"]
        ).collect()
    ]
    want = [
        tuple(r)
        for r in hybrid_search_rrf_ivf(
            spark, d["tables"], model=d["codebook"]
        ).collect()
    ]
    assert got == want
    assert got, "empty workload — parity vacuous"
    qids = {q for q, *_ in got}
    assert 100 not in qids and 0 in qids
    assert not {doc for _, _, doc, *_ in got} & d["dels"]


def test_hybrid_fold_crash_keeps_the_horizon(
    spark, hybrid_lww_dirs, tmp_path, monkeypatch
):
    """A hybrid fold whose vector-store fold fails must not move the
    fold horizon: the ledger folds only after every data store, so the
    tail mask still hides each superseded and tombstoned vector until
    the re-run fold completes. Runs on a copy of the unfolded store."""
    from kafka_flink_slack_pipeline_spark.streaming import store
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        compact_hybrid_store,
    )

    d = hybrid_lww_dirs
    state = str(tmp_path / "state")
    shutil.copytree(d["state"], state)
    assert store._fold_horizon(state) == -1, "fixture already folded"

    def serve():
        return [
            tuple(r)
            for r in hybrid_index_search(spark, state, d["codebook"]).collect()
        ]

    want = serve()
    assert want and not {doc for _, _, doc, *_ in want} & d["dels"]
    fold = store._compact_batch_store

    def crashing(spark, store_dir, *args, **kwargs):
        if store_dir.endswith("/vectors"):
            raise RuntimeError("simulated crash in the vector fold")
        return fold(spark, store_dir, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(store, "_compact_batch_store", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact_hybrid_store(spark, state, upto=2)
    assert store._fold_horizon(state) == -1, "ledger folded before vectors"
    assert os.path.isdir(f"{state}/vectors/batch_id=0"), "vectors folded"
    got = serve()
    assert not {doc for _, _, doc, *_ in got} & d["dels"], (
        "tombstoned doc served after the interrupted fold"
    )
    assert got == want

    compact_hybrid_store(spark, state, upto=2)
    assert store._fold_horizon(state) == 1
    assert serve() == want


def test_hybrid_update_delete_parity_postcompaction(
    spark, hybrid_lww_dirs, tmp_path
):
    """compact_hybrid_store folds all six stores; superseded vectors
    are physically dropped (doc 7 keeps ONE version, in the cid its
    NEW embedding assigns to); serving is unchanged. Folds a copy of
    the fixture's state and checkpoint, so later tests still see the
    unfolded store with its tail."""
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        compact_hybrid_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import _read_store

    d = hybrid_lww_dirs
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    shutil.copytree(d["state"], state)
    shutil.copytree(d["ckpt"], ckpt)
    before = [
        tuple(r)
        for r in hybrid_index_search(spark, state, d["codebook"]).collect()
    ]
    compact_hybrid_store(spark, state, upto=2, checkpoint_dir=ckpt)
    after = [
        tuple(r)
        for r in hybrid_index_search(spark, state, d["codebook"]).collect()
    ]
    assert after == before

    vectors = _read_store(spark, f"{state}/vectors", "hybrid vector store dir")
    doc7 = vectors.filter(F.col("doc_id") == 7).select("ts", "cid").collect()
    assert len(doc7) == 1, "superseded vector not physically dropped"
    assert (
        vectors.filter(
            F.col("doc_id").isin(sorted(d["dels"])[:50])
        ).count()
        == 0
    ), "tombstoned docs' vectors not physically dropped"


def test_hybrid_retrain_under_new_codebook(
    spark, sf_dir, hybrid_lww_dirs, tmp_path
):
    """retrain_hybrid_vector_store re-partitions the WHOLE store under
    a codebook trained elsewhere (here: the half-corpus centroids);
    serving under the new codebook equals the batch op given the same
    model — and the store's layout is entirely the new one. Retrains
    the fixture's unfolded store, tail included."""
    from kafka_flink_slack_pipeline_spark.streaming import store
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        retrain_hybrid_vector_store,
    )

    d = hybrid_lww_dirs
    assert store._fold_horizon(d["state"]) == -1, "fixture already folded"
    half = str(tmp_path / "half")
    os.makedirs(half)
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") % 2 == 0
    ).write.parquet(f"{half}/embeddings.parquet")
    codebook2 = _centroid_model(spark, half)
    assert codebook2 != d["codebook"], "retrain codebook not distinct"

    retrain_hybrid_vector_store(
        spark, d["state"], codebook2, checkpoint_dir=d["ckpt"]
    )
    vectors_dir = f"{d['state']}/vectors"
    n_dirs = len(
        [e for e in os.listdir(vectors_dir) if e.startswith("batch_id=")]
    )
    assert n_dirs == 1, "retrain must leave ONE folded layout"

    got = [
        tuple(r)
        for r in hybrid_index_search(spark, d["state"], codebook2).collect()
    ]
    want = [
        tuple(r)
        for r in hybrid_search_rrf_ivf(
            spark, d["tables"], model=codebook2
        ).collect()
    ]
    assert got == want
    assert got


def test_hybrid_adhoc_query_serving(spark, sf_dir, hybrid_dirs):
    """Ad-hoc (text, vector) queries serve through the same masked
    stores: a query assembled from seed doc 0's slice terms + its own
    embedding reproduces the stored workload's rows for query 0; a
    vector-only query returns dense-only fusions (in_lex == 0) and a
    text-only one lexical-only fusions (in_dense == 0)."""
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        hybrid_index_search_adhoc,
    )

    rows = _drop_rows(spark, sf_dir)
    by_id = {r[0]: r for r in rows}
    toks = [t for t in by_id[0][1].strip().split() if t != ""]
    qtext = " ".join(toks[9:12])  # the _BM25_QSLICE rule, 0-indexed
    qvec = by_id[0][2]

    stored = [
        tuple(r)
        for r in hybrid_index_search(
            spark, hybrid_dirs["state"], hybrid_dirs["codebook"],
            query_ids=[0],
        ).collect()
    ]
    got = [
        tuple(r)
        for r in hybrid_index_search_adhoc(
            spark, hybrid_dirs["state"], hybrid_dirs["codebook"],
            {0: (qtext, qvec)},
        ).collect()
    ]
    assert got == stored
    assert got, "empty fusion — parity vacuous"

    dense_only = hybrid_index_search_adhoc(
        spark, hybrid_dirs["state"], hybrid_dirs["codebook"],
        {7: ("", qvec)},
    ).collect()
    assert dense_only and all(r["in_lex"] == 0 for r in dense_only)

    lex_only = hybrid_index_search_adhoc(
        spark, hybrid_dirs["state"], hybrid_dirs["codebook"],
        {0: (qtext, None)},
    ).collect()
    assert lex_only and all(r["in_dense"] == 0 for r in lex_only)


def test_hybrid_adhoc_job_budget(
    spark, sf_dir, hybrid_lww_dirs, tmp_path, monkeypatch
):
    """An ad-hoc hybrid serve over a folded store with a non-empty tail
    reproduces the stored workload's rows for the same query and stays
    within its Spark job budget: the tail, the corpus statistics and
    the lexical postings are driver reads, and only the lexical
    scoring, the dense probe and the fusion run as Spark jobs. Runs on
    a copy of the shared fixture, folded whatever its state, with one
    more batch landed as the tail."""
    import datetime as dt

    from kafka_flink_slack_pipeline_spark.streaming import (
        retrieval_index as ri,
        store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        HYBRID_DROP_SCHEMA,
        _land_hybrid,
        compact_hybrid_store,
        hybrid_index_search_adhoc,
    )

    d = hybrid_lww_dirs
    state = str(tmp_path / "state")
    shutil.copytree(d["state"], state)
    compact_hybrid_store(spark, state, upto=2)
    vecs = {r[0]: r[2] for r in _drop_rows(spark, sf_dir)}
    t3 = dt.datetime(2025, 3, 1)
    _land_hybrid(
        spark.createDataFrame(
            [
                (11, "eleven rewritten juliett kilo", vecs[11], t3, False),
                (21, None, None, t3, True),
            ],
            HYBRID_DROP_SCHEMA,
        ),
        2,
        state,
        d["codebook"],
    )
    assert store._fold_horizon(state) == 1
    stored = [
        tuple(r)
        for r in hybrid_index_search(
            spark, state, d["codebook"], query_ids=[0]
        ).collect()
    ]
    # a coalesced Spark scan of the postings runs as many jobs here as
    # the driver read, so the budget alone would not see it come back
    monkeypatch.setattr(
        ri,
        "_pruned_postings",
        lambda *a: pytest.fail("lexical postings read by a Spark scan"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("hybrid_adhoc_budget", "hybrid ad-hoc serve job budget")
    try:
        got = [
            tuple(r)
            for r in hybrid_index_search_adhoc(
                spark, state, d["codebook"],
                {0: ("juliett kilo lima", vecs[0])},
            ).collect()
        ]
        jobs = sc.statusTracker().getJobIdsForGroup("hybrid_adhoc_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == stored
    assert got, "empty fusion — parity vacuous"
    # measured 12 at 2, 4 and 8 cores (15 with the lexical postings a
    # Spark scan spread by term, 20 when the tail was also a Spark
    # collect and the statistics a Spark aggregate); a Spark read of
    # the tail or the statistics, or the spread, reintroduced adds jobs
    assert len(jobs) <= 12, f"hybrid ad-hoc serve ran {len(jobs)} Spark jobs"
