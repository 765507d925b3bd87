"""Stream/batch parity for the incremental BM25 postings index.

The contract (streaming/retrieval_index.py): bm25_index_search over
the landed horizon equals bm25_keyword_search over the LWW-CURRENT
corpus (re-ingested versions supersede by ingest_ts, tombstones drop
docs from results AND from df/N/avgdl) EXACTLY — same tokenization,
same integer tf/df/dl, exactly reconstructed N/avgdl, same scoring
expressions — across a checkpoint restart, pre- and post-compaction;
and a bounded query workload reads only its terms' tp partitions from
the postings store.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kafka_flink_slack_pipeline_spark.operators.curation import (
    bm25_keyword_search,
)
from kafka_flink_slack_pipeline_spark.streaming import retrieval_index as ri
from kafka_flink_slack_pipeline_spark.streaming.retrieval_index import (
    INDEX_DROP_SCHEMA,
    _land_text,
    _pruned_postings,
    bm25_index_search,
    bm25_index_search_adhoc,
    bm25_index_stream,
    compact_retrieval_store,
)
from kafka_flink_slack_pipeline_spark.streaming import store
from kafka_flink_slack_pipeline_spark.streaming.store import (
    _DOCMETA_SCHEMA,
    _batch_ids,
    _committed_horizon,
    _fold_horizon,
    _ledger_read,
    _ledger_write,
    _lww_rows,
    _read_store,
    _run_concurrently,
)


def _doc_rows(spark, sf_dir):
    return [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    ]


def _write_drop(path, rows, lo, hi):
    with open(path, "w") as f:
        for i, (doc_id, text) in enumerate(
            sorted(r for r in rows if lo <= r[0] < hi)
        ):
            f.write(
                json.dumps(
                    {
                        "doc_id": doc_id,
                        "text": text,
                        "ingest_ts": f"2025-01-01T00:{i // 60:02d}"
                        f":{i % 60:02d}.000Z",
                    }
                )
                + "\n"
            )


def _batch_rows(spark, rows, tmpdir):
    """bm25_keyword_search over exactly the landed documents: write
    them as a documents.parquet table and run the registered batch op."""
    spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    return bm25_keyword_search(spark, str(tmpdir)).collect()


@pytest.fixture(scope="module")
def index_dirs(tmp_path_factory, spark, sf_dir):
    base = tmp_path_factory.mktemp("bm25index")
    d = {
        "drop": str(base / "drop"),
        "state": str(base / "state"),
        "ckpt": str(base / "ckpt"),
        "docs": str(base / "docs"),
    }
    os.makedirs(d["drop"])
    rows = _doc_rows(spark, sf_dir)

    # two drops across a RESTART: the index must accumulate
    _write_drop(f"{d['drop']}/part1.jsonl", rows, 0, 300)
    bm25_index_stream(spark, d["drop"], d["state"], d["ckpt"])
    _write_drop(f"{d['drop']}/part2.jsonl", rows, 300, 10**9)
    bm25_index_stream(spark, d["drop"], d["state"], d["ckpt"])
    d["rows"] = rows
    return d


def test_index_search_equals_batch_bm25(spark, index_dirs):
    got = [
        tuple(r) for r in bm25_index_search(
            spark, index_dirs["state"]
        ).collect()
    ]
    want = [
        tuple(r)
        for r in _batch_rows(spark, index_dirs["rows"], index_dirs["docs"])
    ]
    assert got == want
    assert got, "empty workload — parity vacuous"


def test_index_search_single_query_serving_path(spark, index_dirs):
    """The serving path: one query's result equals that query's slice
    of the full workload, and its postings scan touches ONLY the query
    terms' tp partitions (directory-level pruning pinned via
    input_file_name)."""
    full = {
        (r["query_id"], r["rank"]): tuple(r)
        for r in bm25_index_search(spark, index_dirs["state"]).collect()
    }
    qid = sorted({q for q, _ in full})[0]
    one = bm25_index_search(
        spark, index_dirs["state"], query_ids=[qid]
    ).collect()
    assert [tuple(r) for r in one] == [
        full[(q, k)] for q, k in sorted(full) if q == qid
    ]

    seeds = spark.read.option(
        "basePath", f"{index_dirs['state']}/seeds"
    ).parquet(f"{index_dirs['state']}/seeds")
    terms = [
        (r["term"], r["tp"])
        for r in seeds.filter(F.col("query_id") == qid)
        .select("term", "tp")
        .distinct()
        .collect()
    ]
    tps = {tp for _, tp in terms}
    pruned = _pruned_postings(
        spark, f"{index_dirs['state']}/postings", terms
    )
    read_files = [
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    ]
    assert read_files
    for f in read_files:
        assert any(f"/tp={tp}/" in f for tp in tps), (
            f"read untouched partition: {f}"
        )
    all_files = [
        r[0]
        for r in spark.read.option(
            "basePath", f"{index_dirs['state']}/postings"
        )
        .parquet(f"{index_dirs['state']}/postings")
        .select(F.input_file_name())
        .distinct()
        .collect()
    ]
    assert len(read_files) < len(all_files)


def test_index_compaction_preserves_search(spark, sf_dir, tmp_path):
    """A 3-batch run with compact_every=1 folds the postings store from
    inside the runner; the folded index serves identical results."""
    rows = _doc_rows(spark, sf_dir)
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
        "docs": str(tmp_path / "docs"),
    }
    os.makedirs(d["drop"])
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 10**9)]):
        path = f"{d['drop']}/part{i}.jsonl"
        _write_drop(path, rows, lo, hi)
        os.utime(path, (1700000000 + i, 1700000000 + i))  # mtime order
    bm25_index_stream(
        spark, d["drop"], d["state"], d["ckpt"],
        max_files_per_trigger=1, compact_every=1,
    )
    postings_dir = f"{d['state']}/postings"
    n_dirs = len(
        [e for e in os.listdir(postings_dir) if e.startswith("batch_id=")]
    )
    assert n_dirs < 3  # folded from inside the runner
    got = [tuple(r) for r in bm25_index_search(spark, d["state"]).collect()]
    want = [tuple(r) for r in _batch_rows(spark, rows, d["docs"])]
    assert got == want


def test_index_store_rejects_remote_uri(spark):
    with pytest.raises(ValueError, match="driver-local"):
        _pruned_postings(spark, "s3://bucket/postings", [("x", 0)])


def test_index_search_refuses_empty_store(spark, tmp_path):
    with pytest.raises(ValueError, match="nothing has landed"):
        _pruned_postings(spark, f"{tmp_path}/postings", [("x", 0)])


def test_index_sidecars_refuse_empty_and_remote(spark, tmp_path):
    """The r10 ADVICE gap: seeds/docmeta reads get the same loud
    guards as postings (a wrong state_dir must not surface a raw
    AnalysisException)."""
    with pytest.raises(ValueError, match="nothing has landed"):
        _read_store(spark, f"{tmp_path}/seeds", "seed sidecar dir")
    with pytest.raises(ValueError, match="driver-local"):
        _read_store(spark, "s3://bucket/docmeta", "docmeta store dir")


def _write_recs(path, recs):
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


# 16+ tokens so the updated seed doc's query slice (tokens 10..12) is
# non-empty and DIFFERS from the original seed terms
_NEW_SEED_TEXT = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
    "kilo lima mike november oscar papa quebec"
)


def _updated_corpus(rows, upd, dels):
    """LWW-current corpus after applying updates/tombstones — the
    batch comparator's ground truth."""
    return [(i, upd.get(i, t)) for i, t in rows if i not in dels]


@pytest.fixture(scope="module")
def lww_dirs(tmp_path_factory, spark, sf_dir):
    """Three-wave store: full corpus, then updates + tombstones across
    a restart, then compaction, then a post-compaction wave (the stats
    snapshot + tail-correction serving path)."""
    base = tmp_path_factory.mktemp("bm25lww")
    d = {
        "drop": str(base / "drop"),
        "state": str(base / "state"),
        "ckpt": str(base / "ckpt"),
        "docs": str(base / "docs"),
    }
    os.makedirs(d["drop"])
    rows = _doc_rows(spark, sf_dir)
    texts = dict(rows)

    # wave 1: the full corpus (January ingest_ts, the legacy helper)
    _write_drop(f"{d['drop']}/w1.jsonl", rows, 0, 10**9)
    bm25_index_stream(spark, d["drop"], d["state"], d["ckpt"])

    # wave 2 (across a RESTART): re-ingest every doc_id%10==7 with new
    # text, re-ingest seed doc 0 with entirely new seed terms, and
    # tombstone every doc_id%10==3 plus seed doc 100
    upd = {
        i: f"{t} revised {t}" for i, t in rows if i % 10 == 7
    }
    upd[0] = _NEW_SEED_TEXT
    dels = {i for i, _ in rows if i % 10 == 3} | {100}
    recs = [
        {
            "doc_id": i,
            "text": txt,
            "ingest_ts": f"2025-02-01T00:00:{k % 60:02d}.{k // 60:03d}Z",
        }
        for k, (i, txt) in enumerate(sorted(upd.items()))
    ] + [
        {
            "doc_id": i,
            "text": None,
            "ingest_ts": f"2025-02-02T00:00:{k % 60:02d}.{k // 60:03d}Z",
            "deleted": True,
        }
        for k, i in enumerate(sorted(dels))
    ]
    _write_recs(f"{d['drop']}/w2.jsonl", recs)
    bm25_index_stream(spark, d["drop"], d["state"], d["ckpt"])
    d["rows"], d["upd"], d["dels"] = rows, upd, dels
    d["texts"] = texts
    return d


def test_index_update_delete_parity_precompaction(spark, lww_dirs):
    got = [
        tuple(r)
        for r in bm25_index_search(spark, lww_dirs["state"]).collect()
    ]
    want = [
        tuple(r)
        for r in _batch_rows(
            spark,
            _updated_corpus(
                lww_dirs["rows"], lww_dirs["upd"], lww_dirs["dels"]
            ),
            lww_dirs["docs"],
        )
    ]
    assert got == want
    assert got, "empty workload — parity vacuous"
    qids = {q for q, *_ in got}
    assert 100 not in qids, "tombstoned seed doc still serves a query"
    assert 0 in qids, "updated seed doc lost its query"
    assert not {doc for _, _, doc, *_ in got} & lww_dirs["dels"], (
        "tombstoned doc appears in results"
    )


def test_index_above_cap_path_serves_identically(
    spark, lww_dirs, tmp_path, monkeypatch
):
    """Every serving branch serves the same rows through both search
    faces, before and after a fold: the driver postings read under
    _POSTINGS_BUDGET, the pruned Spark scan above it (forced with a
    budget of 1), and the distributed tail above _LOOKUP_CAP (tail
    frame recomputed per use, dp-pruned stats correction), which also
    reads the postings through Spark. Runs on a copy, so the shared
    fixture stays as is."""
    state = str(tmp_path / "state")
    shutil.copytree(lww_dirs["state"], state)
    words = lww_dirs["texts"][1].split()
    adhoc = {0: "juliett kilo lima", 1: " ".join(words[:3]), 2: "revised"}
    ran = []
    driver, scan = ri._driver_postings, ri._pruned_postings

    def spy_driver(*args):
        rows = driver(*args)
        ran.append("over budget" if rows is None else "driver read")
        return rows

    def spy_scan(*args):
        ran.append("spark scan")
        return scan(*args)

    monkeypatch.setattr(ri, "_driver_postings", spy_driver)
    monkeypatch.setattr(ri, "_pruned_postings", spy_scan)

    def serve(branch):
        ran.clear()
        got = (
            [tuple(r) for r in bm25_index_search(spark, state).collect()],
            [
                tuple(r)
                for r in bm25_index_search_adhoc(spark, state, adhoc).collect()
            ],
        )
        assert ran == branch * 2, f"ran {ran}, not {branch} per face"
        return got

    for fold in (False, True):
        if fold:  # fold all but the newest batch, which stays the tail
            newest = max(_batch_ids(f"{state}/docmeta"))
            compact_retrieval_store(spark, state, upto=newest)
            assert _fold_horizon(state) >= 0
        want = serve(["driver read"])
        assert want[0] and want[1], "empty workload — comparison vacuous"
        with monkeypatch.context() as m:
            m.setattr(ri, "_POSTINGS_BUDGET", 1)
            assert serve(["over budget", "spark scan"]) == want
        with monkeypatch.context() as m:
            m.setattr(ri, "_LOOKUP_CAP", 1)
            assert ri._serve_tail(spark, state).rows is None, (
                "tail within the patched cap — branch not exercised"
            )
            assert serve(["spark scan"]) == want


def test_index_update_delete_parity_postcompaction(spark, lww_dirs):
    """Compaction physically drops superseded and tombstoned rows;
    serving is unchanged; a post-compaction wave then serves through
    the stats snapshot + tail correction."""
    before = [
        tuple(r)
        for r in bm25_index_search(spark, lww_dirs["state"]).collect()
    ]
    compact_retrieval_store(
        spark, lww_dirs["state"], upto=2, checkpoint_dir=lww_dirs["ckpt"]
    )
    after = [
        tuple(r)
        for r in bm25_index_search(spark, lww_dirs["state"]).collect()
    ]
    assert after == before

    postings = _read_store(
        spark, f"{lww_dirs['state']}/postings", "postings index store dir"
    )
    assert (
        postings.filter(
            F.col("doc_id").isin(sorted(lww_dirs["dels"])[:50])
        ).count()
        == 0
    ), "tombstoned docs' postings not physically dropped"
    assert (
        postings.filter(F.col("doc_id") == 7)
        .select("ts")
        .distinct()
        .count()
        == 1
    ), "superseded version's postings not physically dropped"

    # wave 3 AFTER the fold: another update + tombstone must serve
    # exactly through snapshot-corrected stats and the tail mask
    upd3 = dict(lww_dirs["upd"])
    upd3[11] = "eleven rewritten beyond recognition with many tokens"
    dels3 = set(lww_dirs["dels"]) | {21}
    _write_recs(
        f"{lww_dirs['drop']}/w3.jsonl",
        [
            {
                "doc_id": 11,
                "text": upd3[11],
                "ingest_ts": "2025-03-01T00:00:00.000Z",
            },
            {
                "doc_id": 21,
                "text": None,
                "ingest_ts": "2025-03-01T00:00:01.000Z",
                "deleted": True,
            },
        ],
    )
    bm25_index_stream(
        spark, lww_dirs["drop"], lww_dirs["state"], lww_dirs["ckpt"]
    )
    got = [
        tuple(r)
        for r in bm25_index_search(spark, lww_dirs["state"]).collect()
    ]
    want = [
        tuple(r)
        for r in _batch_rows(
            spark,
            _updated_corpus(lww_dirs["rows"], upd3, dels3),
            lww_dirs["docs"],
        )
    ]
    assert got == want


def test_index_adhoc_query_serving(spark, lww_dirs):
    """Ad-hoc query strings serve through the same masked path: a
    string assembled from the updated seed doc's CURRENT slice terms
    reproduces the stored workload's rows for that query; an unseen
    term returns empty; an empty workload refuses loudly."""
    stored = [
        tuple(r)
        for r in bm25_index_search(
            spark, lww_dirs["state"], query_ids=[0]
        ).collect()
    ]
    assert stored, "seed query 0 missing — fixture drift"
    # _NEW_SEED_TEXT tokens 10..12 (the _BM25_QSLICE rule)
    adhoc = [
        tuple(r)
        for r in bm25_index_search_adhoc(
            spark, lww_dirs["state"], {0: "juliett kilo lima"}
        ).collect()
    ]
    assert adhoc == stored

    assert (
        bm25_index_search_adhoc(
            spark, lww_dirs["state"], {1: "zzzunseenterm"}
        ).collect()
        == []
    )
    with pytest.raises(ValueError, match="no non-empty query terms"):
        bm25_index_search_adhoc(spark, lww_dirs["state"], {2: "   "})

    # the corpus tokenization rule is the JAVA regex \s+ (ASCII-only):
    # a Unicode NBSP is NOT a separator, so it must stay inside one
    # (unseen) token instead of splitting into two matching terms —
    # Python's \s would have split it (ADVICE r11)
    assert (
        bm25_index_search_adhoc(
            spark, lww_dirs["state"], {3: "juliett\u00a0kilo"}
        ).collect()
        == []
    )
    # ...while the ASCII whitespace class separates exactly like the
    # corpus rule does
    adhoc_ws = [
        tuple(r)
        for r in bm25_index_search_adhoc(
            spark, lww_dirs["state"], {0: "juliett\tkilo\nlima"}
        ).collect()
    ]
    assert adhoc_ws == stored


def test_index_out_of_order_version_repaired_at_fold(spark, sf_dir, tmp_path):
    """The ORDERING CONTRACT's documented failure-and-repair path: a
    LATE older version arriving AFTER its successor was folded wins the
    tail mask (the tail knows nothing of the folded v2), so serving
    temporarily reflects v1 — and the NEXT fold's global LWW repairs it
    to v2. Both states pinned against the batch op."""
    rows = _doc_rows(spark, sf_dir)
    texts = dict(rows)
    d = {
        "drop": str(tmp_path / "drop"),
        "state": str(tmp_path / "state"),
        "ckpt": str(tmp_path / "ckpt"),
        "docs": str(tmp_path / "docs"),
    }
    os.makedirs(d["drop"])

    # batch 0: the corpus with doc 7 at version v2 (ts March)
    v2_text = "version two of seven with plenty of distinct tokens here"
    recs = [
        {
            "doc_id": i,
            "text": v2_text if i == 7 else t,
            "ingest_ts": "2025-03-01T00:00:00.000Z"
            if i == 7
            else f"2025-01-01T00:{k // 60:02d}:{k % 60:02d}.000Z",
        }
        for k, (i, t) in enumerate(rows)
    ]
    _write_recs(f"{d['drop']}/w1.jsonl", recs)
    bm25_index_stream(spark, d["drop"], d["state"], d["ckpt"])
    compact_retrieval_store(spark, d["state"], upto=1, checkpoint_dir=d["ckpt"])

    # batch 1: doc 7's OLDER v1 arrives LATE (ts February < March)
    v1_text = "version one of seven straggling in far too late"
    _write_recs(
        f"{d['drop']}/w2.jsonl",
        [
            {
                "doc_id": 7,
                "text": v1_text,
                "ingest_ts": "2025-02-01T00:00:00.000Z",
            }
        ],
    )
    bm25_index_stream(spark, d["drop"], d["state"], d["ckpt"])

    def corpus_with(doc7_text):
        return [(i, doc7_text if i == 7 else texts[i]) for i, _ in rows]

    # DEGRADED (documented): the tail winner is v1, so serving equals
    # the batch op over the v1 corpus — wrong vs LWW, but deterministic
    degraded = [
        tuple(r) for r in bm25_index_search(spark, d["state"]).collect()
    ]
    assert degraded == [
        tuple(r) for r in _batch_rows(spark, corpus_with(v1_text), d["docs"])
    ]

    # REPAIR: the next fold's global LWW reinstates v2 exactly
    compact_retrieval_store(spark, d["state"], upto=2, checkpoint_dir=d["ckpt"])
    repaired = [
        tuple(r) for r in bm25_index_search(spark, d["state"]).collect()
    ]
    assert repaired == [
        tuple(r) for r in _batch_rows(spark, corpus_with(v2_text), d["docs"])
    ]


# tokens a request frame must carry verbatim: SQL quote and escape
# characters, a named-parameter marker, a positional marker, non-ASCII
_ODD_QUERIES = {
    0: "it's back\\slash :p0_0",
    100: "what? naïve 東京",
    200: "''quoted'' \\' ?:p0_0",
}


def _odd_docs() -> list[tuple[int, str]]:
    """Seed docs whose query slice (tokens 10..12) is the odd query,
    and non-seed docs sharing some of its tokens at varied tf/dl."""
    pad = "p1 p2 p3 p4 p5 p6 p7 p8 p9"
    docs = [(q, f"{pad} {text} tail") for q, text in _ODD_QUERIES.items()]
    toks = [t for text in _ODD_QUERIES.values() for t in text.split()]
    for i in range(1, 60):
        picked = [toks[(i * k) % len(toks)] for k in range(1, 1 + i % 4)]
        docs.append((i, " ".join(["filler"] * (i % 5) + picked)))
    return sorted(docs)


def _land_rows(spark, state, batch_id, recs):
    _land_text(spark.createDataFrame(recs, INDEX_DROP_SCHEMA), batch_id, state)


def test_adhoc_request_frame_odd_tokens_and_job_budget(spark, tmp_path):
    """Ad-hoc terms carrying SQL metacharacters and non-ASCII serve
    exactly (equal to the batch op over the LWW-current docs), and an
    ad-hoc serve over a store with a non-empty tail stays within its
    Spark job budget: the tail, the stats and the request frame are
    each computed once."""
    state = str(tmp_path / "state")
    docs = _odd_docs()
    t0 = dt.datetime(2025, 1, 1)
    _land_rows(spark, state, 0, [(i, t, t0, False) for i, t in docs])
    compact_retrieval_store(spark, state, upto=1)
    # the tail: one update (non-seed) and one tombstone
    t1 = dt.datetime(2025, 2, 1)
    current = dict(docs)
    current[7] = "what? what? naïve filler"
    del current[11]
    _land_rows(
        spark,
        state,
        1,
        [(7, current[7], t1, False), (11, None, t1, True)],
    )

    sc = spark.sparkContext
    sc.setJobGroup("adhoc_budget", "adhoc serve job budget")
    try:
        got = [
            tuple(r)
            for r in bm25_index_search_adhoc(
                spark, state, _ODD_QUERIES
            ).collect()
        ]
        jobs = sc.statusTracker().getJobIdsForGroup("adhoc_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    want = [
        tuple(r)
        for r in _batch_rows(
            spark, sorted(current.items()), tmp_path / "docs"
        )
    ]
    assert got == want
    assert {q for q, *_ in got} == set(_ODD_QUERIES)
    # measured 2 at 2, 4 and 8 cores: the scoring query's broadcast of
    # the request frame and its collect, since the tail, the statistics
    # and the postings are driver reads scored on one partition (6 with
    # the postings a Spark scan spread by term, 11 when the tail was
    # also a Spark collect and the statistics a Spark aggregate). A
    # Spark read reintroduced for any of them, a request frame that is
    # an RDD or a global range sort at the end adds a job
    assert len(jobs) <= 2, f"ad-hoc serve ran {len(jobs)} Spark jobs"


def test_run_concurrently_reraises_after_every_write(spark):
    """The store-write helper returns results in thunk order, and a
    failing write is re-raised only once every other write has
    finished, so none outlives the caller's persisted batch."""
    assert _run_concurrently(spark, lambda: 1, lambda: 2) == [1, 2]
    finished = []

    def failing():
        raise RuntimeError("write failed")

    def slow():
        time.sleep(0.5)
        finished.append("slow")

    with pytest.raises(RuntimeError, match="write failed"):
        _run_concurrently(spark, failing, slow)
    assert finished == ["slow"], "helper re-raised before a write finished"


def _quiesce(spark, timeout_s: float = 120.0) -> None:
    """Wait until no stream is active and no Spark job runs, so that a
    job seen in a window that opens next was started inside it."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    while spark.streams.active or tracker.getActiveJobsIds():
        assert time.monotonic() < deadline, "Spark never went idle"
        time.sleep(0.05)


def _ungrouped_jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_land_and_fold_jobs_keep_the_callers_job_group(spark, tmp_path):
    """The concurrent writes of a land and the concurrent folds of a
    compaction run every Spark job in the caller's job group (so a
    StreamingQuery.stop() cancels them and per-op attribution counts
    them); no job starts without a group. The status tracker keeps a
    bounded job history and drops the oldest jobs as new ones finish,
    so a job that started in the window is one whose id was not seen
    before it."""
    state = str(tmp_path / "state")
    docs = _odd_docs()
    t0, t1 = dt.datetime(2025, 1, 1), dt.datetime(2025, 2, 1)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _quiesce(spark)
    ungrouped = _ungrouped_jobs(spark)
    sc.setJobGroup("land_fold", "land and fold job group")
    try:
        _land_rows(spark, state, 0, [(i, t, t0, False) for i, t in docs])
        _land_rows(spark, state, 1, [(7, "what? filler", t1, False)])
        landed = set(tracker.getJobIdsForGroup("land_fold"))
        compact_retrieval_store(spark, state, upto=2)
        grouped = set(tracker.getJobIdsForGroup("land_fold"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _fold_horizon(state) == 1
    assert landed and grouped > landed, "land or fold ran no grouped job"
    assert not _ungrouped_jobs(spark) - ungrouped, (
        "a store write or fold ran a job outside the caller's group"
    )


def _odd_waves() -> list[list[dict]]:
    """Three drops over _odd_docs: the corpus, then an update and a
    tombstone, then another update, a tombstone and a new seed doc."""

    def rec(doc_id, text, day, k, deleted=False):
        return {
            "doc_id": doc_id,
            "text": text,
            "ingest_ts": f"2025-01-{day:02d}T00:00:{k % 60:02d}.000Z",
            "deleted": deleted,
        }

    seed_300 = "p1 p2 p3 p4 p5 p6 p7 p8 p9 naïve filler it's tail"
    return [
        [rec(i, t, 1, k) for k, (i, t) in enumerate(_odd_docs())],
        [rec(7, "what? what? naïve filler", 2, 0), rec(11, None, 2, 1, True)],
        [
            rec(20, "filler filler what?", 3, 0),
            rec(33, None, 3, 1, True),
            rec(300, seed_300, 3, 2),
        ],
    ]


def _stream_wave(spark, base, k, wave, compact_every):
    """Drop wave `k` and run the index stream over it (one batch)."""
    os.makedirs(f"{base}/drop", exist_ok=True)
    _write_recs(f"{base}/drop/w{k}.jsonl", wave)
    bm25_index_stream(
        spark, f"{base}/drop", f"{base}/state", f"{base}/ckpt",
        compact_every=compact_every,
    )


def _served(spark, state):
    return (
        [tuple(r) for r in bm25_index_search(spark, state).collect()],
        [
            tuple(r)
            for r in bm25_index_search_adhoc(
                spark, state, _ODD_QUERIES
            ).collect()
        ],
    )


def test_stream_fold_beside_land_keeps_the_job_group(spark, tmp_path):
    """A stream batch that folds runs the fold beside its land, on
    threads that keep the query's job group: the run starts no job
    without a group."""
    base = str(tmp_path)
    waves = _odd_waves()
    _stream_wave(spark, base, 0, waves[0], compact_every=1)
    _quiesce(spark)
    ungrouped = _ungrouped_jobs(spark)
    _stream_wave(spark, base, 1, waves[1], compact_every=1)
    _quiesce(spark)
    assert _fold_horizon(f"{base}/state") == 0, "batch 1 did not fold"
    assert not _ungrouped_jobs(spark) - ungrouped, (
        "the fold or the land of a stream batch ran a job outside the "
        "query's group"
    )


def test_stream_fold_crash_beside_land_replays_the_batch(
    spark, tmp_path, monkeypatch
):
    """A fold that fails while it runs beside its batch's land fails
    the query and leaves the fold horizon where it was; a restart on the
    same checkpoint replays the batch (fold and land), and the store
    then serves what a run without the crash serves."""
    waves = _odd_waves()
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for k, wave in enumerate(waves):
        _stream_wave(spark, clean, k, wave, compact_every=2)
        if k < 2:
            _stream_wave(spark, crashed, k, wave, compact_every=2)
    assert _fold_horizon(f"{clean}/state") == 1
    fold = store._compact_batch_store

    def crashing(spark, store_dir, *args, **kwargs):
        if store_dir.endswith("/postings"):
            raise RuntimeError("simulated crash in the postings fold")
        return fold(spark, store_dir, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(store, "_compact_batch_store", crashing)
        with pytest.raises(Exception, match="simulated crash"):
            _stream_wave(spark, crashed, 2, waves[2], compact_every=2)
    state = f"{crashed}/state"
    assert _fold_horizon(state) == -1, "the horizon moved on a failed fold"
    assert _committed_horizon(f"{crashed}/ckpt") == 2, "batch 2 committed"

    bm25_index_stream(
        spark, f"{crashed}/drop", state, f"{crashed}/ckpt", compact_every=2
    )
    assert _committed_horizon(f"{crashed}/ckpt") == 3, "batch 2 not replayed"
    assert _fold_horizon(state) == 1
    assert _batch_ids(f"{state}/postings") == [1, 2]
    want = _served(spark, f"{clean}/state")
    assert want[0] and want[1]
    assert _served(spark, state) == want


def test_fold_job_budget(spark, tmp_path, monkeypatch):
    """One fold of a fixed small store stays within its Spark job
    budget, and reads and aggregates the ledger once: the alive mask,
    the stats snapshot and the docmeta fold all derive from that pass."""
    state = str(tmp_path / "state")
    docs = _odd_docs()
    t0, t1 = dt.datetime(2025, 1, 1), dt.datetime(2025, 2, 1)
    _land_rows(spark, state, 0, [(i, t, t0, False) for i, t in docs])
    _land_rows(
        spark, state, 1, [(7, "what? filler", t1, False), (11, None, t1, True)]
    )
    lww_calls = []
    lww = store._lww
    monkeypatch.setattr(
        store, "_lww", lambda dm: lww_calls.append(1) or lww(dm)
    )
    sc = spark.sparkContext
    sc.setJobGroup("fold_budget", "fold job budget")
    try:
        compact_retrieval_store(spark, state, upto=2)
        jobs = sc.statusTracker().getJobIdsForGroup("fold_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _fold_horizon(state) == 1
    assert len(lww_calls) == 1, (
        f"the fold aggregated the ledger {len(lww_calls)} times"
    )
    # measured 12 at 2, 4 and 8 cores: each of the two concurrent
    # data-store folds materialises the persisted winners, masks by a
    # broadcast and writes; the snapshot and the docmeta fold read the
    # persisted winners. A per-store ledger aggregation runs 13 at 2
    # cores (12 at 4 and 8, where only the aggregation count above
    # separates it).
    assert len(jobs) <= 12, f"one fold ran {len(jobs)} Spark jobs"


def test_land_computes_the_persisted_batch_once(spark, tmp_path):
    """The three concurrent writers of a land read the persisted
    micro-batch, not its source: every source row is computed exactly
    once (a counting UDF in the batch's lineage), as the stream runs
    it (persist, land, unpersist). The landed postings are term-sorted
    within each tp file, the order the term IN predicate's row-group
    skipping relies on."""
    import glob

    import pyarrow.parquet as pq

    seen = spark.sparkContext.accumulator(0)

    def count(doc_id):
        seen.add(1)
        return doc_id

    recs = [(i, t, dt.datetime(2025, 1, 1), False) for i, t in _odd_docs()]
    batch = (
        spark.createDataFrame(recs, INDEX_DROP_SCHEMA)
        .withColumn("doc_id", F.udf(count, "bigint")("doc_id"))
        .persist()
    )
    try:
        _land_text(batch, 0, str(tmp_path / "state"))
    finally:
        batch.unpersist()
    assert seen.value == len(recs), (
        f"{seen.value} source rows computed for a {len(recs)}-row batch"
    )
    docmeta = _read_store(
        spark, str(tmp_path / "state/docmeta"), "docmeta", _DOCMETA_SCHEMA
    )
    assert docmeta.count() == len(recs)
    files = glob.glob(f"{tmp_path}/state/postings/batch_id=0/tp=*/*.parquet")
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f"{f}: terms out of order {terms}"


def test_folded_postings_keep_term_order(spark, tmp_path):
    """A fold writes each tp file of the postings store term-sorted, as
    the land does, so row-group skipping by term (the Spark scan's IN
    predicate and the driver read's footer budget) works on the folded
    base too."""
    import glob

    import pyarrow.parquet as pq

    state = str(tmp_path / "state")
    _tail_store(spark, state)
    compact_retrieval_store(spark, state, upto=3)
    assert _batch_ids(f"{state}/postings") == [2]
    files = glob.glob(f"{state}/postings/batch_id=2/tp=*/*.parquet")
    distinct = 0
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f"{f}: terms out of order {terms}"
        distinct = max(distinct, len(set(terms)))
    assert distinct > 2, "no folded file holds enough terms to show an order"


def test_driver_visibility_matches_spark_mask(spark):
    """The driver mask (_visible_rows) keeps the same rows as Spark's
    _mask_visible against the same tail winners: a doc absent from the
    tail, a superseded version, a tombstone winner, an exact-ts tie
    (resolved delete-over-update by the LWW), null dl, a null ts on
    either side."""
    import pyarrow as pa

    t1, t2 = 1_000_000, 2_000_000
    ledger = [
        # doc 1 is absent from the tail
        {"doc_id": 2, "ts_us": t1, "deleted": False, "dl": 3},
        {"doc_id": 2, "ts_us": t2, "deleted": False, "dl": 4},  # winner
        {"doc_id": 3, "ts_us": t2, "deleted": True, "dl": None},  # tombstone
        {"doc_id": 4, "ts_us": t1, "deleted": False, "dl": 2},  # exact-ts
        {"doc_id": 4, "ts_us": t1, "deleted": True, "dl": None},  # tie
        {"doc_id": 5, "ts_us": t2, "deleted": False, "dl": None},  # null dl
        {"doc_id": 6, "ts_us": None, "deleted": False, "dl": 1},  # null ts
    ]
    tail = _lww_rows(ledger)
    assert {r["doc_id"]: r["deleted"] for r in tail}[4] is True
    rows = [
        (1, t1, 5, "a"),
        (1, None, 5, "b"),
        (2, t1, 3, "a"),  # superseded
        (2, t2, 4, "a"),
        (2, None, 4, "b"),
        (3, t1, 2, "a"),
        (3, t2, 2, "b"),
        (4, t1, 2, "a"),
        (5, t2, None, "a"),
        (5, t1, None, "b"),
        (6, t1, 1, "a"),
        (7, t2, None, "c"),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts_us": pa.array([r[1] for r in rows], pa.int64()),
            "dl": pa.array([r[2] for r in rows], pa.int64()),
            "term": pa.array([r[3] for r in rows], pa.string()),
        }
    )
    got = Counter(
        tuple(r.values()) for r in store._visible_rows(table, tail).to_pylist()
    )

    def frame(t):
        return spark.createDataFrame(t).withColumn(
            "ts", F.timestamp_micros("ts_us")
        )

    tail_frame = frame(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in tail], pa.int64()),
                "ts_us": pa.array([r["ts_us"] for r in tail], pa.int64()),
                "deleted": pa.array([r["deleted"] for r in tail]),
            }
        )
    )
    want = Counter(
        tuple(r)
        for r in store._mask_visible(frame(table), tail_frame)
        .select("doc_id", "ts_us", "dl", "term")
        .collect()
    )
    assert got == want
    assert want == Counter(
        [
            (1, t1, 5, "a"),
            (1, None, 5, "b"),
            (2, t2, 4, "a"),
            (5, t2, None, "a"),
            (6, t1, 1, "a"),
            (7, t2, None, "c"),
        ]
    )


def test_driver_postings_read_equals_the_spark_scan(spark, tmp_path):
    """On a store that holds a folded batch beside a landed one, the
    driver postings read equals the masked Spark scan of the same
    terms. A fold's files declare term and tf not null and a land's do
    not; the read casts each file to the declared types, so the two
    concatenate."""
    import glob

    import pyarrow.parquet as pq

    state = str(tmp_path / "state")
    _tail_store(spark, state)
    compact_retrieval_store(spark, state, upto=2)
    nullable = {
        pq.read_schema(f).field("term").nullable
        for f in glob.glob(f"{state}/postings/*/tp=*/*.parquet")
    }
    assert nullable == {False, True}, "store does not mix the two schemas"
    words = sorted({t for q in _ODD_QUERIES.values() for t in q.split()})
    terms = [
        (r["term"], r["tp"])
        for r in spark.createDataFrame([(w,) for w in words], "term string")
        .select("term", store._tp_col().alias("tp"))
        .collect()
    ]
    tail = ri._serve_tail(spark, state)
    assert tail.rows, "empty tail — mask not exercised"
    got = ri._driver_postings(f"{state}/postings", terms, tail.rows)
    assert got is not None
    want = Counter(
        tuple(r)
        for r in store._mask_visible(
            ri._pruned_postings(spark, f"{state}/postings", terms), tail.frame
        )
        .select("term", "doc_id", "tf", "dl", F.unix_micros("ts"))
        .collect()
    )
    assert Counter(tuple(r.values()) for r in got.to_pylist()) == want
    assert want


def test_driver_lww_matches_spark_lww(spark, tmp_path):
    """The driver ledger read and LWW (_ledger_read, _lww_rows) equal
    Spark's _lww over the same landed ledger on adversarial versions,
    ts to the microsecond, and so do the live-stats contributions."""
    t = dt.datetime(2025, 1, 1, 0, 0, 0, 1)
    us = dt.timedelta(microseconds=1)
    epoch_minus_1us = dt.datetime(1969, 12, 31, 23, 59, 59, 999999)
    batches = [
        [
            (1, t, False, 5),  # exact-ts tie: the delete wins
            (2, t, False, 3),
            (3, t, False, None),  # null text: in N, not in avgdl
            (4, t, False, 2),
            (5, t, False, 1),
            (6, t, False, 3),  # exact-ts tie between live versions
            (7, None, False, 9),  # null ts sorts lowest
            (8, epoch_minus_1us, False, 4),
        ],
        [
            (1, t, True, None),
            (2, t + us, True, None),  # tombstone with null dl
            (4, t + us, True, None),
            (5, t + us, False, 2),  # versions 1 us apart
            (6, t, False, None),
            (7, t, False, 4),
            (8, epoch_minus_1us + us, False, 6),
        ],
        [(4, t + 2 * us, False, 7)],  # re-ingest after the tombstone
    ]
    state = str(tmp_path / "state")
    for i, rows in enumerate(batches):
        _ledger_write(
            spark.createDataFrame(
                rows, "doc_id bigint, ts timestamp, deleted boolean, dl bigint"
            ),
            state,
            i,
        )()
    dm = _read_store(spark, f"{state}/docmeta", "docmeta", _DOCMETA_SCHEMA)

    def driver_bag(rows):
        return Counter(
            tuple(r[k] for k in ("doc_id", "ts_us", "deleted", "dl"))
            for r in rows
        )

    def spark_bag(frame):
        return Counter(
            tuple(r)
            for r in frame.select(
                "doc_id", F.unix_micros("ts"), "deleted", "dl"
            ).collect()
        )

    versions = _ledger_read(state, lambda i: True)
    assert len(versions) == sum(map(len, batches))
    assert driver_bag(versions) == spark_bag(dm), (
        "driver ledger read differs from Spark's"
    )
    driver = _lww_rows(versions)
    spark_lww = store._lww(dm)
    assert driver_bag(driver) == spark_bag(spark_lww)
    won = {r["doc_id"]: (r["deleted"], r["dl"]) for r in driver}
    assert won[1] == (True, None) and won[4] == (False, 7)
    assert won[6] == (False, 3) and won[7] == (False, 4)
    contrib = ri._contrib(spark_lww, 1).agg(
        *[F.sum(c).alias(c) for c in ri._TRIPLET]
    ).collect()[0]
    assert ri._triplet(driver) == tuple(contrib) == (6, 5, 22)


def _tail_store(spark, state):
    """A folded corpus (batch 0) beside a two-batch tail: batch 1
    updates doc 7 and tombstones doc 11, batch 2 updates docs 7 and
    20 (folded only in batch 0) and tombstones doc 33. Returns the
    LWW-current docs."""
    docs = _odd_docs()
    _land_rows(
        spark, state, 0,
        [(i, t, dt.datetime(2025, 1, 1), False) for i, t in docs],
    )
    t1, t2 = dt.datetime(2025, 2, 1), dt.datetime(2025, 3, 1)
    current = dict(docs)
    current[7] = "what? what? naïve filler"
    del current[11]
    _land_rows(
        spark, state, 1, [(7, current[7], t1, False), (11, None, t1, True)]
    )
    current[7], current[20] = "filler it's tail", "filler filler what?"
    del current[33]
    _land_rows(
        spark,
        state,
        2,
        [
            (7, current[7], t2, False),
            (20, current[20], t2, False),
            (33, None, t2, True),
        ],
    )
    return current


def test_serve_in_the_crash_window_before_the_docmeta_fold(
    spark, tmp_path, monkeypatch
):
    """A fold that wrote the stats snapshot at S and crashed before the
    docmeta fold leaves docmeta batches <= S unfolded. The seed and
    ad-hoc serves must still equal those of the fully folded store: the
    fold-side lookup of the tail's docs reads every docmeta batch <= S,
    not only batch_id=S."""
    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    current = _tail_store(spark, clean)
    shutil.copytree(clean, crashed)
    compact_retrieval_store(spark, clean, upto=2)
    fold = store._compact_batch_store

    def crashing(spark, store_dir, *args, **kwargs):
        if store_dir.endswith("/docmeta"):
            raise RuntimeError("simulated crash in the docmeta fold")
        return fold(spark, store_dir, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(store, "_compact_batch_store", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact_retrieval_store(spark, crashed, upto=2)
    assert _fold_horizon(crashed) == _fold_horizon(clean) == 1
    assert _batch_ids(f"{crashed}/docmeta") == [0, 1, 2]
    assert _batch_ids(f"{clean}/docmeta") == [1, 2]
    want = _served(spark, clean)
    assert want[0] and want[1], "empty workload — comparison vacuous"
    assert want[1] == [
        tuple(r)
        for r in _batch_rows(spark, sorted(current.items()), tmp_path / "d")
    ]
    assert _served(spark, crashed) == want


def test_serve_tail_and_stats_run_no_spark_job_below_the_cap(
    spark, tmp_path, monkeypatch
):
    """Below _LOOKUP_CAP the tail winners, the snapshot totals and the
    fold-side correction are read on the driver: no Spark job. They
    equal what the distributed path above the cap computes."""
    state = str(tmp_path / "state")
    _tail_store(spark, state)
    compact_retrieval_store(spark, state, upto=2)
    sc = spark.sparkContext
    _quiesce(spark)
    ungrouped = _ungrouped_jobs(spark)
    sc.setJobGroup("driver_tail", "driver tail and stats")
    try:
        tail = ri._serve_tail(spark, state)
        stats = ri._live_stats(state, tail)
        jobs = sc.statusTracker().getJobIdsForGroup("driver_tail")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tail.rows is not None and tail.fold_id == 1
    assert {r["doc_id"] for r in tail.rows} == {7, 20, 33}
    assert not jobs and not _ungrouped_jobs(spark) - ungrouped, (
        f"the below-cap tail and stats ran Spark jobs {jobs}"
    )
    with monkeypatch.context() as m:
        m.setattr(ri, "_LOOKUP_CAP", 1)
        above = ri._serve_tail(spark, state)
        assert above.rows is None
        assert ri._live_stats(state, above) == stats
        assert sorted(
            tuple(r) for r in above.frame.collect()
        ) == sorted(tuple(r) for r in tail.frame.collect())


def test_ledger_point_lookup_reads_only_covering_row_groups(
    tmp_path, monkeypatch
):
    """The driver point lookup opens only the requested docs' dp
    directories and reads only the row groups whose doc_id min/max
    covers a requested doc; with a cap, the parquet footers decide
    before any row is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = tmp_path / "state"
    part = state / "docmeta" / "batch_id=0" / "dp=3"
    part.mkdir(parents=True)
    ids = list(range(12))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ids, pa.timestamp("us")),
                "deleted": pa.array([i % 5 == 0 for i in ids]),
                "dl": pa.array([i or None for i in ids], pa.int64()),
            }
        ),
        part / "part-0.parquet",
        row_group_size=2,
    )
    # another dp's directory holds a file that is not parquet: opening
    # it would fail the read
    junk = state / "docmeta" / "batch_id=0" / "dp=4" / "part-0.parquet"
    junk.parent.mkdir()
    junk.write_text("not parquet")
    read = []
    covering = store._covering

    def recording(*args):
        groups = covering(*args)
        read.extend(groups)
        return groups

    monkeypatch.setattr(store, "_covering", recording)
    got = _ledger_read(
        str(state),
        lambda i: True,
        docs=[{"doc_id": 5, "dp": 3}, {"doc_id": 9, "dp": 3}],
    )
    assert sorted(read) == [2, 4], "read row groups that cover no doc"
    assert sorted((r["doc_id"], r["ts_us"], r["dl"]) for r in got) == [
        (5, 5, 5),
        (9, 9, 9),
    ]
    assert all(r["dp"] == 3 for r in got)

    for reader in ("read", "read_row_groups"):
        monkeypatch.setattr(
            pq.ParquetFile, reader, lambda *a, **k: pytest.fail("rows read")
        )
    junk.unlink()
    assert _ledger_read(str(state), lambda i: True, cap=11) is None


def test_postings_driver_read_reads_only_covering_row_groups(
    tmp_path, monkeypatch
):
    """The driver postings read opens only the query terms' tp
    directories and, in them, reads only the row groups whose term
    min/max covers a query term (a term equal to a group's max
    included) and every row group without statistics; over
    _POSTINGS_BUDGET the footers decide before any row is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    postings = tmp_path / "postings"
    part = postings / "batch_id=0" / "tp=3"
    part.mkdir(parents=True)
    terms = ["a", "b", "c", "d", "e", "f", "g", "h"]

    def write(name, words, **kw):
        pq.write_table(
            pa.table(
                {
                    "term": pa.array(words),
                    "doc_id": pa.array(range(len(words)), pa.int64()),
                    "tf": pa.array([1] * len(words), pa.int64()),
                    "dl": pa.array([2] * len(words), pa.int64()),
                    "ts": pa.array(range(len(words)), pa.timestamp("us")),
                }
            ),
            part / name,
            row_group_size=2,
            **kw,
        )

    write("part-0.parquet", terms)
    write("part-1.parquet", ["b", "x"], write_statistics=False)
    # a tp directory no query term hashes to holds a file that is not
    # parquet: opening it would fail the read
    junk = postings / "batch_id=0" / "tp=4" / "part-0.parquet"
    junk.parent.mkdir()
    junk.write_text("not parquet")
    read = []
    covering = store._covering

    def recording(meta, *args):
        groups = covering(meta, *args)
        read.append((meta.num_rows, groups))
        return groups

    monkeypatch.setattr(store, "_covering", recording)
    query = [("b", 3), ("cc", 3), ("f", 3)]
    got = ri._driver_postings(str(postings), query, [])
    assert sorted(read) == [(2, [0]), (8, [0, 1, 2])], (
        "read row groups that cover no query term"
    )
    assert sorted(
        (r["term"], r["doc_id"], r["ts_us"]) for r in got.to_pylist()
    ) == [("b", 0, 0), ("b", 1, 1), ("f", 5, 5)]

    for reader in ("read", "read_row_groups"):
        monkeypatch.setattr(
            pq.ParquetFile, reader, lambda *a, **k: pytest.fail("rows read")
        )
    monkeypatch.setattr(ri, "_POSTINGS_BUDGET", 7)
    assert ri._driver_postings(str(postings), query, []) is None
