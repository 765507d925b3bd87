"""Cross-store version propagation (streaming/cross_store.py): one
logical delete/update lands in ALL FIVE incremental stores through one
call, each via its existing ledger kernel, and the consistency
certificate proves the stores agree — the r12 verdict's top item.
"""

from __future__ import annotations

import base64
import os

import pytest
from pyspark.sql import functions as F

from kafka_flink_slack_pipeline_spark.streaming.cross_store import (
    assert_cross_store_consistent,
    cross_store_doc_state,
    propagate_doc_versions,
)


def _texts():
    stops = "the a of is and"
    w = stops + " " + " ".join(f"wtok{i:02d}" for i in range(50))
    x = stops + " " + " ".join(f"u1tok{i:02d}" for i in range(50))
    z = stops + " " + " ".join(f"ztok{i:02d}" for i in range(50))
    return w + " tailw", x + " tailx", z + " tailz", w + " tailprobe", z + " tailprobe"


def _v_text():
    stops = "the a of is and"
    return (
        stops + " " + " ".join(f"vtok{i:02d}" for i in range(50)) + " tailv"
    )


def _p5():
    return bytes((i * 31 + 11) % 256 for i in range(2048))


def _emb_of(spark, sf_dir, vec_id):
    r = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(f"vec_id = {vec_id}")
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in r["embedding"]]


@pytest.fixture(scope="module")
def xs(spark, sf_dir, tmp_path_factory):
    """The five-store fixture: dirs, models, bench frames, payloads."""
    from kafka_flink_slack_pipeline_spark.operators.curation import (
        fuzzy_bench_frames,
    )
    from kafka_flink_slack_pipeline_spark.operators.similarity import (
        _centroid_model,
    )
    from kafka_flink_slack_pipeline_spark.operators.textops import tokens_col

    base = tmp_path_factory.mktemp("xstore")
    stores = {}
    for kind in ("funnel", "bm25", "hybrid", "semantic", "media"):
        stores[kind] = {
            "drop_dir": str(base / kind / "drop"),
            "state_dir": str(base / kind / "state"),
            "checkpoint_dir": str(base / kind / "ckpt"),
        }
    model = _centroid_model(spark, sf_dir)
    stores["hybrid"]["codebook"] = model
    stores["semantic"]["model"] = model
    w_text, x_text, z_text, _, _ = _texts()
    toked = spark.createDataFrame(
        [(10, w_text), (30, x_text), (11, z_text)],
        "doc_id bigint, text string",
    ).select("doc_id", tokens_col().alias("toks"))
    bench_sh, bench_sizes = fuzzy_bench_frames(toked)
    stores["funnel"].update(
        {
            "out_dir": str(base / "funnel" / "out"),
            "bench_sh": bench_sh,
            "bench_sizes": bench_sizes,
            "ttl": "2 hours",
        }
    )
    return {
        "stores": stores,
        "model": model,
        "p1": bytes((i * 7) % 256 for i in range(2048)),
        "p3": bytes((i * 13 + 5) % 256 for i in range(2048)),
        "emb10": _emb_of(spark, sf_dir, 10),
        "emb30": _emb_of(spark, sf_dir, 30),
        "emb40": _emb_of(spark, sf_dir, 40),
    }


def _faces(spark, xs):
    """One liveness answer per store FACE for the logical doc 10 under
    its current facets — each face is the store's own non-ingesting
    probe/serve path."""
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        funnel_neardup_probe_adhoc,
    )
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        hybrid_index_search_adhoc,
    )
    from kafka_flink_slack_pipeline_spark.streaming.media_dedup import (
        media_dedup_probe_adhoc,
    )
    from kafka_flink_slack_pipeline_spark.streaming.retrieval_index import (
        bm25_index_search_adhoc,
    )
    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        semantic_dedup_probe_adhoc,
    )

    st = xs["stores"]
    _, _, _, w_probe, z_probe = _texts()
    fun = {
        r["probe_id"]: r["is_dup"]
        for r in funnel_neardup_probe_adhoc(
            spark, st["funnel"]["state_dir"], {1: w_probe, 2: z_probe}
        ).collect()
    }
    bm_w = {
        r["doc_id"]
        for r in bm25_index_search_adhoc(
            spark, st["bm25"]["state_dir"], {1: "wtok07", 2: "ztok07"}
        ).collect()
    }
    hy = {
        r["doc_id"]
        for r in hybrid_index_search_adhoc(
            spark,
            st["hybrid"]["state_dir"],
            st["hybrid"]["codebook"],
            {1: ("wtok07 ztok07", xs["emb10"])},
        ).collect()
    }
    sem = {
        r["probe_id"]: r["keep"]
        for r in semantic_dedup_probe_adhoc(
            spark,
            st["semantic"]["state_dir"],
            xs["model"],
            {1: xs["emb10"], 2: xs["emb40"]},
        ).collect()
    }
    med = {
        r["probe_id"]: r["keep"]
        for r in media_dedup_probe_adhoc(
            spark,
            st["media"]["state_dir"],
            {1: (xs["p1"], "image/png"), 2: (xs["p3"], "image/png")},
        ).collect()
    }
    return fun, bm_w, hy, sem, med


def _fold_all(spark, st):
    """Fold every configured store to its committed horizon (physical
    LWW drops through each store's own crash-staged compaction)."""
    from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (
        compact_sig_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        compact_hybrid_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.media_dedup import (
        compact_media_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.retrieval_index import (
        compact_retrieval_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (
        compact_semantic_store,
    )
    from kafka_flink_slack_pipeline_spark.streaming.store import (
        _committed_horizon,
    )

    compact_sig_store(
        spark,
        st["funnel"]["state_dir"],
        upto=_committed_horizon(st["funnel"]["checkpoint_dir"]),
        checkpoint_dir=st["funnel"]["checkpoint_dir"],
        ledger_checkpoint_dir=st["funnel"]["checkpoint_dir"] + "_ledger",
        out_dir=st["funnel"]["out_dir"],
    )
    compact_retrieval_store(
        spark,
        st["bm25"]["state_dir"],
        upto=_committed_horizon(st["bm25"]["checkpoint_dir"]),
        checkpoint_dir=st["bm25"]["checkpoint_dir"],
    )
    compact_hybrid_store(
        spark,
        st["hybrid"]["state_dir"],
        upto=_committed_horizon(st["hybrid"]["checkpoint_dir"]),
        checkpoint_dir=st["hybrid"]["checkpoint_dir"],
    )
    compact_semantic_store(
        spark,
        st["semantic"]["state_dir"],
        upto=_committed_horizon(st["semantic"]["checkpoint_dir"]),
        checkpoint_dir=st["semantic"]["checkpoint_dir"],
    )
    compact_media_store(
        spark,
        st["media"]["state_dir"],
        upto=_committed_horizon(st["media"]["checkpoint_dir"]),
        checkpoint_dir=st["media"]["checkpoint_dir"],
    )


@pytest.mark.slow
def test_cross_store_tombstone_and_update_propagation(spark, sf_dir, xs):
    """The centerpiece: land one logical doc (text + vector + media
    facets) into all five stores in ONE propagate call; tombstone it
    ONCE; every store's probe/serve face agrees it is gone and the
    consistency certificate is green. Revive it with NEW facets
    (passing every store's ordering contract and the funnel's dedup
    state); every face serves the new facets. Fold EVERY store
    (physical drops); every answer and the certificate survive the
    folds. Reference anchor: current-state re-read per lookup,
    slackEventServer.js:187-202."""
    st = xs["stores"]
    w_text, x_text, z_text, _, _ = _texts()

    # wave 1: doc 10 with ALL facets; doc 30 text+vector only
    wave1 = [
        {
            "doc_id": 10,
            "ingest_ts": "2025-01-01T00:00:00.000Z",
            "text": w_text,
            "lang": "en",
            "source": "s0",
            "embedding": xs["emb10"],
            "payload_b64": base64.b64encode(xs["p1"]).decode(),
            "mimetype": "image/png",
        },
        {
            "doc_id": 30,
            "ingest_ts": "2025-01-01T00:00:01.000Z",
            "text": x_text,
            "lang": "en",
            "source": "s0",
            "embedding": xs["emb30"],
        },
    ]
    written = propagate_doc_versions(spark, wave1, st)
    assert all(written[k] for k in ("funnel", "bm25", "hybrid", "semantic"))
    assert written["media"]  # doc 10 carries the payload facet

    fun, bm, hy, sem, med = _faces(spark, xs)
    assert fun[1] is True, "funnel: near-twin of landed W must be a dup"
    assert 10 in bm, "bm25: W's term must hit doc 10"
    assert 10 in hy, "hybrid: fused search must surface doc 10"
    assert sem[1] is False, "semantic: W's own vector must be a dup"
    assert med[1] is False, "media: W's own payload must be a dup"
    state = assert_cross_store_consistent(spark, [10, 30], xs["stores"])
    known10 = {r["store"] for r in state.collect()
               if r["doc_id"] == 10 and r["known"]}
    assert known10 == {"funnel", "bm25", "hybrid", "semantic", "media"}
    assert all(r["live"] for r in state.collect()
               if r["doc_id"] == 10 and r["known"])

    # ONE tombstone — the "forget doc 10" request — fans out everywhere
    tomb = [
        {
            "doc_id": 10,
            "ingest_ts": "2025-02-01T00:00:00.000Z",
            "deleted": True,
        }
    ]
    written2 = propagate_doc_versions(spark, tomb, st)
    assert all(written2[k] for k in written2), "tombstones route to EVERY store"

    fun, bm, hy, sem, med = _faces(spark, xs)
    assert fun[1] is False, "funnel: tombstoned witness still suppresses"
    assert 10 not in bm, "bm25: tombstoned doc still served"
    assert 10 not in hy, "hybrid: tombstoned doc still served"
    assert sem[1] is True, "semantic: tombstoned reference still suppresses"
    assert med[1] is True, "media: tombstoned reference still suppresses"
    state = assert_cross_store_consistent(spark, [10, 30], xs["stores"])
    assert not any(r["live"] for r in state.collect() if r["doc_id"] == 10)

    # revival with NEW facets (new content passes the funnel's TTL'd
    # exact-dedup state — the divergence-note-2 discipline)
    wave3 = [
        {
            "doc_id": 10,
            "ingest_ts": "2025-03-01T00:00:00.000Z",
            "text": z_text,
            "lang": "en",
            "source": "s0",
            "embedding": xs["emb40"],
            "payload_b64": base64.b64encode(xs["p3"]).decode(),
            "mimetype": "image/png",
        }
    ]
    propagate_doc_versions(spark, wave3, st)

    def assert_revived():
        fun, bm, hy, sem, med = _faces(spark, xs)
        assert fun == {1: False, 2: True}, "only the NEW text witnesses"
        assert 10 in bm, "bm25: revived doc must serve its new term"
        assert 10 in hy
        assert sem == {1: True, 2: False}, "only the NEW vector is a dup"
        assert med == {1: True, 2: False}, "only the NEW payload is a dup"
        assert_cross_store_consistent(spark, [10, 30], xs["stores"])

    assert_revived()

    # fold EVERY store (physical LWW drops) and re-assert everything;
    # each store's docmeta folds to ONE winner row for doc 10
    _fold_all(spark, st)
    for kind in xs["stores"]:
        n = (
            spark.read.option(
                "basePath", f"{st[kind]['state_dir']}/docmeta"
            )
            .parquet(f"{st[kind]['state_dir']}/docmeta")
            .filter("doc_id = 10")
            .count()
        )
        assert n == 1, f"{kind}: doc 10's superseded versions not folded"
    assert_revived()


@pytest.mark.slow
def test_cross_store_layout_drift_is_loud(spark, xs, monkeypatch):
    """Every store persists the layout moduli its ledger was landed
    with: read after a wave has landed all five stores, under another
    doc-prefix modulus, each store's doc state raises the named layout
    error instead of pruning to the wrong dp partitions (which reads a
    landed doc as unknown)."""
    from kafka_flink_slack_pipeline_spark.streaming import store

    st = xs["stores"]
    landed = [os.path.isdir(f"{c['state_dir']}/docmeta") for c in st.values()]
    if not all(landed):
        propagate_doc_versions(
            spark,
            [
                {
                    "doc_id": 10,
                    "ingest_ts": "2025-01-01T00:00:00.000Z",
                    "text": _texts()[0],
                    "lang": "en",
                    "source": "s0",
                    "embedding": xs["emb10"],
                    "payload_b64": base64.b64encode(xs["p1"]).decode(),
                    "mimetype": "image/png",
                }
            ],
            st,
        )
    known = {
        r["store"] for r in cross_store_doc_state(spark, [10], st).collect()
        if r["known"]
    }
    assert known == set(st), "a store never landed doc 10: test vacuous"
    monkeypatch.setattr(store, "_DOC_PREFIXES", store._DOC_PREFIXES * 2)
    for kind in sorted(st):
        with pytest.raises(ValueError, match="store layout mismatch"):
            cross_store_doc_state(spark, [10], {kind: st[kind]})


@pytest.mark.slow
def test_cross_store_divergence_is_loud(spark, sf_dir, xs):
    """A delete wave that reaches only SOME stores (the exact failure
    mode the propagator exists to prevent) turns the certificate RED,
    naming the doc and the per-store verdicts; propagating to the
    left-behind store repairs it. Runs after the centerpiece
    (module-scoped stores: doc 30 is live in funnel/bm25/hybrid/
    semantic and unknown to media — unknown stores never vote)."""
    st = xs["stores"]
    partial = {k: st[k] for k in ("funnel", "bm25", "hybrid")}
    tomb = [
        {
            "doc_id": 30,
            "ingest_ts": "2025-04-01T00:00:00.000Z",
            "deleted": True,
        }
    ]
    propagate_doc_versions(spark, tomb, partial)
    with pytest.raises(ValueError, match="liveness disagreement.*30"):
        assert_cross_store_consistent(spark, [10, 30], xs["stores"])
    # repair: land the SAME wave in the left-behind store
    propagate_doc_versions(spark, tomb, {"semantic": st["semantic"]})
    state = assert_cross_store_consistent(spark, [10, 30], xs["stores"])
    rows = state.collect()
    assert not any(r["live"] for r in rows if r["doc_id"] == 30)
    assert not any(
        r["known"] for r in rows
        if r["doc_id"] == 30 and r["store"] == "media"
    ), "media never saw doc 30 — unknown stores must not vote"


@pytest.mark.slow
def test_cross_store_face_audit(spark, sf_dir, xs):
    """The FACE-level audit a forget request runs after propagation
    (runs after the centerpiece + divergence tests; module state:
    doc 10 live with the z/emb40/p3 facets, doc 30 tombstoned in every
    store that knew it): every serving/probe face reports the live
    doc's content discoverable and the forgotten doc's content gone;
    an empty facet set and unknown stores refuse loudly."""
    from kafka_flink_slack_pipeline_spark.streaming.cross_store import (
        cross_store_face_audit,
    )

    _, x_text, z_text, _, _ = _texts()
    live = cross_store_face_audit(
        spark,
        10,
        {
            "text": z_text,
            "embedding": xs["emb40"],
            "payload": xs["p3"],
            "mimetype": "image/png",
        },
        xs["stores"],
    )
    assert live == {
        "funnel": True,
        "bm25": True,
        "hybrid": True,
        "semantic": True,
        "media": True,
    }, "every face must serve the live doc's facets"
    gone = cross_store_face_audit(
        spark,
        30,
        {"text": x_text, "embedding": xs["emb30"]},
        xs["stores"],
    )
    assert gone == {
        "funnel": False,
        "bm25": False,
        "hybrid": False,
        "semantic": False,
    }, "no face may still serve the forgotten doc's content"
    with pytest.raises(ValueError, match="no auditable facet"):
        cross_store_face_audit(spark, 10, {}, xs["stores"])
    with pytest.raises(ValueError, match="unknown store kinds"):
        cross_store_face_audit(spark, 10, {"text": "x"}, {"redis": {}})


def test_propagate_refuses_bad_input(spark, xs):
    st = xs["stores"]
    with pytest.raises(ValueError, match="unknown store kinds"):
        propagate_doc_versions(
            spark, [{"doc_id": 1, "ingest_ts": "2025-01-01T00:00:00Z"}],
            {"postgres": {"drop_dir": "/tmp/x"}},
        )
    with pytest.raises(ValueError, match="empty version wave"):
        propagate_doc_versions(spark, [], {"bm25": st["bm25"]})
    with pytest.raises(ValueError, match="doc_id/ingest_ts"):
        propagate_doc_versions(spark, [{"text": "hi"}], {"bm25": st["bm25"]})
    with pytest.raises(ValueError, match="mimetype"):
        propagate_doc_versions(
            spark,
            [
                {
                    "doc_id": 1,
                    "ingest_ts": "2025-01-01T00:00:00Z",
                    "payload_b64": "aGk=",
                }
            ],
            {"media": st["media"]},
            run=False,
        )
    with pytest.raises(ValueError, match="no doc_ids"):
        cross_store_doc_state(spark, [], xs["stores"])


def test_drop_mtime_floors_at_wall_clock(tmp_path):
    """ADVICE r13 (cross_store.py:113): a wave file must never be
    stamped older than the current wall clock — the file source's
    maxFileAge window is anchored at the newest mtime the checkpoint
    ever saw, so a past-stamped wave written after real-mtime drops
    were cleaned up would be silently ignored (the propagation would
    no-op with no error)."""
    import time

    from kafka_flink_slack_pipeline_spark.streaming.cross_store import (
        _next_drop_path,
    )

    drop = str(tmp_path / "drop")
    before = int(time.time())
    path, mtime = _next_drop_path(drop)
    assert mtime >= before, "empty drop dir must stamp at wall clock"
    # and stays strictly above a future-stamped existing drop
    open(path, "w").close()
    os.utime(path, (mtime + 100, mtime + 100))
    _, m2 = _next_drop_path(drop)
    assert m2 == mtime + 101


def test_doc_state_reader_guards(spark, tmp_path):
    """ADVICE r13 (cross_store.py:279): the certificate's ledger reads
    refuse loudly instead of silently certifying — a typo'd kind, a
    remote-URI state dir, and an interrupted-compaction leftover each
    previously read as 'unknown'/partial and turned the certificate
    green on a store that was never actually checked."""
    with pytest.raises(ValueError, match="unknown store kinds"):
        cross_store_doc_state(spark, [1], {"redis": {"state_dir": "/tmp/x"}})
    with pytest.raises(ValueError, match="driver-local"):
        cross_store_doc_state(
            spark, [1], {"bm25": {"state_dir": "s3://bucket/x"}}
        )
    state = tmp_path / "state"
    (state / "docmeta" / "_compact_tmp.0").mkdir(parents=True)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        cross_store_doc_state(
            spark, [1], {"bm25": {"state_dir": str(state)}}
        )
    # the ONE legitimate silent case: nothing has landed yet (a local
    # dir that does not exist) still reads as known=False
    rows = cross_store_doc_state(
        spark, [1], {"bm25": {"state_dir": str(tmp_path / "virgin")}}
    ).collect()
    assert [(r["store"], r["known"]) for r in rows] == [("bm25", False)]


@pytest.mark.slow
def test_hybrid_partial_facet_routing(spark, sf_dir, xs, tmp_path):
    """ADVICE r13 (cross_store.py:90): hybrid is a TWO-facet store
    under whole-doc LWW, so partial-facet waves must not silently
    evict or go stale — embedding-only rows now route there, a
    text-only update carries the stored embedding forward, the in-wave
    memo carries a wave's own facets, and an embedding-only update to
    a text-resident doc refuses loudly before any drop lands."""
    from kafka_flink_slack_pipeline_spark.streaming.hybrid_index import (
        hybrid_index_search_adhoc,
    )

    st = {
        "hybrid": {
            "drop_dir": str(tmp_path / "drop"),
            "state_dir": str(tmp_path / "state"),
            "checkpoint_dir": str(tmp_path / "ckpt"),
            "codebook": xs["model"],
        }
    }
    w_text, x_text, z_text, _, _ = _texts()

    def dense_hits(emb):
        return {
            r["doc_id"]
            for r in hybrid_index_search_adhoc(
                spark, st["hybrid"]["state_dir"], xs["model"],
                {-1: ("", emb)},
            ).collect()
        }

    def lex_hits(term):
        return {
            r["doc_id"]
            for r in hybrid_index_search_adhoc(
                spark, st["hybrid"]["state_dir"], xs["model"],
                {-1: (term, None)},
            ).collect()
        }

    # embedding-only live rows now route to hybrid (a dense-only
    # resident — the old text-gated routing never sent them, leaving
    # the dense face stale while semantic served the new vector)
    propagate_doc_versions(
        spark,
        [{"doc_id": 71, "ingest_ts": "2025-01-01T00:00:00.000Z",
          "embedding": xs["emb30"]}],
        st,
    )
    assert 71 in dense_hits(xs["emb30"])

    # doc 70 lands with BOTH facets; a TEXT-ONLY update must keep the
    # dense face alive via the store-side embedding carry-forward
    propagate_doc_versions(
        spark,
        [{"doc_id": 70, "ingest_ts": "2025-01-02T00:00:00.000Z",
          "text": w_text, "embedding": xs["emb10"]}],
        st,
    )
    propagate_doc_versions(
        spark,
        [{"doc_id": 70, "ingest_ts": "2025-01-03T00:00:00.000Z",
          "text": z_text}],
        st,
    )
    assert 70 in dense_hits(xs["emb10"]), (
        "text-only update evicted the dense face (no carry-forward)"
    )
    assert 70 in lex_hits("ztok07"), "the new text must serve"
    assert 70 not in lex_hits("wtok07"), "the old text is superseded"

    # an embedding-only update to that text-resident doc refuses
    # loudly (text is not reconstructable from derived postings), and
    # the refusal fires BEFORE any drop file lands
    n_drops = len(os.listdir(st["hybrid"]["drop_dir"]))
    with pytest.raises(ValueError, match="[Cc]arry the text facet"):
        propagate_doc_versions(
            spark,
            [{"doc_id": 70, "ingest_ts": "2025-01-04T00:00:00.000Z",
              "embedding": xs["emb40"]}],
            st,
        )
    assert len(os.listdir(st["hybrid"]["drop_dir"])) == n_drops

    # in-wave memo: a full row then a text-only row for the SAME doc
    # inside ONE wave — the wave's own embedding carries forward
    propagate_doc_versions(
        spark,
        [
            {"doc_id": 72, "ingest_ts": "2025-01-05T00:00:00.000Z",
             "text": w_text, "embedding": xs["emb40"]},
            {"doc_id": 72, "ingest_ts": "2025-01-05T00:00:01.000Z",
             "text": x_text},
        ],
        st,
    )
    assert 72 in dense_hits(xs["emb40"])

    # a tombstone clears the carry: a post-tombstone text-only revival
    # is a lexical-only resident (nothing live left to preserve)
    propagate_doc_versions(
        spark,
        [
            {"doc_id": 71, "ingest_ts": "2025-01-06T00:00:00.000Z",
             "deleted": True},
            {"doc_id": 71, "ingest_ts": "2025-01-07T00:00:00.000Z",
             "text": z_text},
        ],
        st,
    )
    assert 71 not in dense_hits(xs["emb30"])
    assert 71 in lex_hits("ztok07")


@pytest.mark.slow
def test_wave_id_crash_retry_is_idempotent(spark, sf_dir, xs):
    """r13 verdict item 2: a caller that crashes between the drop
    writes and the runner drain and RETRIES with the same wave_id
    lands exactly ONE ledger row-set per store — the retry verifies
    the existing drop byte-for-byte, skips the write, and re-resumes
    the runners. Runs against the module stores (doc 10 live, doc 30
    forgotten): doc 50 arrives with every facet, crash-retried, then
    re-checked across a full fold; reusing the id for a different
    wave refuses loudly."""
    from kafka_flink_slack_pipeline_spark.streaming.cross_store import (
        cross_store_face_audit,
    )

    st = xs["stores"]
    v_text = _v_text()
    emb60 = _emb_of(spark, sf_dir, 60)
    p5 = _p5()
    wave = [
        {
            "doc_id": 50,
            "ingest_ts": "2025-05-01T00:00:00.000Z",
            "text": v_text,
            "lang": "en",
            "source": "s0",
            "embedding": emb60,
            "payload_b64": base64.b64encode(p5).decode(),
            "mimetype": "image/png",
        }
    ]
    # the crash: every drop lands, no runner ever drains
    w1 = propagate_doc_versions(spark, wave, st, run=False, wave_id="w50")
    # the retry: same wave_id — writes nothing new, resumes the runners
    w2 = propagate_doc_versions(spark, wave, st, run=True, wave_id="w50")
    assert w1 == w2
    for kind in st:
        drops = [
            e for e in os.listdir(st[kind]["drop_dir"])
            if e.startswith("wid_w50")
        ]
        assert drops == ["wid_w50.jsonl"], f"{kind}: duplicate wave files"
    # a LATE retry (after the drain) is a no-op end-to-end too: the
    # checkpointed file source has already processed the wave file
    w3 = propagate_doc_versions(spark, wave, st, run=True, wave_id="w50")
    assert w3 == w2

    def assert_landed_once():
        for kind in st:
            n = (
                spark.read.option(
                    "basePath", f"{st[kind]['state_dir']}/docmeta"
                )
                .parquet(f"{st[kind]['state_dir']}/docmeta")
                .filter("doc_id = 50")
                .count()
            )
            assert n == 1, f"{kind}: crash-retry double-landed doc 50"
        assert_cross_store_consistent(spark, [10, 30, 50], st)
        served = cross_store_face_audit(
            spark,
            50,
            {
                "text": v_text,
                "embedding": emb60,
                "payload": p5,
                "mimetype": "image/png",
            },
            st,
        )
        assert served == {k: True for k in st}

    assert_landed_once()
    _fold_all(spark, st)
    assert_landed_once()

    # id reuse for a DIFFERENT wave refuses loudly (drop writes are
    # atomic, so a mismatch is never a crash remnant)
    with pytest.raises(ValueError, match="DIFFERENT content"):
        propagate_doc_versions(
            spark,
            [
                {
                    "doc_id": 50,
                    "ingest_ts": "2025-05-02T00:00:00.000Z",
                    "text": v_text + " changed",
                }
            ],
            st,
            run=False,
            wave_id="w50",
        )
    with pytest.raises(ValueError, match="wave_id"):
        propagate_doc_versions(
            spark, wave, st, run=False, wave_id="bad/../id"
        )


@pytest.mark.slow
def test_cross_store_face_audit_wave(spark, sf_dir, xs):
    """r13 verdict item 1 — wave-scale forget audit: ONE probe job per
    store answers for the whole wave (mixed live + forgotten docs),
    returning the (store x doc) served matrix. Module state by now:
    docs 10 (z/emb40/p3 facets) and 50 (v/emb60/p5) live everywhere,
    doc 30 forgotten everywhere it was known (text + embedding facets
    only, so it has no media row)."""
    from kafka_flink_slack_pipeline_spark.streaming.cross_store import (
        cross_store_face_audit_wave,
    )

    _, x_text, z_text, _, _ = _texts()
    emb60 = _emb_of(spark, sf_dir, 60)
    matrix = cross_store_face_audit_wave(
        spark,
        {
            10: {
                "text": z_text,
                "embedding": xs["emb40"],
                "payload": xs["p3"],
                "mimetype": "image/png",
            },
            30: {"text": x_text, "embedding": xs["emb30"]},
            50: {
                "text": _v_text(),
                "embedding": emb60,
                "payload": _p5(),
                "mimetype": "image/png",
            },
        },
        xs["stores"],
    )
    all_true = {
        "funnel": True,
        "bm25": True,
        "hybrid": True,
        "semantic": True,
        "media": True,
    }
    assert matrix[10] == all_true, "every face must serve live doc 10"
    assert matrix[50] == all_true, "every face must serve live doc 50"
    assert matrix[30] == {
        "funnel": False,
        "bm25": False,
        "hybrid": False,
        "semantic": False,
    }, "no face may still serve the forgotten doc's content"
    with pytest.raises(ValueError, match="empty audit wave"):
        cross_store_face_audit_wave(spark, {}, xs["stores"])
    with pytest.raises(ValueError, match="no auditable facet.*99"):
        cross_store_face_audit_wave(
            spark, {10: {"text": z_text}, 99: {}}, xs["stores"]
        )
