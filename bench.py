"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on session.default_master() and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "sf": ..., "master": ...,
   "cpus_effective": ..., "default_parallelism": ..., "queries": {...}}

`master` is the session's master, `cpus_effective` the CPUs this process
may run on (its affinity mask) and `default_parallelism` Spark's default
task count, so a run on a master wider than its host reads as such.

Each query is executed four times: a warmup pass (JIT + parquet footer
cache) is NOT counted, then three timed passes of which the MIN is
reported — single-sample timings on a shared box are too noisy for
round-over-round comparison (r6 and r7 both burned investigation effort
proving apparent regressions were host drift). Results are consumed via
count() so the full plan executes without driver-side collection
overhead.

Drift attribution: the JSON line also carries `r1_anchor_ratio` — the
total of this run's timings over the 13 queries shared with
BENCH_r01.json, divided by the recorded r1 totals for those queries
(pinned below as _R1_ANCHOR). A round-over-round comparison should
divide per-query deltas by this ratio before calling anything a
regression: if the ratio itself moved, the box moved.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_flink_slack_pipeline_spark.plans.registry import all_queries
from kafka_flink_slack_pipeline_spark.session import get_spark

# Headline set: one per operator family (joins/agg, window, event-time,
# text, dedup, similarity). Keep it stable across rounds for comparability.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_orders_per_customer",
    "events_sessions_per_user",
    "user_history_window",
    "doc_token_stats",
    # the df-capped variant is the 100-TB scale path (bounded join fan-out);
    # the uncapped form stays registered as oracle-fidelity only.
    "dedup_ngram_jaccard_capped",
    # r6 retirement: dedup_ngram_prefix_join leaves the headline set —
    # dedup_ngram_adaptive (below) times the IDENTICAL routed plan on
    # this corpus (the gate routes here to the prefix join), so benching
    # both double-paid the exact join's cost in the total without new
    # information. The theorem demo stays registered, in-window
    # hash-checked, and equality-tested against the naive join.
    "cosine_topk_bruteforce",
    # r1 additions: one per new operator family.
    # r6 retirement (r5 verdict item 3): uncapped dedup_simhash leaves
    # the headline set — it is the known-exponent-1.5 oracle-fidelity
    # twin (SCALE_PROBE.json r5), so benching it each round added a
    # superlinear-regime term to the total without information;
    # dedup_simhash_capped below times the identical single-pass plan
    # with the production fan-out guard. The uncapped twin stays
    # registered + verify_local-covered.
    "dedup_minhash_lsh",
    # r5 addition: the bucket-capped production twin (the decade-probe
    # fix) — same single-pass plan with the fan-out guard in place.
    "dedup_simhash_capped",
    # r6 addition: the entropy-routed exact-join front-end — on this
    # corpus the gate (measured 0.0 hot fraction) routes to the prefix
    # join, so the timed pass is the exact path plus nothing; the gate
    # aggregate runs at frame-build (model-fit precedent).
    "dedup_ngram_adaptive",
    "cosine_topk_lsh",
    "image_byte_histogram",
    # r6 addition: the binary-payload dedup face (hex byte-shingle
    # narrow map + the shared capped banding plan — the multimodal
    # family's first join-shaped member).
    "media_neardup_simhash",
    # r7 addition: the insertion-robust CDC variant (content-defined
    # chunk boundaries + the shared df-capped Jaccard kernel) — the
    # class the block-stride op provably misses (planted test).
    "media_neardup_cdc",
    # r9 addition: the perceptual member completing the media-dedup
    # trio (Arrow thumbnail kernel -> 64-bit aHash -> capped banded
    # hamming join) — the re-encode class both byte-level ops miss.
    "media_neardup_phash",
    # r9 (second half): the video/audio contour near-dups — one shared
    # Arrow energy-contour kernel, per-frame banded matching + coverage
    # agg (video) and the phash pair plan (audio). The fingerprint
    # certificate queries are NOT benched: their kernel pass is timed
    # inside these two (the media_cdc_chunk_stats precedent).
    "media_neardup_video",
    "media_neardup_audio",
    # r10 addition: the contour pair plan timed on NON-EMPTY output —
    # the corpus vs its quantize-to-even re-encode (double kernel pass
    # + banded frame join + coverage agg doing real pair work; the two
    # entries above run the same plan over empty match sets).
    "media_video_reencode_pairs",
    "email_clean_chain",
    "email_chunk_blocks",
    # r2 addition: vocabulary building (two reused shuffles + window top-k).
    # dedup_clusters is deliberately NOT benched: its iterative rounds run
    # eagerly inside fn() (localCheckpoint), so timing only the final
    # count() would under-report it.
    "tfidf_top_terms",
    # r2 additions: decontamination (broadcast overlap join) and sequence
    # packing (applyInPandas over hash shards) — the two newest pipeline
    # families; repetition metrics share doc_token_stats' narrow-map shape
    # so they'd add runtime without adding signal.
    "benchmark_decontaminate",
    "sequence_pack",
    # r2 addition: SemDeDup — cluster-scoped embedding dedup (centroid
    # broadcast + cid equi-join), the semantic member of the dedup family.
    "semantic_dedup",
    # r2 addition: the end-to-end pipeline composition (filter -> pack ->
    # manifest) — the closest thing to a "whole pipeline" headline number.
    "corpus_export_manifest",
    # r3 additions: span-level dedup (two equi-key shuffles over the span
    # explosion), budget selection (two-phase bucketed global cumsum), and
    # the unigram-LM surprisal score (vocab agg + broadcast re-join) — one
    # per new curation family; shuffle/quantize share these shapes.
    "interdoc_span_dedup",
    # r6 addition: the exact per-pair substring-run shape (seed
    # equi-join + diagonal-keyed islands) — a genuinely new execution
    # shape next to the per-doc approximation's span windows.
    "interdoc_dup_runs_exact",
    "token_budget_select",
    "doc_unigram_surprisal",
    # r3 addition: lexical retrieval (broadcast query-term semi-filter on
    # the postings explosion + per-query top-k window).
    "bm25_keyword_search",
    # r9 addition: hybrid retrieval fusion — RRF over the lexical and
    # dense top-k rankings (both parents' pruned plans + a bounded rank
    # full-outer join); the recurring serving-path composition a
    # RAG/curation deployment actually runs.
    "hybrid_search_rrf",
    # r10 addition: the list-pruned fusion sibling — same lexical parent
    # and fusion, dense side = IVF probe + exact re-rank inside probed
    # lists; benched alongside the brute-force parent so the pruning's
    # price/win at each SF is a read-off.
    "hybrid_search_rrf_ivf",
    # r11 addition: the incremental index's update/delete SERVING path —
    # store landing, the wave-1 fold, and the bounded model-state
    # collects (seed terms, snapshot-corrected stats) run at frame-build
    # (the ANN index-build precedent: a production index pays build
    # once), so the timed passes measure the recurring cost: the
    # tp-pruned + term-pushed postings read, the tail visibility mask,
    # and the scoring/top-k plan.
    "bm25_index_served_lww",
    # r11 addition: the hybrid store's serving read — both index faces
    # from the landed six-store state (pruned postings + probed cid
    # partitions, both tail-masked) through the RRF fusion; next to
    # hybrid_search_rrf_ivf this prices store-serving vs recompute.
    "hybrid_index_served_lww",
    # r12 addition: the funnel signature store's serving read — the
    # dedup-store member of the *_served_lww family. Landing + the
    # wave-1 masked fold run at frame-build; the timed passes measure
    # the full-sweep serve (store scan + ledger tail mask + the batch
    # pair kernel over 128-byte signature rows) — next to
    # dedup_minhash_lsh this prices store-serving vs text recompute.
    "funnel_sigstore_served_lww",
    # r13 addition: the funnel PRODUCT SINK's serving read — the
    # landed-corpus member of the *_served_lww family. Landing + the
    # wave-1 masked fold (out_dir included) run at frame-build; the
    # timed passes measure the reader a training job runs: the pruned
    # landed-corpus scan + the ledger tail mask over the text payload.
    "funnel_landed_served_lww",
    # r4 addition: the production ANN composition — promoted to the
    # headline set once the r3 codegen blowup was fixed (per-vector PQ
    # codes + literal-centroid narrow-map assignment; was 35.5 s at
    # sf0.01 in r3, two orders of magnitude off). Its O(k*d) model-state
    # collects (PQ codebook, coarse centroids) run at frame-build time,
    # so the timed passes measure SEARCH — the index-build/query split a
    # production ANN service has.
    "cosine_topk_ivfpq",
    # r4 additions: the training-data selection family. DSIR and the
    # bigram-LM filter both fit a model at frame-build time (256-bucket
    # log-ratios / checkpointed bigram counts — O(model) like the ANN
    # index builds above), so the timed passes measure the SCORING pass,
    # which is the recurring cost at 100 TB. The JL projection is a pure
    # narrow map (zero shuffles). bpe_learn_merges is deliberately NOT
    # benched for dedup_clusters' reason: every merge iteration runs
    # eagerly at frame-build, so timing the final count() of a 6-row
    # literal frame would measure nothing.
    "dsir_importance_weights",
    "doc_bigram_lm_score",
    # r9 addition: the distilled NB quality classifier (silver-label
    # pass + vocab-scale model groupBy + postings-shaped scoring join).
    "quality_classifier_distill",
    # r10 addition: the stage-7 operating-point table — the classifier's
    # identical scored frame + an 8-literal threshold explode and a
    # bounded groupBy; timing it alongside the classifier prices the
    # sweep's marginal cost (should be near-zero over the shared plan).
    "classifier_threshold_curve",
    "embedding_random_projection",
    # r4 additions: BPE encode pass (merge learning runs at frame-build;
    # the timed pass is the corpus scan + vocab-scale literal-replace
    # chain) and the KMV distinct-count sketch (one distinct shuffle +
    # one window pass).
    "bpe_apply_compression",
    # r6 addition: the unigram-tokenizer apply pass (vocab-scale word
    # groupBy + in-row JVM Viterbi fold against the literal score map).
    # unigram_learn_vocab is NOT benched for bpe_learn_merges' reason:
    # the EM runs eagerly at frame-build, so timing the final count()
    # of a ~40-row literal frame would measure nothing.
    "unigram_apply_compression",
    "term_cardinality_kmv",
    # r4 addition: RAG chunking (narrow bounded explode).
    # term_heavy_hitters_cms is NOT benched for dedup_clusters' reason:
    # its corpus pass runs eagerly at frame-build (localCheckpoint), so
    # timing the final count() would measure only vocab-scale work.
    "doc_chunk_sliding",
    # r4 addition: the end-to-end curation funnel (quality -> exact dedup
    # -> minhash near-dedup -> decontamination survivor report) — the
    # flagship composition; one number for the whole cleaning story.
    "corpus_curation_funnel",
    # r4 addition: the quantile member of the sketch trio (fully lazy —
    # one bounded groupBy + a one-row array-fold stage, so the timed pass
    # measures the whole sketch unlike the eager-build CMS).
    "token_quantile_histogram",
    # r4 addition: PCA whitening — the Gram kernel + eigh model fit runs
    # eagerly at frame-build (the ANN index-build precedent), so the
    # timed pass measures the literal-matrix projection scan, the
    # recurring cost at 100 TB. embedding_covariance is deliberately NOT
    # benched: it is the d^2-amplified oracle-fidelity twin of the
    # kernel (a one-off profile op, not a recurring pipeline pass).
    # r6 swap (r5 verdict item 2): embedding_pca_whiten's r5 registered
    # form computes the whitened K x K covariance CERTIFICATE — a
    # second full data pass that exists for verification, not the
    # operator (0.055 s -> 1.124 s in BENCH_r05 was the certificate's
    # cost, not the projection's). The headline now times the
    # production projection; the certificate stays in the driver
    # window where its hash check belongs.
    "pca_whiten_vectors",
    # r4 addition: drift monitoring (one conditional-agg corpus pass +
    # in-row decimal folds) — the recurring pre-admission check.
    "corpus_drift_report",
    # r4 additions (second half): one per distinct new execution shape —
    # the time-series window+same-key-agg rollup, the Arrow binary
    # feature kernel, and the two-snapshot full-outer reconciliation.
    # textrank/mmr/typo-pairs are NOT benched: their corpus passes run
    # eagerly at frame-build (localCheckpoint model state), so a timed
    # pass would measure only vocab-scale work (dedup_clusters' reason);
    # temperature_resample's per-lang hash-rank window is the shape
    # last_events_per_user already times.
    "events_ohlc_rollup",
    # r6 swap: audio_frame_rms leaves with its window rotation — its
    # Arrow integer kernel is the mapInPandas shape image_byte_histogram
    # already times; events_downsample_lttb enters as the round's new
    # time-series window shape (rank pass + bounded mean broadcast +
    # per-bucket argmax).
    "events_downsample_lttb",
    "corpus_snapshot_diff",
    # r7 additions: the trailing-frame anomaly monitor (a NEW window
    # shape — bounded preceding-rows frame with integer-exact decision)
    # and the domain-level curation rollup (signal pass + bounded-key
    # rank). bloom_membership_report is NOT benched: its bit table and
    # probe set are bounded, so a timed pass would measure constants.
    "events_anomaly_zscore",
    "source_quality_report",
    # r8 addition: the gapfill+LOCF rollup (a NEW shape — bounded-grid
    # explode off a per-type min/max + gaps-and-islands LOCF windows).
    # media_cdc_chunk_stats is NOT benched: its chunk stage is already
    # timed via media_neardup_cdc (the prefix-join double-pay precedent)
    # and the rollup on top is a bounded groupBy.
    "events_gapfill_locf",
]


# BENCH_r01.json per-query timings for the queries still in the headline
# set, verbatim — the drift anchor. The sum of the CURRENT run over these
# names divided by the sum below is the box's speed relative to the r1
# run; per-query deltas should be read against it.
_R1_ANCHOR = {
    "q1_pricing_summary": 0.364,
    "q3_shipping_priority": 0.637,
    "q5_local_supplier_volume": 0.459,
    "top_orders_per_customer": 0.422,
    "events_sessions_per_user": 0.138,
    "user_history_window": 0.35,
    "doc_token_stats": 0.145,
    "cosine_topk_bruteforce": 0.534,
    "dedup_minhash_lsh": 0.957,
    "cosine_topk_lsh": 1.019,
    "image_byte_histogram": 0.238,
    "email_clean_chain": 0.065,
    "email_chunk_blocks": 0.199,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    specs = all_queries()

    # One DataFrame per query: the warmup pass pays analysis + codegen
    # compilation for THIS plan, the timed passes measure execution.
    # (Rebuilding the frame would re-codegen — fresh expression ids
    # defeat the codegen cache — and time compilation, not the query.)
    # The three timed samples are taken in separate FULL passes over the
    # query list, so a transient host stall (observed: ~80 s windows
    # where everything runs 3-26× slow) can spoil at most one of a
    # query's samples — back-to-back samples would both land in it.
    frames = {}
    for name in HEADLINE:
        frames[name] = specs[name].fn(spark, sf_dir)
        frames[name].count()  # warmup (not timed)
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(3):
        for name in HEADLINE:
            t0 = time.time()
            frames[name].count()
            samples[name].append(time.time() - t0)
    timings = {name: round(min(s), 3) for name, s in samples.items()}

    total = round(sum(timings.values()), 3)
    anchor_now = sum(timings[n] for n in _R1_ANCHOR if n in timings)
    anchor_r1 = sum(v for n, v in _R1_ANCHOR.items() if n in timings)
    # r15: compact separators and no in-JSON methodology prose — the r13
    # line outgrew the driver's tail capture and clipped "value", which
    # broke round-over-round comparison (PERF_r14 prev_bench_ok: false).
    # The methodology lives in this module's docstring; "value" stays
    # early in the dict so even a clipped tail keeps the headline number.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "master": spark.sparkContext.master,
                "cpus_effective": len(os.sched_getaffinity(0)),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "r1_anchor_ratio": round(anchor_now / anchor_r1, 3),
                "queries": timings,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
