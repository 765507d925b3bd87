"""Compaction-cadence knob table: serve cost vs uncompacted-tail
length vs fold cost, measured — the table a deployment reads to pick
its fold schedule (r12 verdict item 2; the ivf_nprobe_recall_curve
precedent: measure the tradeoff, don't assert it).

Every incremental store's serve path is "bounded by compaction
cadence": visibility is decided against the UNCOMPACTED TAIL only
(docmeta batches newer than the last fold — retrieval_index.py:31-60),
so the serve-time tax has two cadence-driven terms: the tail-mask
join (tail docmeta rows) and store-directory discovery (unfolded
batch_id dirs). Folding collapses both to zero but costs a full store
rewrite. This probe measures all three numbers for the FUNNEL
SIGNATURE store (serve face = funnel_neardup_probe_adhoc, the
non-ingesting request path) and the BM25 index store (serve face =
bm25_index_search_adhoc), across tail lengths {B, B/4, B/16, 0} of a
B-batch landed history that carries real update/tombstone traffic
(each batch re-ingests 8 and tombstones 4 of the previous batch's
docs, so the mask does real work at every point).

Reading the table: serve_s grows with tail_batches (slope = mask +
discovery tax per unfolded batch); fold_to_zero_s is what one fold
costs at that moment (O(store rewrite) — amortize over the batches a
cadence spans). A deployment picks the largest cadence whose serve
tax it can afford; the stores' default compact_every=64 sits at this
table's top point.

Honest caveats, stated in the artifact: absolute numbers are
this-box/local[32]; the fold is O(store), so its amortized per-batch
cost falls linearly in cadence while the serve tax rises ~linearly —
the crossing depends on the deployment's serve:ingest ratio, which is
why this is a knob table and not a recommendation. Mask CORRECTNESS
is pinned by the store test suites; this probe asserts it stays
bit-identical across every fold state it times (same probe verdicts
at every tail length).

Protocol: warmup + 2 timed passes per point, min taken (bench.py's).
Writes SCALE_PROBE_COMPACTION.json at the repo root and prints one
JSON line.

Usage:  python tools/compaction_probe.py [--out SCALE_PROBE_COMPACTION.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from kafka_flink_slack_pipeline_spark.session import get_spark  # noqa: E402
from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (  # noqa: E402
    _banded_sigs_of,
    compact_sig_store,
    funnel_neardup_probe_adhoc,
)
from kafka_flink_slack_pipeline_spark.streaming.retrieval_index import (  # noqa: E402
    _land_text,
    bm25_index_search_adhoc,
    compact_retrieval_store,
)
from kafka_flink_slack_pipeline_spark.streaming.store import (  # noqa: E402
    _ledger_write,
)

CORPUS_MULT = 2  # 10k synthetic docs
B = 64  # landed batches (the stores' default compact_every)
TAILS = [64, 16, 4, 0]  # uncompacted tail lengths to measure
UPD_PER_BATCH = 8  # docs of batch i-1 re-ingested in batch i
TOMB_PER_BATCH = 4  # docs of batch i-1 tombstoned in batch i
N_PROBES = 16
_TS = "2025-01-01 00:00:00"


def _batch_rows(spark, corpus_dir: str, n_docs: int, i: int):
    """Batch i's drop frame: its own doc slice (v1 rows) plus 8 updates
    + 4 tombstones against batch i-1's slice — cross-batch version
    traffic so every fold state's mask has real work."""
    per = n_docs // B
    lo, hi = i * per, (i + 1) * per
    ts_i = F.lit(_TS).cast("timestamp") + F.expr(f"INTERVAL {i} MINUTE")
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    v1 = docs.filter(f"doc_id >= {lo} AND doc_id < {hi}").select(
        "doc_id", "text", "lang", "source",
        ts_i.alias("ingest_ts"), F.lit(False).alias("deleted"),
    )
    if i == 0:
        return v1
    plo = (i - 1) * per
    upd = docs.filter(
        f"doc_id >= {plo} AND doc_id < {plo + UPD_PER_BATCH}"
    ).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" v2 refresh")).alias("text"),
        "lang", "source", ts_i.alias("ingest_ts"),
        F.lit(False).alias("deleted"),
    )
    tomb = docs.filter(
        f"doc_id >= {plo + UPD_PER_BATCH} "
        f"AND doc_id < {plo + UPD_PER_BATCH + TOMB_PER_BATCH}"
    ).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        ts_i.alias("ingest_ts"), F.lit(True).alias("deleted"),
    )
    return v1.unionByName(upd).unionByName(tomb)


def _build_funnel(spark, corpus_dir: str, n_docs: int, state: str) -> None:
    """B batch dirs of the funnel layout: banded version-stamped sigs
    + the dp-partitioned docmeta ledger (the probe face's two inputs;
    vermeta/hterm are report-face stores the probe never reads)."""
    for i in range(B):
        rows = _batch_rows(spark, corpus_dir, n_docs, i).persist()
        live = rows.filter(~F.col("deleted"))
        (
            _banded_sigs_of(live)
            .write.mode("overwrite")
            .partitionBy("band", "bprefix")
            .parquet(f"{state}/sigs/batch_id={i}")
        )
        _ledger_write(
            rows.select("doc_id", F.col("ingest_ts").alias("ts"), "deleted"),
            state,
            i,
        )()
        rows.unpersist()


def _build_bm25(spark, corpus_dir: str, n_docs: int, state: str) -> None:
    for i in range(B):
        rows = _batch_rows(spark, corpus_dir, n_docs, i).select(
            "doc_id", "text", "ingest_ts", "deleted"
        ).persist()
        _land_text(rows, i, state)
        rows.unpersist()


def _probe_texts(spark, corpus_dir: str) -> dict[int, str]:
    rows = (
        spark.read.parquet(f"{corpus_dir}/documents.parquet")
        .filter(f"doc_id < {N_PROBES}")
        .orderBy("doc_id")
        .collect()
    )
    return {int(r["doc_id"]): r["text"] for r in rows}


def _bm25_queries(spark, corpus_dir: str) -> dict[int, str]:
    rows = (
        spark.read.parquet(f"{corpus_dir}/documents.parquet")
        .filter(f"doc_id < {N_PROBES}")
        .orderBy("doc_id")
        .collect()
    )
    return {
        int(r["doc_id"]): " ".join(r["text"].split()[:5]) for r in rows
    }


def _timed(fn):
    fn()  # warmup (also the correctness snapshot's source)
    samples = []
    for _ in range(2):
        t0 = time.time()
        fn()
        samples.append(time.time() - t0)
    return round(min(samples), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_PROBE_COMPACTION.json")
    args = ap.parse_args()

    spark = get_spark("compaction_probe")
    work = tempfile.mkdtemp(prefix="compaction_probe_")
    try:
        from scale_probe import BASE_DOCS, generate

        corpus_dir = f"{work}/corpus"
        os.makedirs(corpus_dir)
        generate(CORPUS_MULT, corpus_dir)
        n_docs = BASE_DOCS * CORPUS_MULT

        base_funnel = f"{work}/funnel_base"
        base_bm25 = f"{work}/bm25_base"
        _build_funnel(spark, corpus_dir, n_docs, base_funnel)
        _build_bm25(spark, corpus_dir, n_docs, base_bm25)
        probes = _probe_texts(spark, corpus_dir)
        queries = _bm25_queries(spark, corpus_dir)

        def funnel_serve(state):
            return sorted(
                (r["probe_id"], r["is_dup"], r["n_matches"])
                for r in funnel_neardup_probe_adhoc(
                    spark, state, probes
                ).collect()
            )

        def bm25_serve(state):
            return sorted(
                (r["query_id"], r["rank"], r["doc_id"])
                for r in bm25_index_search_adhoc(
                    spark, state, queries
                ).collect()
            )

        results: dict[str, list[dict]] = {}
        verdicts: dict[str, list] = {}
        for store, base, fold, serve in (
            ("funnel_sigs", base_funnel,
             lambda st, upto: compact_sig_store(
                 spark, st, upto=upto, ledger_upto=upto
             ),
             funnel_serve),
            ("bm25_index", base_bm25,
             lambda st, upto: compact_retrieval_store(spark, st, upto=upto),
             bm25_serve),
        ):
            rows = []
            for tail in TAILS:
                st = f"{work}/{store}_tail{tail}"
                shutil.copytree(base, st)
                if tail < B:
                    fold(st, B - tail)
                got = serve(st)
                verdicts.setdefault(store, []).append(got)
                serve_s = _timed(lambda: serve(st))
                tail_rows = (
                    spark.read.option("basePath", f"{st}/docmeta")
                    .parquet(f"{st}/docmeta")
                    .filter(F.col("batch_id") > (B - tail - 1 if tail < B
                                                 else -1))
                    .count()
                    if tail > 0
                    else 0
                )
                t0 = time.time()
                fold(st, B)  # collapse the remaining tail
                fold_s = round(time.time() - t0, 3)
                rows.append(
                    {
                        "tail_batches": tail,
                        "tail_docmeta_rows": int(tail_rows),
                        "serve_s": serve_s,
                        "fold_to_zero_s": fold_s,
                    }
                )
                shutil.rmtree(st, ignore_errors=True)
            # mask semantics must be IDENTICAL in every fold state —
            # the knob trades cost only, never answers
            assert all(v == verdicts[store][0] for v in verdicts[store]), (
                f"{store}: serve answers changed across fold states"
            )
            results[store] = rows

        out = {
            "metric": "compaction_cadence_tradeoff",
            "method": f"{B}-batch landed history ({CORPUS_MULT * 5000} "
            f"synthetic docs; each batch re-ingests {UPD_PER_BATCH} and "
            f"tombstones {TOMB_PER_BATCH} of the previous batch's docs), "
            f"folded to uncompacted tails of {TAILS} batches; serve face "
            "= the store's non-ingesting ad-hoc path "
            f"({N_PROBES} probes/queries), warmup + 2 passes, min; "
            "fold_to_zero_s = one full fold at that moment",
            "caveats": "this-box local[32] absolutes; the fold is "
            "O(store rewrite) so its amortized per-batch cost falls "
            "~linearly in cadence while the serve tax (tail-mask join + "
            "batch-dir discovery) rises ~linearly in tail length — the "
            "crossing depends on the deployment's serve:ingest ratio; "
            "serve answers asserted bit-identical at every point (the "
            "knob trades cost, never correctness)",
            "stores": results,
        }
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo_root, args.out), "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
