"""Postings-index store probe: is SERVING cost flat as the landed index
grows in terms the query workload never touches?

r11 refresh: the serving path now carries UPDATE/DELETE semantics
(streaming/retrieval_index.py — LWW by ingest_ts + tombstones), so the
probe measures the REAL bm25_index_search end to end: seed read + tail
visibility mask, snapshot-corrected corpus stats (point-lookup
correction into the doc_id-sorted docmeta), tp-pruned + term-IN-pushed
postings scan, mask join, scoring, top-k. Every probe store carries a
LIVE TAIL — one uncompacted batch of re-ingested docs (doc_id%100==1,
never seeds) — so the masked regime is what's timed, not the degenerate
empty-tail fast path.

Layouts compared at each size:

  pruned        — the shipped path: (tp)-partitioned, term-sorted-
                  within-files postings read through the query terms'
                  tp directories and covering row groups
                  (bm25_index_search verbatim): on the driver while
                  the footers count at most ri._POSTINGS_BUDGET rows,
                  else a Spark scan with tp literals + term IN
                  pushdown; each size records which path it timed
  unpartitioned — the naive layout counterfactual: identical posting
                  rows landed flat and UNSORTED (doc order), term
                  filter still applied but nothing for the scan to
                  skip with; docmeta/seeds/statsnap/tail identical
                  (the funnel/media probes' honest rule: the engine
                  can rescue a lazy plan, not a lazy layout); always
                  served by the Spark scan (asserted)

Store growth: the decade points add 9 / 99 / 999 replicas of every
base posting row with REMAPPED terms (term || '#r<i>' — distinct
vocabulary, so the workload's own posting lists stay FIXED while the
index grows around them) and shifted doc_ids, AND the matching docmeta
rows — so the stats correction's point lookups run against a docmeta
ledger that grows with the corpus (the thing the doc_id-sorted dp
layout exists for). BM25's inherent cost — a query term's own df
growth — is held constant by construction; what's measured is pure
layout + mask overhead, the thing the store design controls. Both
layouts must return identical search rows at every size — asserted.

Protocol: warmup + 2 timed passes, min. Writes SCALE_PROBE_INDEX.json.

Usage:  python tools/index_probe.py [--out SCALE_PROBE_INDEX.json]
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

from kafka_flink_slack_pipeline_spark.operators.curation import (  # noqa: E402
    _BM25_EVERY,
    _BM25_MAX_QUERIES,
    _BM25_QSLICE,
)
from kafka_flink_slack_pipeline_spark.session import get_spark  # noqa: E402
from kafka_flink_slack_pipeline_spark.streaming import retrieval_index as ri  # noqa: E402
from kafka_flink_slack_pipeline_spark.streaming import store  # noqa: E402

CORPUS_MULT = 10
STORE_REPLICAS = {"base": 0, "x10": 9, "x100": 99, "x1000": 999}
LAND_BATCH_DOCS = 6_000
_TS1 = "2025-01-01 00:00:00"
_TS2 = "2025-02-01 00:00:00"


def _with_ts(df, ts):
    return df.withColumn("ts", F.lit(ts).cast("timestamp"))


def _toked(docs):
    return docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.col("text")), "\\s+"), lambda t: t != ""
        ).alias("toks"),
    )


def _postings_of(toked, ts):
    return _with_ts(
        toked.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        ts,
    ).withColumn("tp", store._tp_col())


def _docmeta_of(toked, ts):
    return (
        _with_ts(
            toked.select(
                "doc_id",
                F.lit(False).alias("deleted"),
                F.size("toks").cast("long").alias("dl"),
            ),
            ts,
        )
        .select("doc_id", "ts", "deleted", "dl")
        .withColumn("dp", store._dp_col())
    )


def _write_postings(p, dest, partitioned):
    if partitioned:
        (
            p.repartition("tp")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("tp")
            .parquet(dest)
        )
    else:
        # flat, doc-ordered, unsorted in term — nothing to skip with
        p.orderBy("doc_id").write.mode("overwrite").parquet(dest)


def _write_docmeta(m, dest):
    (
        m.repartition("dp")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("dp")
        .parquet(dest)
    )


def _build_base(spark, corpus_dir, state_dir, flat_postings_dir=None) -> int:
    """Land the base corpus batch-wise into a REAL state dir (postings
    tp layout + doc_id-sorted docmeta + version-stamped seeds) plus the
    flat postings counterfactual (skipped when flat_postings_dir is
    None — the hybrid probe grows the lexical face without its flat
    twin). Returns the next batch id."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    batch_id = 0
    for lo in range(0, int(n), LAND_BATCH_DOCS):
        part = _toked(
            docs.filter(
                (F.col("doc_id") >= lo)
                & (F.col("doc_id") < lo + LAND_BATCH_DOCS)
            )
        )
        p = _postings_of(part, _TS1)
        _write_postings(
            p, f"{state_dir}/postings/batch_id={batch_id}", True
        )
        if flat_postings_dir is not None:
            _write_postings(
                p, f"{flat_postings_dir}/batch_id={batch_id}", False
            )
        _write_docmeta(
            _docmeta_of(part, _TS1),
            f"{state_dir}/docmeta/batch_id={batch_id}",
        )
        batch_id += 1
    seeds = _with_ts(
        _toked(docs)
        .filter(
            (F.col("doc_id") % _BM25_EVERY == 0)
            & (F.col("doc_id") < _BM25_EVERY * _BM25_MAX_QUERIES)
        )
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.array_distinct(F.slice("toks", *_BM25_QSLICE))
            ).alias("term"),
        ),
        _TS1,
    ).withColumn("tp", store._tp_col())
    seeds.select(*store._cols(ri._SEED_SCHEMA)).write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/seeds/batch_id=0")
    return batch_id


def _add_replicas(spark, state_dir, flat_postings_dir, rep_id, n_rep):
    """One batch dir of n_rep remapped replicas: postings with term ||
    '#r<i>' and shifted doc_ids (both layouts) + the matching docmeta
    rows, so the version ledger grows with the store."""
    base_postings = spark.read.option(
        "basePath", f"{state_dir}/postings"
    ).parquet(f"{state_dir}/postings").filter(F.col("batch_id") < rep_id)
    rep = (
        base_postings.withColumn(
            "r", F.explode(F.sequence(F.lit(1), F.lit(n_rep)))
        )
        .select(
            F.concat(F.col("term"), F.lit("#r"), F.col("r")).alias("term"),
            (F.col("doc_id") + F.col("r") * F.lit(1_000_000)).alias(
                "doc_id"
            ),
            "tf",
            "dl",
            "ts",
        )
        .withColumn("tp", store._tp_col())
    )
    _write_postings(rep, f"{state_dir}/postings/batch_id={rep_id}", True)
    if flat_postings_dir is not None:
        _write_postings(
            rep, f"{flat_postings_dir}/batch_id={rep_id}", False
        )
    base_meta = spark.read.option(
        "basePath", f"{state_dir}/docmeta"
    ).parquet(f"{state_dir}/docmeta").filter(F.col("batch_id") < rep_id)
    rep_meta = (
        base_meta.withColumn(
            "r", F.explode(F.sequence(F.lit(1), F.lit(n_rep)))
        )
        .select(
            (F.col("doc_id") + F.col("r") * F.lit(1_000_000)).alias(
                "doc_id"
            ),
            "ts",
            "deleted",
            "dl",
        )
        .withColumn("dp", store._dp_col())
    )
    _write_docmeta(rep_meta, f"{state_dir}/docmeta/batch_id={rep_id}")


def _add_tail(spark, corpus_dir, state_dir, flat_postings_dir, tail_id):
    """The live tail: re-ingest every doc_id%100==1 (never a seed) with
    a later ts — the serve-time mask then does real work at every
    size."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") % 100 == 1)
    part = _toked(docs)
    p = _postings_of(part, _TS2)
    _write_postings(p, f"{state_dir}/postings/batch_id={tail_id}", True)
    if flat_postings_dir is not None:
        _write_postings(
            p, f"{flat_postings_dir}/batch_id={tail_id}", False
        )
    _write_docmeta(
        _docmeta_of(part, _TS2),
        f"{state_dir}/docmeta/batch_id={tail_id}",
    )


# the flat layout lands tp as a data column, so it reads back as bigint
_FLAT_SCHEMA = ri._POSTING_SCHEMA.replace("tp int", "tp bigint")


def _flat_postings(flat_postings_dir):
    """The postings read of the flat layout (no tp pruning, nothing
    sorted), in place of ri._pruned_postings: every other stage of the
    serve (seed mask, snapshot-corrected stats, tail mask, scoring) is
    the module's real code, so the delta is pure postings layout."""

    def read(spark, _postings_dir, terms):
        return (
            spark.read.option("basePath", flat_postings_dir)
            .schema(_FLAT_SCHEMA)
            .parquet(flat_postings_dir)
            .filter(F.col("term").isin(sorted({t for t, _ in terms})))
            .select(*store._cols(ri._POSTING_SCHEMA))
        )

    return read


def _serve(spark, state_dir, flat_postings_dir, pruned):
    """(rows, postings path) of one bm25_index_search: "driver read"
    when the postings came from the driver read under
    ri._POSTINGS_BUDGET, "spark scan" when a Spark scan read them. The
    flat layout has no tp directories for the driver read, so its serve
    always takes the Spark scan."""
    ran = []
    scan = ri._pruned_postings if pruned else _flat_postings(flat_postings_dir)
    driver = ri._driver_postings if pruned else (lambda *args: None)

    def spy_driver(*args):
        rows = driver(*args)
        if rows is not None:
            ran.append("driver read")
        return rows

    def spy_scan(*args):
        ran.append("spark scan")
        return scan(*args)

    real = ri._pruned_postings, ri._driver_postings
    ri._pruned_postings, ri._driver_postings = spy_scan, spy_driver
    try:  # the plan is built in the call
        rows = ri.bm25_index_search(spark, state_dir).collect()
    finally:
        ri._pruned_postings, ri._driver_postings = real
    assert len(ran) == 1, f"one postings read per serve, got {ran}"
    return rows, ran[0]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_PROBE_INDEX.json")
    args = ap.parse_args()

    spark = get_spark("index_probe")
    work = tempfile.mkdtemp(prefix="index_probe_")
    try:
        from scale_probe import generate

        corpus_dir = f"{work}/corpus"
        os.makedirs(corpus_dir)
        generate(CORPUS_MULT, corpus_dir)

        # base state (pruned layout + flat counterfactual postings)
        base_state = f"{work}/state_base"
        base_flat = f"{work}/flat_base"
        next_id = _build_base(spark, corpus_dir, base_state, base_flat)

        stores: dict[str, tuple[str, str]] = {}
        for name, n_rep in STORE_REPLICAS.items():
            if n_rep == 0:
                state, flat = base_state, base_flat
            else:
                state = f"{work}/state_{name}"
                flat = f"{work}/flat_{name}"
                shutil.copytree(base_state, state)
                shutil.copytree(base_flat, flat)
            stores[name] = (state, flat)
        for name, n_rep in STORE_REPLICAS.items():
            state, flat = stores[name]
            rep_id = next_id
            if n_rep:
                _add_replicas(spark, state, flat, rep_id, n_rep)
                rep_id += 1
            # snapshot covers base + replicas; the tail stays live
            store._write_statsnap(spark, state, upto=rep_id)
            _add_tail(spark, corpus_dir, state, flat, rep_id)

        store_rows = {
            name: spark.read.option(
                "basePath", f"{state}/postings"
            ).parquet(f"{state}/postings").count()
            for name, (state, _) in stores.items()
        }

        # global JIT/codegen warmup BEFORE any timed pass: the first
        # serve of a session pays JVM warmth that per-store warmups
        # don't fully absorb (the r11 first run's base point read 9.4 s
        # vs the 6.5 s steady state — an artifact that would flatter
        # the exponent), so both layouts serve once untimed here
        _serve(spark, *stores["base"], True)
        _serve(spark, *stores["base"], False)

        results: dict[str, dict] = {}
        reference: dict[str, list] = {}
        for shape in ("pruned", "unpartitioned"):
            pruned = shape == "pruned"
            times: dict[str, float] = {}
            paths: dict[str, str] = {}
            for name, (state, flat) in stores.items():
                rows, paths[name] = _serve(spark, state, flat, pruned)
                if not pruned:
                    assert paths[name] == "spark scan", (
                        f"flat layout served by {paths[name]} at {name}"
                    )
                canon = sorted(tuple(r) for r in rows)
                if name in reference:
                    assert reference[name] == canon, (
                        f"layouts disagree on search rows at {name}"
                    )
                else:
                    reference[name] = canon
                samples = []
                for _ in range(2):
                    t0 = time.time()
                    r2, path = _serve(spark, state, flat, pruned)
                    samples.append(time.time() - t0)
                    assert sorted(tuple(r) for r in r2) == canon
                    assert path == paths[name], f"path changed at {name}"
                times[name] = round(min(samples), 3)
            big = list(STORE_REPLICAS)[-1]
            growth = store_rows[big] / store_rows["base"]
            exponent = round(
                math.log(times[big] / times["base"]) / math.log(growth),
                3,
            )
            results[shape] = {
                "times_by_store": times,
                "postings_path_by_store": paths,
                "store_size_exponent": exponent,
            }

        out = {
            "metric": "postings_index_store_growth",
            "store_rows": store_rows,
            "methodology": (
                "r11 masked-serving refresh: REAL bm25_index_search "
                "(seed+tail visibility mask, snapshot-corrected stats "
                "with doc_id point lookups, tp-pruned term-IN postings "
                "scan) vs flat/unsorted postings with every other "
                "stage identical; fixed seed workload; growth = "
                "remapped-term replicas + matching docmeta rows (the "
                "workload's own lists fixed, stats ledger growing); "
                "every store carries a live one-batch update tail so "
                "the mask does real work; warmup + 2 passes, min; "
                "identical rows asserted across layouts and sizes; the "
                "pruned layout's postings path (driver read under "
                "ri._POSTINGS_BUDGET, else Spark scan) recorded per "
                "store, the flat layout always a Spark scan"
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
