"""Semantic vector-store probe: is per-batch SemDeDup cost flat as the
landed store grows in clusters the batch does not touch?

The r8 verdict (What's missing #2b) asked the NEW streaming semantic
face for the signature store's probe discipline: the funnel store has
SCALE_PROBE_FUNNEL.json pinning per-batch time against two decades of
store growth; the vector store shipped with a scan-pruning test but no
growth measurement. This probe closes that.

It measures the store-dependent stage of semantic_dedup_stream's
foreachBatch (touched-cid collect -> cid-pruned store scan -> union
with the batch -> within-cluster pair join -> dropped-vector count)
for a FIXED incoming batch against stores two decades apart in rows,
in both shapes:

  pruned       — the shipped path (store._pruned_store: partition-pruned
                 scan over the touched cid list, cid-partitioned store)
  unpartitioned — the naive LAYOUT counterfactual: the identical rows
                 landed WITHOUT the cid partitioning (vec_id order, so
                 cids interleave and row-group stats cannot skip); the
                 same pair join then has no partitions to prune and
                 reads the whole store every batch.

(A first probe draft compared "pruned vs same-layout-no-filter"
instead and measured BOTH flat: with the store cid-partitioned,
Catalyst infers the partition filter through the equi-join on its own
— static constraint propagation, or DPP once the batch is opaque. The
engine rescues the lazy PLAN; what it cannot rescue is the lazy
LAYOUT, so the layout is the honest counterfactual. The batch is also
written to and re-read from parquet so its cid values are runtime
data, exactly like the stream's JSON drops — not a filter constraint
the optimizer can fold.)

Store construction: the base store is the generator's clustered
embeddings (scale_probe.generate at 10x the sf0.1 shape, 20k vectors,
cid = cluster label — 10 cells) landed in batch_id dirs. The decade
points add 9 / 99 replicas of every NON-cid-0 row with shifted vec_ids:
history accumulating in clusters the probe batch never touches, the
exact growth mode cid partitioning exists to neutralize (the same
suffixed-bkey methodology as funnel_probe). The probe batch duplicates
50 landed cid-0 vectors under fresh high ids, so the pair stage does
real work and both shapes must drop the same vectors at every store
size — the probe asserts it.

Flat = the pruned path's store-size exponent ~0 while the
unpartitioned layout's grows once the store outruns fixed overheads
(measured: the last decade, 1.8M -> 18M rows). The pruned path's
residual term is partition DISCOVERY across batch_id dirs — the cost
compact_vec_store folds away (its output-identity test is in
tests/test_streaming_semantic.py).

Protocol: warmup + 2 timed passes, min (bench.py's). Writes
SCALE_PROBE_SEMANTIC.json at the repo root and prints one JSON line.

Usage:  python tools/semantic_probe.py [--out SCALE_PROBE_SEMANTIC.json]
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

from kafka_flink_slack_pipeline_spark.operators.similarity import (  # noqa: E402
    NEARDUP_THRESHOLD,
    cosine,
)
from kafka_flink_slack_pipeline_spark.session import get_spark  # noqa: E402
from kafka_flink_slack_pipeline_spark.streaming.semantic_dedup import (  # noqa: E402
    _VECTORS,
)
from kafka_flink_slack_pipeline_spark.streaming.store import (  # noqa: E402
    _pruned_store,
)

CORPUS_MULT = 10            # 20k-vector base store (2k/sf0.1 x 10)
BATCH_SRC_N = 50            # cid-0 vectors the probe batch duplicates
BATCH_ID_OFFSET = 100_000_000
STORE_REPLICAS = {"base": 0, "x10": 9, "x100": 99, "x1000": 999}
LAND_BATCH_VECS = 2_000     # vectors per landed batch_id directory


def _emb(spark, corpus_dir: str):
    """(vec_id, emb, ts, cid) with cid = the generator's cluster label —
    the store rows a stream with a label-faithful coarse quantizer
    would land (ts = the r11 version stamp; this probe measures the
    append-only store-growth axis — the update-tail mask is bounded by
    compaction cadence, store-size-independent, and measured live in
    SCALE_PROBE_INDEX/SCALE_PROBE_HYBRID)."""
    return spark.read.parquet(f"{corpus_dir}/embeddings.parquet").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("label").cast("int").alias("cid"),
    )


def _build_base_store(spark, corpus_dir: str, store_dir: str,
                      partitioned: bool) -> int:
    emb = _emb(spark, corpus_dir)
    n = emb.count()
    batch_id = 0
    for lo in range(0, n, LAND_BATCH_VECS):
        w = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + LAND_BATCH_VECS)
        ).write.mode("overwrite")
        if partitioned:
            w = w.partitionBy("cid")
        w.parquet(f"{store_dir}/batch_id={batch_id}")
        batch_id += 1
    return batch_id


def _add_replicas(spark, base_dir: str, store_dir: str, next_id: int,
                  n_rep: int, partitioned: bool) -> int:
    """n_rep replicas of every NON-cid-0 base row, shifted vec_ids —
    history growing in clusters the probe batch never touches."""
    base = (
        spark.read.option("basePath", base_dir)
        .parquet(base_dir)
        .filter(F.col("cid") != 0)
        .select("vec_id", "emb", "ts", "cid")
    )
    rep = base.withColumn(
        "r", F.explode(F.sequence(F.lit(1), F.lit(n_rep)))
    ).select(
        (F.col("vec_id") + F.col("r") * F.lit(1_000_000)).alias("vec_id"),
        "emb",
        "ts",
        "cid",
    )
    w = rep.write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("cid")
    # unpartitioned: keep vec_id interleaving so cid row-group stats
    # cannot skip — the layout a naive deployment actually gets
    w.parquet(f"{store_dir}/batch_id={next_id}")
    return next_id + 1


def _dropped_count(spark, store_dir: str, before: int, batch, pruned: bool):
    """The store-dependent stage work, ending in the verdict action."""
    if pruned:
        touched = [
            tuple(r) for r in batch.select("cid").distinct().collect()
        ]
        store = _pruned_store(
            spark, store_dir, _VECTORS, before, touched
        ).select("vec_id", "emb", "cid")
    else:
        store = (
            spark.read.option("basePath", store_dir)
            .parquet(store_dir)
            .filter(F.col("batch_id") < before)
            .select("vec_id", "emb", "cid")
        )
    hist = store.unionByName(batch.select("vec_id", "emb", "cid"))
    return (
        hist.alias("a")
        .join(
            batch.alias("b"),
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("sim", cosine(F.col("a.emb"), F.col("b.emb")))
        .filter(F.col("sim") >= NEARDUP_THRESHOLD)
        .select(F.col("b.vec_id"))
        .distinct()
        .count()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_PROBE_SEMANTIC.json")
    args = ap.parse_args()

    spark = get_spark("semantic_probe")
    work = tempfile.mkdtemp(prefix="semantic_probe_")
    try:
        from scale_probe import generate

        corpus_dir = f"{work}/corpus"
        os.makedirs(corpus_dir)
        generate(CORPUS_MULT, corpus_dir)

        # the probe batch duplicates landed cid-0 vectors under fresh
        # high ids, WRITTEN TO AND RE-READ FROM parquet so its cids are
        # runtime data (like the stream's JSON drops), not an optimizer-
        # foldable filter constraint; batch-side assignment work is
        # constant everywhere, so it stays out of the timed region
        (
            _emb(spark, corpus_dir)
            .filter(F.col("cid") == 0)
            .limit(BATCH_SRC_N)
            .select(
                (F.col("vec_id") + F.lit(BATCH_ID_OFFSET)).alias("vec_id"),
                "emb",
                "cid",
            )
            .write.parquet(f"{work}/batch")
        )
        batch = spark.read.parquet(f"{work}/batch").localCheckpoint()

        stores: dict[str, dict[bool, tuple[str, int]]] = {}
        for partitioned in (True, False):
            tag = "p" if partitioned else "u"
            base_dir = f"{work}/store_base_{tag}"
            next_id = _build_base_store(
                spark, corpus_dir, base_dir, partitioned
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
                        spark, base_dir, d, next_id, n_rep, partitioned
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
                    spark, store_dir, before, batch, partitioned
                )  # warmup, kept for the equivalence check
                samples = []
                for _ in range(2):
                    t0 = time.time()
                    n = _dropped_count(
                        spark, store_dir, before, batch, partitioned
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

        # the layout is a performance change, not a semantics change —
        # and the probe must be doing real pair work
        assert (
            results["pruned"]["dropped_by_store"]
            == results["unpartitioned"]["dropped_by_store"]
        )
        assert min(results["pruned"]["dropped_by_store"].values()) > 0

        out = {
            "metric": "semantic_store_growth_exponent",
            "method": "fixed 50-duplicate-vector batch (parquet "
            "round-tripped so cids are runtime data) vs landed stores "
            "three decades apart in rows (base = 20k clustered generator "
            "vectors, cid = cluster label; x10/x100 add replicas of "
            "every non-cid-0 row — history in clusters the batch never "
            "touches); shapes = the shipped cid-partitioned pruned scan "
            "vs the SAME rows in an unpartitioned layout (the naive "
            "store a deployment without the cid layout gets); timed "
            "region = touched collect + store scan + union + "
            "within-cluster pair join + verdict count; warmup + 2 "
            "passes, min",
            "store_rows": store_rows,
            "shapes": results,
            "flat": results["pruned"]["store_size_exponent"] < 0.3,
        }
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(repo_root, args.out), "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
