"""Streaming-funnel signature-store probe: is per-batch near-dup cost
FLAT as the landed store grows?

The r7 verdict's one scale-killer was the streaming curation funnel
re-scanning and re-windowing the ENTIRE signature store every
micro-batch — per-batch cost linear in everything ever landed,
quadratic over the stream's lifetime. The fix (streaming/
curation_funnel.py) lays the store out as the LSH index — banded rows
partitioned by (band, bprefix) — and restricts each batch's scan,
semi-join, and bucket-size count to the buckets the batch itself
touches.

This probe measures exactly that stage (the store-dependent part of
foreachBatch: touched-partition collect -> pruned scan -> bucket
semi-join -> as-of-batch cap window -> banded pair join -> count) for a
FIXED incoming batch against stores TWO DECADES apart in row count
(180k / 1.8M / 18M rows), in both shapes:

  pruned      — the shipped path (partition-pruned scan + bucket
                semi-join, count over touched buckets only)
  full_rescan — the r7 shape (whole store unioned with the batch,
                bucket-size window over all of history)

Store construction: the base store is the real minhash index of a
synthetic 10x-sf0.1 corpus (scale_probe.generate, 45k docs -> 180k band
rows). The decade points add 9 and 99 replicas of every band row with
SUFFIXED band keys (bkey || '#k', bprefix recomputed), shifted doc_ids — rows
that live in OTHER buckets than anything the probe batch touches. That
is the exact growth mode the fix targets: history accumulating in
buckets a given batch does not touch. The batch itself is 50 docs whose
texts DUPLICATE landed docs (ids remapped above the store's), so the
pair stage does real work and both shapes must flag the same ~50 docs
at every store size — the layout is a performance change, not a
semantics change, and the probe asserts it.

r12 refresh — the store is the POST-LWW layout and the UPDATE/DELETE
TAIL MASK IS LIVE in the timed region: signature rows are
version-stamped (ts), a docmeta ledger sits folded at statsnap id 0,
and docmeta/batch_id=1 is an uncompacted tail of 250 tombstones + 250
re-ingested versions (targets drawn from docs 1000..1500 — OUTSIDE the
probe batch's duplicate range, so the flagged set stays
size-invariant while the mask join does real masking work: the
tombstoned docs' rows drop, the updated docs serve only their v2
rows, landed as an extra store batch). The unsuppression CORRECTNESS
of the mask is test-pinned (test_funnel_lww_unsuppression_and_update);
this probe measures its COST at scale. The tail is bounded by
compaction cadence by design — the same broadcast-sized mask the
retrieval/semantic/media stores measure (SCALE_PROBE_INDEX /
_SEMANTIC / _MEDIA) — so its cost term is size-INDEPENDENT, which the
exponent verifies.

Flat = the pruned path's store-size exponent ~0 while full_rescan's
grows: 100x store rows should not grow per-batch work. (The pruned
path's residual growth is driver-side partition DISCOVERY — listing a
bigger store's directories — not data work; at cluster scale that moves
into a metastore/log-compacted index, the standard fix.) The incoming
batch's own shingle/minhash work is identical everywhere, so it is
localCheckpointed OUT of the timed region. Both shapes apply the SAME
mask — the counterfactual isolates scan shape, not mask semantics.

Protocol: warmup + 2 timed passes, min taken (bench.py's). Writes
SCALE_PROBE_FUNNEL.json at the repo root and prints one JSON line.

Usage:  python tools/funnel_probe.py [--out SCALE_PROBE_FUNNEL.json]
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

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kafka_flink_slack_pipeline_spark.operators.dedup import (  # noqa: E402
    MINHASH_BUCKET_CAP,
    MINHASH_K,
    _minhash_sig_bands,
    _minhash_sigs,
    _sig_agree,
    _word_shingles,
)
from kafka_flink_slack_pipeline_spark.operators.textops import (  # noqa: E402
    tokens_col,
)
from kafka_flink_slack_pipeline_spark.session import get_spark  # noqa: E402
from kafka_flink_slack_pipeline_spark.streaming.curation_funnel import (  # noqa: E402
    _SIGS,
    _bprefix_col,
    funnel_neardup_probe_adhoc,
    landed_documents_current,
)
from kafka_flink_slack_pipeline_spark.streaming.store import (  # noqa: E402
    _ledger_write,
    _mask_visible,
    _pruned_store,
    _tail_live,
    _write_statsnap,
)

_COLS = ["doc_id", "sig", "band", "bkey", "ts"]
_PAIR_COLS = ["doc_id", "sig", "band", "bkey"]
_TS0 = "2025-01-01 00:00:00"
_TS1 = "2025-02-01 00:00:00"
CORPUS_MULT = 10  # 45k-doc base store from a 50k-doc synthetic corpus
BASE_DOCS = 45_000
BATCH_SRC = (0, 50)  # texts the probe batch duplicates
TAIL_SRC = (1000, 1500)  # tail update/tombstone targets (disjoint)
BATCH_ID_OFFSET = 100_000_000  # batch doc_ids sort above every store id
# decade points = base + N suffixed-bkey replicas (two decades: the
# full-rescan window's linear regime only separates from fixed overheads
# past ~10M rows on 32 local cores)
STORE_REPLICAS = {"base": 0, "x10": 9, "x100": 99}
LAND_BATCH_DOCS = 4_500  # docs per landed batch_id directory


def _bands_of(spark, sf_dir: str, lo: int, hi: int, id_offset: int = 0,
              ts: str = _TS0):
    shingled = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(f"doc_id >= {lo} AND doc_id < {hi}")
        .select(
            (F.col("doc_id") + F.lit(id_offset)).alias("doc_id"),
            F.explode(_word_shingles(tokens_col(), 3)).alias("shingle"),
        )
        .filter("shingle <> ''")
    )
    return (
        _minhash_sig_bands(_minhash_sigs(shingled))
        .withColumn("ts", F.lit(ts).cast("timestamp"))
        .withColumn("bprefix", _bprefix_col())
    )


def _build_ledger(spark, state_dir: str) -> None:
    """The post-LWW ledger fixture: a folded past (statsnap marker at
    id 0, docmeta/batch_id=0 holding the tail targets' v1 rows) plus a
    LIVE uncompacted tail (docmeta/batch_id=1: 250 tombstones + 250
    re-ingested versions among docs 1000..1500). The mask only ever
    joins the TAIL, so the bulk corpus needs no ledger rows — exactly
    the bounded-by-compaction-cadence shape the stores run."""
    lo, hi = TAIL_SRC
    mid = (lo + hi) // 2
    v1 = spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.lit(_TS0).cast("timestamp").alias("ts"),
        F.lit(False).alias("deleted"),
    )
    _ledger_write(v1, state_dir, 0)()
    _write_statsnap(spark, state_dir, upto=1)  # the fold horizon: 0
    tail = spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.lit(_TS1).cast("timestamp").alias("ts"),
        (F.col("id") < mid).alias("deleted"),  # lower half tombstoned
    )
    _ledger_write(tail, state_dir, 1)()


def _build_base_store(spark, sf_dir: str, sigs_dir: str) -> int:
    """Land BASE_DOCS of signatures in LAND_BATCH_DOCS-sized batch dirs
    (the shape a real run leaves behind); returns the next batch id."""
    batch_id = 0
    for lo in range(0, BASE_DOCS, LAND_BATCH_DOCS):
        _bands_of(
            spark, sf_dir, lo, min(lo + LAND_BATCH_DOCS, BASE_DOCS)
        ).write.mode("overwrite").partitionBy("band", "bprefix").parquet(
            f"{sigs_dir}/batch_id={batch_id}"
        )
        batch_id += 1
    return batch_id


def _add_replicas(
    spark, sigs_dir_base: str, sigs_dir: str, next_id: int, n_rep: int
) -> int:
    """n_rep replicas of every base band row into DISTINCT buckets
    (suffixed bkey), shifted doc_ids — history growing in buckets the
    probe batch never touches."""
    base = (
        spark.read.option("basePath", sigs_dir_base)
        .parquet(sigs_dir_base)
        .select(*_COLS)
    )
    rep = (
        base.withColumn("r", F.explode(F.sequence(F.lit(1), F.lit(n_rep))))
        .select(
            (F.col("doc_id") + F.col("r") * F.lit(1_000_000)).alias("doc_id"),
            "sig",
            "band",
            F.concat_ws("#", "bkey", F.col("r").cast("string")).alias("bkey"),
            "ts",
        )
        .withColumn("bprefix", _bprefix_col())
    )
    rep.write.mode("overwrite").partitionBy("band", "bprefix").parquet(
        f"{sigs_dir}/batch_id={next_id}"
    )
    return next_id + 1


def _neardup_count(
    spark, state_dir: str, before: int, batch_bands, pruned: bool
):
    """The store-dependent stage work, ending in the pair-count action —
    INCLUDING the live update/delete tail mask (r12: the shipped judging
    path masks the store side against the ledger before pairing)."""
    sigs_dir = f"{state_dir}/sigs"
    tail = _tail_live(spark, state_dir)
    if pruned:
        touched = [
            (r["band"], r["bprefix"])
            for r in batch_bands.select("band", "bprefix").distinct().collect()
        ]
        store = _mask_visible(
            _pruned_store(spark, sigs_dir, _SIGS, before, touched), tail
        )
        keys = batch_bands.select("band", "bkey").distinct()
        all_t = store.select(*_PAIR_COLS).join(
            F.broadcast(keys), ["band", "bkey"], "semi"
        ).unionByName(batch_bands.select(*_PAIR_COLS))
    else:
        store = _mask_visible(
            spark.read.option("basePath", sigs_dir)
            .parquet(sigs_dir)
            .filter(F.col("batch_id") < before)
            .select(*_COLS),
            tail,
        )
        all_t = store.select(*_PAIR_COLS).unionByName(
            batch_bands.select(*_PAIR_COLS)
        )
    sized = all_t.withColumn(
        "bsize", F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
    )
    bands_a = sized.filter(F.col("bsize") <= MINHASH_BUCKET_CAP)
    est = F.round(
        _sig_agree(F.col("a.sig"), F.col("b.sig")) / F.lit(MINHASH_K), 4
    )
    return (
        bands_a.alias("a")
        .join(
            batch_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(est >= 0.25)
        .select(F.col("b.doc_id"))
        .distinct()
        .count()
    )


def _build_landed(spark, sf_dir: str, out_dir: str) -> None:
    """The landed PRODUCT sink matching the ledger fixture: every base
    doc's v1 row (ts0) plus the 250 re-ingested tail targets' v2 rows
    (ts1) — so the read mask drops 250 tombstoned v1 rows, swaps 250
    superseded v1 rows for their v2s, and serves the rest untouched."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        f"doc_id < {BASE_DOCS}"
    )
    cols = [
        "doc_id",
        "text",
        "source",
        F.lit(_TS0).cast("timestamp").alias("ingest_ts"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        .alias("n_tokens"),
        "lang",
    ]
    docs.select(*cols).write.mode("overwrite").partitionBy("lang").parquet(
        f"{out_dir}/batch_id=0"
    )
    mid = (TAIL_SRC[0] + TAIL_SRC[1]) // 2
    v2 = docs.filter(f"doc_id >= {mid} AND doc_id < {TAIL_SRC[1]}")
    cols[3] = F.lit(_TS1).cast("timestamp").alias("ingest_ts")
    v2.select(*cols).write.mode("overwrite").partitionBy("lang").parquet(
        f"{out_dir}/batch_id=1"
    )


def _add_landed_replicas(spark, out_base: str, out_dir: str, n_rep: int):
    """n_rep shifted-id replicas of the base v1 rows — landed-corpus
    growth in docs the ledger never touched (all stay visible)."""
    base = spark.read.parquet(f"{out_base}/batch_id=0")
    (
        base.withColumn("r", F.explode(F.sequence(F.lit(1), F.lit(n_rep))))
        .select(
            (F.col("doc_id") + F.col("r") * F.lit(1_000_000)).alias(
                "doc_id"
            ),
            "text", "source", "ingest_ts", "n_tokens", "lang",
        )
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(f"{out_dir}/batch_id=2")
    )


def _serve_landed(spark, out_dir: str, state_dir: str, masked: bool):
    """One landed-corpus read: the narrow projection + order-free
    digest both shapes share, so the masked/raw delta isolates the
    tail-mask join (a bare parquet count() would be footer-only and
    not comparable)."""
    if masked:
        df = landed_documents_current(spark, out_dir, state_dir)
    else:
        df = spark.read.option("basePath", out_dir).parquet(out_dir)
    row = (
        df.select("doc_id", "ingest_ts")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # modular digest: a raw sum of xxhash64 longs overflows
            # under ANSI mode at millions of rows
            F.sum(
                F.pmod(
                    F.xxhash64("doc_id", "ingest_ts"),
                    F.lit(1_000_000_007),
                )
            ).alias("dig"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["dig"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_PROBE_FUNNEL.json")
    args = ap.parse_args()

    spark = get_spark("funnel_probe")
    work = tempfile.mkdtemp(prefix="funnel_probe_")
    try:
        from scale_probe import generate  # same synthetic generator

        corpus_dir = f"{work}/corpus"
        os.makedirs(corpus_dir)
        generate(CORPUS_MULT, corpus_dir)

        # the probe batch duplicates landed docs 0..50 under fresh high ids
        batch_bands = _bands_of(
            spark, corpus_dir, *BATCH_SRC, id_offset=BATCH_ID_OFFSET
        ).localCheckpoint()  # batch-side work is constant; keep it out of timing

        base_state = f"{work}/st_base"
        base_sigs = f"{base_state}/sigs"
        next_id = _build_base_store(spark, corpus_dir, base_sigs)
        # the re-ingested tail targets' v2 signatures land as their own
        # store batch (the tail's VISIBLE rows — their v1 rows and the
        # tombstoned targets' rows must be masked away in the timed
        # region); the ledger fixture supplies the folded marker + the
        # live docmeta tail
        mid = (TAIL_SRC[0] + TAIL_SRC[1]) // 2
        _bands_of(
            spark, corpus_dir, mid, TAIL_SRC[1], ts=_TS1
        ).write.mode("overwrite").partitionBy("band", "bprefix").parquet(
            f"{base_sigs}/batch_id={next_id}"
        )
        next_id += 1
        _build_ledger(spark, base_state)
        states = {"base": (base_state, next_id)}
        for name, n_rep in STORE_REPLICAS.items():
            if n_rep == 0:
                continue
            st = f"{work}/st_{name}"
            shutil.copytree(base_state, st)
            states[name] = (
                st,
                _add_replicas(
                    spark, base_sigs, f"{st}/sigs", next_id, n_rep
                ),
            )
        store_rows = {
            name: spark.read.option("basePath", f"{st}/sigs")
            .parquet(f"{st}/sigs")
            .filter(F.col("batch_id") < before)
            .count()
            for name, (st, before) in states.items()
        }

        results: dict[str, dict] = {}
        for shape in ("pruned", "full_rescan"):
            times: dict[str, float] = {}
            flags: dict[str, int] = {}
            for name, (state_dir, before) in states.items():
                samples = []
                flagged = _neardup_count(
                    spark, state_dir, before, batch_bands, shape == "pruned"
                )  # warmup, result kept for the equivalence check
                for _ in range(2):
                    t0 = time.time()
                    n = _neardup_count(
                        spark, state_dir, before, batch_bands,
                        shape == "pruned",
                    )
                    samples.append(time.time() - t0)
                    assert n == flagged
                times[name] = round(min(samples), 3)
                flags[name] = flagged
            growth = store_rows["x100"] / store_rows["base"]
            exponent = round(
                math.log(times["x100"] / times["base"]) / math.log(growth), 3
            )
            results[shape] = {
                "times_by_store": times,
                "flagged_by_store": flags,
                "store_size_exponent": exponent,
            }

        # both shapes must FLAG THE SAME DOCS at both store sizes — the
        # layout is a performance change, not a semantics change — and
        # the probe must be doing real pair work
        assert (
            results["pruned"]["flagged_by_store"]
            == results["full_rescan"]["flagged_by_store"]
        )
        assert min(results["pruned"]["flagged_by_store"].values()) > 0

        # r13: price the PROBE FACE (funnel_neardup_probe_adhoc — the
        # non-ingesting request path, previously test-pinned but
        # unpriced) across the same decades. The face runs the full
        # path per request: signature kernel over the probe texts +
        # pruned masked store scan + pair join.
        probe_texts = {
            int(r["doc_id"]): r["text"]
            for r in spark.read.parquet(
                f"{corpus_dir}/documents.parquet"
            )
            .filter(
                f"doc_id >= {BATCH_SRC[0]} AND doc_id < {BATCH_SRC[1]}"
            )
            .collect()
        }

        def _probe_dups(state_dir: str) -> int:
            return sum(
                1
                for r in funnel_neardup_probe_adhoc(
                    spark, state_dir, probe_texts
                ).collect()
                if r["is_dup"]
            )

        ptimes: dict[str, float] = {}
        pdups: dict[str, int] = {}
        for name, (state_dir, _before) in states.items():
            n0 = _probe_dups(state_dir)  # warmup + verdict snapshot
            samples = []
            for _ in range(2):
                t0 = time.time()
                n = _probe_dups(state_dir)
                samples.append(time.time() - t0)
                assert n == n0
            ptimes[name] = round(min(samples), 3)
            pdups[name] = n0
        assert len(set(pdups.values())) == 1 and pdups["base"] > 0, (
            "probe verdicts must be store-size-invariant and non-trivial"
        )
        results["probe_adhoc"] = {
            "times_by_store": ptimes,
            "dup_probes_by_store": pdups,
            "store_size_exponent": round(
                math.log(ptimes["x100"] / ptimes["base"])
                / math.log(growth),
                3,
            ),
        }

        # r13: price the LANDED-CORPUS read path (landed_documents_
        # current — the PRODUCT sink under the mask) vs the raw read.
        # Returning the corpus is inherently O(corpus) — both shapes
        # grow ~linearly — so the claim here is that the MASK adds a
        # size-independent term, read off the masked-minus-raw delta.
        out_base = f"{work}/out_base"
        _build_landed(spark, corpus_dir, out_base)
        outs = {"base": out_base}
        for name, n_rep in STORE_REPLICAS.items():
            if n_rep == 0:
                continue
            od = f"{work}/out_{name}"
            shutil.copytree(out_base, od)
            _add_landed_replicas(spark, out_base, od, n_rep)
            outs[name] = od
        landed: dict[str, dict] = {"landed_current": {}, "landed_raw": {}}
        lrows: dict[str, dict[str, int]] = {"landed_current": {}, "landed_raw": {}}
        for masked, face in ((True, "landed_current"), (False, "landed_raw")):
            for name in states:
                state_dir = states[name][0]
                n0, dig0 = _serve_landed(spark, outs[name], state_dir, masked)
                samples = []
                for _ in range(2):
                    t0 = time.time()
                    n, dig = _serve_landed(
                        spark, outs[name], state_dir, masked
                    )
                    samples.append(time.time() - t0)
                    assert (n, dig) == (n0, dig0)
                landed[face][name] = round(min(samples), 3)
                lrows[face][name] = n0
        mid = (TAIL_SRC[0] + TAIL_SRC[1]) // 2
        for name, n_rep in STORE_REPLICAS.items():
            rep_rows = BASE_DOCS * n_rep
            assert lrows["landed_raw"][name] == (
                BASE_DOCS + (TAIL_SRC[1] - mid) + rep_rows
            )
            # mask: -250 tombstoned v1, -250 superseded v1 (+ their v2s
            # already counted in raw)
            assert lrows["landed_current"][name] == (
                BASE_DOCS - (mid - TAIL_SRC[0]) + rep_rows
            )
        results["landed_read_path"] = {
            "times_by_store": landed,
            "rows_by_store": lrows,
            "mask_overhead_s_by_store": {
                name: round(
                    landed["landed_current"][name]
                    - landed["landed_raw"][name],
                    3,
                )
                for name in states
            },
            "current_exponent": round(
                math.log(
                    landed["landed_current"]["x100"]
                    / landed["landed_current"]["base"]
                )
                / math.log(
                    lrows["landed_raw"]["x100"] / lrows["landed_raw"]["base"]
                ),
                3,
            ),
            "raw_exponent": round(
                math.log(
                    landed["landed_raw"]["x100"]
                    / landed["landed_raw"]["base"]
                )
                / math.log(
                    lrows["landed_raw"]["x100"] / lrows["landed_raw"]["base"]
                ),
                3,
            ),
        }

        out = {
            "metric": "funnel_store_growth_exponent",
            "method": "fixed 50-duplicate-doc batch vs landed stores "
            "two decades apart in rows (base = real minhash index of a 10x "
            "synthetic sf0.1 corpus; x10 adds 9 suffixed-bkey replicas — "
            "history in buckets the batch never touches); r12: post-LWW "
            "layout (version-stamped rows) with the update/delete TAIL "
            "MASK LIVE in the timed region — folded ledger marker + a "
            "500-doc uncompacted docmeta tail (250 tombstones, 250 "
            "re-ingests whose v2 signatures ride a store batch); the "
            "tail is bounded by compaction cadence, so its mask-join "
            "cost term is size-independent (the claim the exponent "
            "verifies); timed region = store scan + tail mask + bucket "
            "semi-join + cap window + pair join; warmup + 2 passes, min. "
            "r13 adds two read-path faces over the same decades: "
            "probe_adhoc = funnel_neardup_probe_adhoc with the 50 "
            "duplicate texts as the request workload (full path: "
            "signature kernel + pruned masked scan + pair join), and "
            "landed_read_path = landed_documents_current (the PRODUCT "
            "sink under the mask) vs the raw unmasked read with an "
            "identical projection+digest action",
            "caveats": "tail targets sit OUTSIDE the probe batch's "
            "duplicate range so the flagged set stays size-invariant "
            "while the mask does real work; unsuppression CORRECTNESS "
            "is pinned by test_funnel_lww_unsuppression_and_update, "
            "this probe prices the mask; pruned-path residual growth "
            "is partition discovery (metastore-class fix at cluster "
            "scale), and the full_rescan counterfactual applies the "
            "same mask — it isolates scan shape only. The landed read "
            "path RETURNS the corpus, so both its shapes are "
            "inherently ~linear (exponent ~1 expected); the claim is "
            "the masked-minus-raw DELTA staying flat, and its row "
            "counts are asserted exactly (tombstoned v1 gone, "
            "superseded v1 swapped for v2)",
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
