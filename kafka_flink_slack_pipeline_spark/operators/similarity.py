"""Similarity search over `embeddings` (north-star surface).

  cosine_topk_bruteforce  exact cosine top-k for a query set (the baseline)
  embedding_neardup_pairs cosine >= threshold near-duplicate pairs
  LSH-bucketed ANN        later milestone (random-hyperplane buckets →
                          candidate join → exact re-rank)

Scale notes (100 TB):
  - Brute force is O(|Q|·|C|): fine when the query set is small (here 10)
    and the candidate side streams — the crossJoin is a broadcast of the
    QUERY side (tiny), so candidates never shuffle. At billion-vector
    scale the LSH/IVF variant prunes candidates by bucket first.
  - Dot products are pure column expressions (zip_with + aggregate) in
    doubles — JVM-side, no Python. An Arrow pandas-UDF matmul variant
    is the fallback for very wide vectors (numpy BLAS beats per-element
    codegen); at dim=64 the column expression wins on serialization cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import QuerySpec
from ..tables import spread, table


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, sequential left fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # float32 → double BEFORE any arithmetic: both engines then do identical
    # IEEE-double accumulation in array order.
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )


# --------------------------------------------------------------------------
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors (vec_id < 10)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    # r14: candidate side spread off the single-task scan (single-row-
    # group input) — the |Q|x|C| cosine fold otherwise runs on one core.
    c = spread(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qe"), F.col("ne")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


COSINE_TOPK_ORACLE = """
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.emb, c.emb) AS sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id ASC
         ) AS rank
  FROM      (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE vec_id < 10) q
  CROSS JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) c
  WHERE q.vec_id <> c.vec_id
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs — banded-LSH candidates, exact
# cosine re-filter. The scale shape: candidates come from an EQUI-join on
# (band_index, band_value) over a 120-bit hyperplane signature (12 bands x
# 10 bits), carrying ONLY ids through the band explode (embeddings join
# back after pair dedup), so there is no nested-loop join and no wide-row
# amplification anywhere in the plan.
#
# The synthetic embeddings are near-orthogonal (all organic pairs < 0.61
# cosine) — real near-dup thresholds (>= 0.8) would match nothing, while a
# noise-floor threshold defeats every sublinear candidate scheme
# (cosine 0.4 = 66 deg: per-bit hyperplane agreement is only 0.63, so
# banded/multi-probe/IVF recall collapses — measured 42-95% with quadratic
# fan-out). So, like dedup_exact_normalized, the query PLANTS deterministic
# near-duplicates in-query: every 20th vector is re-added (vec_id + 10^6)
# with small components (|x| < 0.05) sign-flipped — cosine ~0.95 to its
# source, pure arithmetic so bit-exact in both engines. At threshold 0.8
# exactly the planted pairs qualify, and the banded signature captures them
# with margin: measured 0 missed at sf0.001/0.01/0.1 with candidate fan-out
# 1.6% of all-pairs (per-bit agreement at cosine 0.95 is ~0.9, so a pair
# misses all 12 bands with probability (1 - 0.9^10)^12 ~ 1e-2, and the
# deterministic planes were verified against every SF directly). The
# oracle is the plain brute-force all-pairs form — the strongest possible
# check that the LSH path loses nothing.

NEARDUP_THRESHOLD = 0.8
NEARDUP_FLIP = 0.05       # |component| below this flips sign in the plant
NEARDUP_BAND_BITS = 10
NEARDUP_BANDS = 12


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ deterministic perturbed copies of every 20th vector."""
    base = _emb(spark, sf_dir).select("vec_id", "emb")
    planted = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "emb",
            lambda x: F.when(F.abs(x) < NEARDUP_FLIP, -x).otherwise(x),
        ).alias("emb"),
    )
    return base.unionByName(planted)


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Near-dup pairs via banded hyperplane-LSH candidates + exact cosine."""
    planes = _hyperplanes(NEARDUP_BAND_BITS * NEARDUP_BANDS)
    corpus = _neardup_corpus(spark, sf_dir)
    # 120 signature bits in ONE expression: fold each row of the plane
    # matrix literal against emb (the lambda body is a single reused node,
    # not 120 inlined folds — keeps codegen small).
    bits = F.transform(
        F.lit(planes),
        lambda row: F.aggregate(
            F.zip_with(F.col("emb"), row, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        > 0,
    )
    band_vals = F.transform(
        F.sequence(F.lit(0), F.lit(NEARDUP_BANDS - 1)),
        lambda b: F.aggregate(
            F.zip_with(
                F.slice(bits, b * NEARDUP_BAND_BITS + 1, NEARDUP_BAND_BITS),
                F.lit([1 << p for p in range(NEARDUP_BAND_BITS)]),
                lambda bit, p: F.when(bit, p).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )
    # ids-only band frame: (vec_id, band_idx, band_val)
    bands = corpus.select(
        "vec_id", F.posexplode(band_vals).alias("band_idx", "band_val")
    )
    # r4: bucket-grouped pair generation (same shape as dedup_minhash_lsh)
    # — the 120-bit signature pipeline runs ONCE instead of per self-join
    # side (Spark 4.1 AQE: no cross-branch exchange reuse). Buckets carry
    # only vec_ids; the exact-cosine re-rank below joins the vectors back.
    buckets = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.collect_list("vec_id").alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    pairs = (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("vec_a"), F.col("b").alias("vec_b"))
        .distinct()
    )
    ea = corpus.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"))
    eb = corpus.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"))
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("sim", cosine(F.col("ea"), F.col("eb")))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))
        .orderBy("vec_a", "vec_b")
    )


EMB_NEARDUP_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
corpus AS (
  SELECT vec_id, emb FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(emb, x -> CASE WHEN abs(x) < {NEARDUP_FLIP} THEN -x
                                       ELSE x END) AS emb
  FROM base WHERE vec_id % 20 = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.emb, b.emb), 6) AS sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


# --------------------------------------------------------------------------
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean intra-label cosine to the label centroid (clustering quality).

    Determinism: the centroid mean and the final sim mean both go through
    exact DECIMAL accumulation (inputs quantized at 15 fractional digits —
    the double→decimal cast is per-row deterministic and identical across
    engines), so neither Spark's partial-agg order (which varies with
    partitioning — the driver runs 200 shuffle partitions, not our 32) nor
    the oracle's scan order can move an ulp. The per-vector cosine stays a
    fixed-order double fold. Emitted UNROUNDED per the numeric policy."""
    emb = _emb(spark, sf_dir)
    # centroid = element-wise mean: explode with position, avg, re-assemble.
    exploded = emb.select("vec_id", "label", F.posexplode("emb").alias("pos", "x"))
    centroid = (
        exploded.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(25,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cx")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"],
            ).alias("centroid")
        )
    )
    return (
        emb.join(F.broadcast(centroid), "label")
        .withColumn("sim", cosine(F.col("emb"), F.col("centroid")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum(F.col("sim").cast("decimal(25,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_centroid_sim"),
        )
        .orderBy("label")
    )


LABEL_CENTROID_ORACLE = """
WITH exploded AS (
  SELECT vec_id, label, u.x, u.pos
  FROM embeddings,
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS pos) u
),
centroid AS (
  SELECT label, pos,
         sum(x::DECIMAL(25,15))::DOUBLE / count(*) AS cx
  FROM exploded GROUP BY label, pos
),
sims AS (
  SELECT e.vec_id, e.label,
         sum(e.x * c.cx) / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))) AS sim
  FROM exploded e JOIN centroid c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.vec_id, e.label
)
SELECT label, count(*) AS n_vectors,
       sum(sim::DECIMAL(25,15))::DOUBLE / count(*) AS avg_centroid_sim
FROM sims GROUP BY label ORDER BY label
"""


# --------------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplane signatures, multi-probe).
#
# The hyperplanes are generated DRIVER-SIDE from hashlib.md5 (deterministic,
# seed-stamped) and embedded as float literals in BOTH the Spark plan and
# the DuckDB oracle SQL — no cross-engine hash function needed, and the
# dot-product fold order is the array order in both engines.
#
# Scale path: each vector gets one NBITS-bit bucket PER hash table (the
# classic L-tables LSH layout — one table alone has poor recall when the
# similarity spread is flat, as it is for the synthetic embeddings whose
# true top-5 sit at cosine 0.25-0.49). The query side explodes into all
# probe buckets within hamming <= PROBE_HAMMING per table (37 probes × 4
# tables here) and the candidate join is an EQUI-join on (table, bucket) —
# hash-partitionable, no cross join, candidate side never broadcasts.
# Candidates dedup on (query, neighbor) before the exact-cosine re-rank.
# The oracle replicates the same candidate set with OR-ed bit_count filters.

ANN_NBITS = 8
ANN_TABLES = 4
ANN_PROBE_HAMMING = 2
ANN_DIM = 64


def _hyperplanes(
    n_planes: int = ANN_NBITS * ANN_TABLES, dim: int = ANN_DIM
) -> list[list[float]]:
    """Deterministic pseudo-random planes: component = md5("ann:p:j") mapped
    to [-1, 1). Same bytes everywhere hashlib exists; embedded as literals.
    Table t uses planes [t*NBITS, (t+1)*NBITS)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for j in range(dim):
            h = hashlib.md5(f"ann:{p}:{j}".encode()).hexdigest()
            row.append(int(h[:15], 16) / float(1 << 59) - 1.0)
        planes.append(row)
    return planes


def _bucket_expr(emb: Column, planes: list[list[float]]) -> Column:
    """NBITS-bit LSH bucket: bit p = (plane_p . emb) > 0.

    Each plane is a TRUE array literal (`F.lit(list)`, one Literal node
    holding data) rather than F.array of 64 scalar literals: the
    element-wise form inlines ~2k expression nodes into whole-stage
    codegen, and compiling that source dominated query time (~3.5s per
    fresh plan, paid on every run because new expression ids defeat the
    codegen cache)."""
    bucket = F.lit(0).cast("long")
    for p, row in enumerate(planes):
        d = F.aggregate(
            F.zip_with(emb, F.lit(row), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _probe_masks(nbits: int, radius: int) -> list[int]:
    """All XOR masks with popcount <= radius (multi-probe expansion)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(nbits), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 cosine neighbors via multi-probe, multi-table
    hyperplane LSH: candidates share a bucket (within hamming<=2 probes) in
    ANY of the 4 tables; exact cosine re-ranks the deduped candidates."""
    cand = _lsh_candidates(spark, sf_dir, ANN_PROBE_HAMMING)
    return _lsh_rank(cand)


def _lsh_rank(cand: DataFrame) -> DataFrame:
    scored = cand.withColumn("sim", cosine(F.col("qe"), F.col("ne")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim")
        )
        .orderBy("query_id", "rank")
    )


def _lsh_candidates(
    spark: SparkSession, sf_dir: str, radius: int
) -> DataFrame:
    """Deduped (query, neighbor, qe, ne) LSH candidates at the given
    multi-probe radius — the production bucket-join plan, radius only
    changing the probe-mask expansion."""
    planes = _hyperplanes()
    emb = _emb(spark, sf_dir)
    tables = [planes[t * ANN_NBITS : (t + 1) * ANN_NBITS] for t in range(ANN_TABLES)]
    def _bucketed(src: DataFrame) -> DataFrame:
        return src.select(
            "vec_id",
            "emb",
            *[
                _bucket_expr(F.col("emb"), tables[t]).alias(f"bucket{t}")
                for t in range(ANN_TABLES)
            ],
        )

    # query side reads the scan directly (vec_id < 10 pushes down);
    # r14: the candidate side's 4x64-plane bucket fold is spread off the
    # single-task scan (single-row-group input).
    bucketed = _bucketed(emb)
    # candidate side: one row per (vector, table)
    c = _bucketed(spread(emb, "vec_id")).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("ne"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"bucket{t}").alias("bucket")
                    )
                    for t in range(ANN_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("neighbor_id", "ne", "tb.t", "tb.bucket")
    # query side: one row per (query, table, probe bucket)
    masks = _probe_masks(ANN_NBITS, radius)
    q = bucketed.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        F.col(f"bucket{t}")
                        .bitwiseXOR(F.lit(m).cast("long"))
                        .alias("bucket"),
                    )
                    for t in range(ANN_TABLES)
                    for m in masks
                ]
            )
        ).alias("tb"),
    ).select("query_id", "qe", "tb.t", "tb.bucket")
    return (
        c.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qe").alias("qe"), F.first("ne").alias("ne"))
    )


def _lsh_oracle() -> str:
    planes = _hyperplanes()

    def bucket_sql(t: int) -> str:
        return " + ".join(
            "(CASE WHEN ("
            + " + ".join(
                f"emb[{j + 1}] * ({planes[t * ANN_NBITS + p][j]!r})"
                for j in range(ANN_DIM)
            )
            + f") > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(ANN_NBITS)
        )

    buckets = ",\n       ".join(
        f"{bucket_sql(t)} AS bucket{t}" for t in range(ANN_TABLES)
    )
    any_table = " OR ".join(
        f"bit_count(xor(q.bucket{t}::BIGINT, c.bucket{t}::BIGINT))"
        f" <= {ANN_PROBE_HAMMING}"
        for t in range(ANN_TABLES)
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, emb,
       {buckets}
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.emb, c.emb) AS sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(q.emb, c.emb) DESC, c.vec_id ASC
         ) AS rank
  FROM (SELECT * FROM bucketed WHERE vec_id < 10) q
  JOIN bucketed c
    ON ({any_table})
   AND q.vec_id <> c.vec_id
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


COSINE_TOPK_LSH_ORACLE = _lsh_oracle()


# --------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer + inverted lists + nprobe search.
#
# A production IVF trains k-means centroids; any deterministic coarse
# quantizer gives the same STRUCTURE, so here the label centroids (computed
# exactly as in label_centroid_similarity) serve as the codebook — keeping
# the whole index SQL-expressible for the oracle. Every vector is assigned
# to its nearest centroid (one inverted list per centroid); a query scans
# only its NPROBE nearest lists and re-ranks exactly. At billion-vector
# scale the lists are hash-partitioned by centroid id and the probe join is
# an equi-join on that id — same shape as the LSH variant, different
# pruning geometry (Voronoi cells vs random hyperplanes).

IVF_NPROBE = 3


def _centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    exploded = emb.select("label", F.posexplode("emb").alias("pos", "x"))
    return (
        exploded.groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(25,15)")).cast("double")
                / F.count(F.lit(1))
            ).alias("cx")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "cx"))),
                lambda s: s["cx"],
            ).alias("centroid")
        )
        .select(F.col("label").alias("cid"), "centroid")
    )


def _centroid_model(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The coarse-quantizer codebook as DRIVER-held model state:
    (cid, centroid) sorted by cid — O(k*d) doubles, the same treatment as
    kmeans centroids / LSH hyperplanes / the PQ codebook. Collected once
    per query build; embedded as array literals so assignment is a pure
    narrow map (whole-stage codegen, no broadcast join, no shuffle)."""
    return sorted(
        ((r.cid, list(r.centroid)) for r in _centroids(spark, sf_dir).collect()),
        key=lambda t: t[0],
    )


def _centroid_sims(model: list[tuple[int, list[float]]], emb_col, norm_col):
    """Array of cosine(emb, centroid_c) in cid order, as one column expr.

    `norm_col` must be a PROJECTED column holding norm(emb) — passing
    the raw norm(emb) fold here would inline it once per centroid (k
    redundant 64-element aggregate folds per row; the repo's
    tokens-projection/CSE rule). The literal-side norm is precomputed
    in Python with the same left-to-right IEEE summation as the Spark
    fold, so the quotient is bit-identical to the old joined form."""
    import math

    out = []
    for _, c in model:
        cnorm = 0.0
        for x in c:
            cnorm = cnorm + x * x
        out.append(
            dot(emb_col, F.array(*[F.lit(float(x)) for x in c]))
            / (norm_col * F.lit(math.sqrt(cnorm)))
        )
    return F.array(*out)


def ivf_assign(vecs: DataFrame, model: list[tuple[int, list[float]]]) -> DataFrame:
    """`vecs` plus `cid`, the nearest centroid of its `emb` vector under
    `model`: the first position of the max of the projected cosine
    array (_centroid_sims), so ties go to the lowest cid. The one
    assignment kernel of the IVF index, SemDeDup and the hybrid and
    semantic stores."""
    keep = vecs.columns
    cids = F.array(*[F.lit(int(cid)) for cid, _ in model])
    sims = F.col("csims")
    return (
        vecs.select(*keep, norm(F.col("emb")).alias("nrm"))
        .select(*keep, _centroid_sims(model, F.col("emb"), F.col("nrm")).alias("csims"))
        .select(
            *keep,
            F.element_at(
                cids, F.array_position(sims, F.array_max(sims)).cast("int")
            ).alias("cid"),
        )
    )


def ivf_probes(
    queries: DataFrame, model: list[tuple[int, list[float]]], nprobe: int
) -> DataFrame:
    """(query_id, qe) -> one (query_id, qe, cid) row for each of the
    query's `nprobe` nearest centroids: array_sort on (-csim, cid)
    structs, so ties go to the lowest cid, as in assignment. Shared by
    the IVF searchers, the hybrid store's serve path and its probe
    tool."""
    ranked = F.slice(
        F.array_sort(
            F.zip_with(
                F.col("csims"),
                F.array(*[F.lit(int(cid)) for cid, _ in model]),
                lambda s, c: F.struct((-s).alias("negsim"), c.alias("cid")),
            )
        ),
        1,
        nprobe,
    )
    return (
        queries.select("query_id", "qe", norm(F.col("qe")).alias("nrm"))
        .select(
            "query_id",
            "qe",
            _centroid_sims(model, F.col("qe"), F.col("nrm")).alias("csims"),
        )
        .select("query_id", "qe", F.explode(ranked).alias("probe"))
        .select("query_id", "qe", F.col("probe.cid").alias("cid"))
    )


def ivf_rerank(cand: DataFrame, probes: DataFrame, topk: int) -> DataFrame:
    """Exact re-rank inside the probed lists: candidates (neighbor_id,
    ne, cid) join the broadcast probes (query_id, qe, cid) on cid, a
    query's own vector is dropped, and the first `topk` by (sim DESC,
    neighbor_id) are kept per query, as (query_id, neighbor_id, rank,
    sim) with sim unrounded. Shared by _ivf_topk and the hybrid
    store's serve path."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qe"), F.col("ne")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _ivf_index(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    query_pred=None,
    model: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(candidates, probes) shared by the IVF and IVF-PQ searchers:
    inverted lists keyed by nearest centroid (ivf_assign), and each
    query's NPROBE nearest lists (ivf_probes). `query_pred` overrides
    the default vec_id < 10 query workload (hybrid_search_rrf_ivf passes
    the BM25 seed rule so the fused retrievers share one information
    need per query). `model` overrides the corpus-trained codebook — the
    retrain comparator: streaming/hybrid_index's retrain test pins
    store-serving parity under a codebook that is NOT this corpus's
    label centroids.

    The codebook is collected once as model state and enters the plan
    as literals: assignment is an argmax over a PROJECTED per-centroid
    cosine array and probing ranks the same array — no
    BroadcastNestedLoopJoin, no k-times row amplification, no vec_id
    window shuffle."""
    emb = _emb(spark, sf_dir)
    if model is None:
        model = _centroid_model(spark, sf_dir)
    # the per-vector k-centroid cosine array is the compute-dense head
    # of the candidate side — spread it off the single-task scan (the
    # probes branch keeps reading the scan directly so its query_pred
    # still pushes down)
    cand = ivf_assign(
        spread(emb, "vec_id").select(F.col("vec_id").alias("neighbor_id"), "emb"),
        model,
    ).withColumnRenamed("emb", "ne")
    probes = ivf_probes(
        emb.filter(F.col("vec_id") < 10 if query_pred is None else query_pred)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")),
        model,
        nprobe,
    )
    return cand, probes


def cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 cosine neighbors via IVF: nearest-centroid
    inverted lists, nprobe=3 probe, exact re-rank inside probed lists."""
    return _ivf_topk(spark, sf_dir, IVF_NPROBE)


def _ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    query_pred=None,
    topk: int = 5,
    model: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The list-pruned IVF ranker: probe nprobe lists, exact re-rank
    inside them. `query_pred`/`topk` let hybrid_search_rrf_ivf reuse it
    with the BM25 seed workload and the fusion's deeper top-k; `model`
    overrides the codebook (see _ivf_index)."""
    cand, probes = _ivf_index(
        spark, sf_dir, nprobe, query_pred=query_pred, model=model
    )
    return (
        ivf_rerank(cand, probes, topk)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------------
# IVF-PQ: the production ANN composition (FAISS's IndexIVFPQ shape) —
# IVF inverted lists prune candidates, a PQ-reconstructed ASYMMETRIC
# first stage ranks them cheaply (query stays exact, candidate is its
# 8-byte code's reconstruction), and only the top 2k survivors get the
# exact cosine re-rank. Reuses _ivf_index and curation's PQ codebook
# (first-K-vectors, deterministic). At billion-vector scale stage one
# reads 8-byte codes instead of 256-byte vectors — the memory-bandwidth
# win that makes IVF-PQ the default production index.
# Survivors of the PQ stage per query. 5x the final k: with the crude
# first-K-vectors codebook the PQ ranking is noisy (measured at sf0.01:
# stage1=10 -> mean recall 0.24 vs IVF's 0.50 ceiling; stage1=25
# recovers it — the standard IVF-PQ knob, trade exact re-ranks for
# recall inside the probed lists).
IVFPQ_STAGE1_K = 25


def cosine_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (r4 rewrite of the stage-1 expression shape).

    PQ codes are computed ONCE PER VECTOR on the embeddings frame — the
    per-subspace distance array is projected to a column `d{j}` and the
    argmin reads the projected column (the repo's tokens-projection/CSE
    rule: the r3 form inlined the 16-centroid fold TWICE per subspace,
    under array_position AND array_min, on the (query, candidate) PAIR
    frame — ~256 aggregate folds in one projection, 1.3 MiB task
    binaries, 35.5 s at sf0.01). The candidate join then carries 8 int
    codes (32 bytes) instead of a 64-double reconstruction, and the
    reconstructed vector is assembled AFTER the join by indexing literal
    per-subspace codebook arrays — exactly how a production IVF-PQ
    index stores 8-byte codes and reconstructs at query time.
    """
    from .curation import _PQ_K, _PQ_M, _PQ_SUBDIM

    cand, probes = _ivf_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    codebook = [
        r.emb
        for r in emb.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
    ]

    def d2(col, lits):
        return F.aggregate(
            F.zip_with(
                col,
                F.array(*[F.lit(float(x)) for x in lits]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    dist_cols = [
        F.array(
            *[
                d2(
                    F.slice("emb", j * _PQ_SUBDIM + 1, _PQ_SUBDIM),
                    codebook[c][j * _PQ_SUBDIM:(j + 1) * _PQ_SUBDIM],
                )
                for c in range(_PQ_K)
            ]
        ).alias(f"d{j}")
        for j in range(_PQ_M)
    ]
    # r14: the 8x16 subspace distance folds are the compute-dense head —
    # spread them off the single-task scan (single-row-group input).
    codes = spread(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), *dist_cols
    ).select(
        "neighbor_id",
        *[
            F.array_position(F.col(f"d{j}"), F.array_min(f"d{j}"))
            .cast("int")
            .alias(f"c{j}")
            for j in range(_PQ_M)
        ],
    )
    sub_cents = [
        F.array(
            *[
                F.array(
                    *[
                        F.lit(float(x))
                        for x in codebook[c][j * _PQ_SUBDIM:(j + 1) * _PQ_SUBDIM]
                    ]
                )
                for c in range(_PQ_K)
            ]
        )
        for j in range(_PQ_M)
    ]
    recon = F.concat(
        *[F.element_at(sub_cents[j], F.col(f"c{j}")) for j in range(_PQ_M)]
    )
    staged = (
        cand.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(codes, "neighbor_id")
        .withColumn("recon", recon)
        .withColumn(
            "approx_sim", F.round(cosine(F.col("qe"), F.col("recon")), 6)
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    survivors = (
        staged.withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= IVFPQ_STAGE1_K)
        # stage-2 rank on the ROUNDED cosine, matching stage 1 and the
        # other ANN ops: a cross-engine ulp difference at a near-tie
        # must not flip ranks (tie-break on neighbor_id follows).
        .withColumn("sim", F.round(cosine(F.col("qe"), F.col("ne")), 6))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            "sim",
            "approx_sim",
        )
        .orderBy("query_id", "rank")
    )


def _ivfpq_oracle() -> str:
    from .curation import _PQ_K, _PQ_M, _PQ_SUBDIM

    return f"""
WITH exploded AS (
  SELECT vec_id, label, u.x, u.pos
  FROM embeddings,
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS pos) u
),
centroid AS (
  SELECT label AS cid, pos,
         sum(x::DECIMAL(25,15))::DOUBLE / count(*) AS cx
  FROM exploded GROUP BY label, pos
),
csims AS (
  SELECT e.vec_id, c.cid,
         sum(e.x * c.cx) / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))) AS csim
  FROM exploded e JOIN centroid c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cid
),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rk
  FROM csims
),
assigned AS (SELECT vec_id, cid FROM ranked WHERE rk = 1),
probes AS (SELECT vec_id AS query_id, cid FROM ranked
           WHERE rk <= {IVF_NPROBE} AND vec_id < 10),
emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
        FROM embeddings),
subs AS (
  SELECT vec_id, j,
         list_slice(e, j * {_PQ_SUBDIM} + 1, (j + 1) * {_PQ_SUBDIM}) AS sv
  FROM emb, generate_series(0, {_PQ_M - 1}) g(j)
),
cb AS (SELECT vec_id AS ccid, j, sv AS cv FROM subs WHERE vec_id < {_PQ_K}),
pq_dists AS (
  SELECT s.vec_id, s.j, c.ccid, c.cv,
         list_reduce(
           list_transform(list_zip(s.sv, c.cv),
                          p -> (p[1] - p[2]) * (p[1] - p[2])),
           (acc, x) -> acc + x
         ) AS d
  FROM subs s JOIN cb c USING (j)
),
pq_best AS (
  SELECT vec_id, j, cv,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY d, ccid) AS rn
  FROM pq_dists
),
recon AS (
  SELECT vec_id, flatten(list(cv ORDER BY j)) AS r
  FROM pq_best WHERE rn = 1 GROUP BY vec_id
),
staged AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(qe.e, r.r), 6) AS approx_sim,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY round(list_cosine_similarity(qe.e, r.r), 6) DESC,
                    a.vec_id ASC
         ) AS rk1
  FROM probes p
  JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
  JOIN emb qe ON qe.vec_id = p.query_id
  JOIN recon r ON r.vec_id = a.vec_id
)
SELECT query_id, neighbor_id, rank, sim, approx_sim
FROM (
  SELECT s.query_id, s.neighbor_id, s.approx_sim,
         round(list_cosine_similarity(qe.e, ne.e), 6) AS sim,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY round(list_cosine_similarity(qe.e, ne.e), 6) DESC,
                    s.neighbor_id ASC
         ) AS rank
  FROM staged s
  JOIN emb qe ON qe.vec_id = s.query_id
  JOIN emb ne ON ne.vec_id = s.neighbor_id
  WHERE s.rk1 <= {IVFPQ_STAGE1_K}
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


def _ivf_oracle_at(
    nprobe: int,
    query_where: str = "vec_id < 10",
    topk: int = 5,
    corpus: str = "embeddings",
    centroid_corpus: str | None = None,
    prelude: str = "",
) -> str:
    """The IVF oracle parameterized by nprobe (feeds the standalone
    query's oracle, the nprobe-sweep report's per-row CTEs, and — via
    query_where/topk — hybrid_search_rrf_ivf's dense-side CTE).
    `corpus`/`centroid_corpus` split the candidate relation from the
    codebook-training relation — the store-serving LWW certificate
    assigns UPDATED vectors under the ORIGINAL corpus's centroids,
    exactly as a fixed-codebook deployment does; `prelude` injects the
    updated-corpus CTEs."""
    cc = centroid_corpus or corpus
    return f"""
WITH {prelude}cexp AS (
  SELECT label, u.x, u.pos
  FROM {cc},
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS pos) u
),
centroid AS (
  SELECT label AS cid, pos,
         sum(x::DECIMAL(25,15))::DOUBLE / count(*) AS cx
  FROM cexp GROUP BY label, pos
),
exploded AS (
  SELECT vec_id, u.x, u.pos
  FROM {corpus},
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS pos) u
),
csims AS (
  SELECT e.vec_id, c.cid,
         sum(e.x * c.cx) / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))) AS csim
  FROM exploded e JOIN centroid c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cid
),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rk
  FROM csims
),
assigned AS (SELECT vec_id, cid FROM ranked WHERE rk = 1),
probes AS (SELECT vec_id AS query_id, cid FROM ranked
           WHERE rk <= {nprobe} AND ({query_where})),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM {corpus})
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_cosine_similarity(qe.e, ne.e) AS sim,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(qe.e, ne.e) DESC, a.vec_id ASC
         ) AS rank
  FROM probes p
  JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
  JOIN emb qe ON qe.vec_id = p.query_id
  JOIN emb ne ON ne.vec_id = a.vec_id
)
WHERE rank <= {topk}
ORDER BY query_id, rank
"""


COSINE_TOPK_IVF_ORACLE = _ivf_oracle_at(IVF_NPROBE)


# --------------------------------------------------------------------------
# ANN evaluation: per-query recall of the approximate indexes against the
# exact top-k — the metric a training pipeline tracks when it swaps
# brute-force for LSH/IVF. Composes the three top-k queries; the oracle
# composes their oracles as CTEs, so the metric can never drift from the
# queries it evaluates.
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    k = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    # r4: the three approximate result sets union with a method tag and
    # hit-test against exact in ONE join + pivot — the old per-method
    # left_semi made `exact` a 4-consumer subplan, i.e. 4 recomputes of
    # the whole brute-force pipeline under Spark 4.1 AQE (no cross-
    # branch reuse). Now exact has 2 consumers (k + the hit join).
    approx = None
    for name, q in (
        ("lsh", cosine_topk_lsh(spark, sf_dir)),
        ("ivf", cosine_topk_ivf(spark, sf_dir)),
        ("ivfpq", cosine_topk_ivfpq(spark, sf_dir)),
    ):
        tagged = q.select(
            "query_id", "neighbor_id", F.lit(name).alias("method")
        )
        approx = tagged if approx is None else approx.unionByName(tagged)
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .pivot("method", ["lsh", "ivf", "ivfpq"])
        .count()
        .select(
            "query_id",
            F.col("lsh").alias("lsh_hits"),
            F.col("ivf").alias("ivf_hits"),
            F.col("ivfpq").alias("ivfpq_hits"),
        )
    )
    return (
        k.join(hits, "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce("lsh_hits", F.lit(0)).alias("lsh_hits"),
            F.coalesce("ivf_hits", F.lit(0)).alias("ivf_hits"),
            F.coalesce("ivfpq_hits", F.lit(0)).alias("ivfpq_hits"),
            F.round(
                F.coalesce("lsh_hits", F.lit(0)).cast("double") / F.col("k"), 4
            ).alias("lsh_recall"),
            F.round(
                F.coalesce("ivf_hits", F.lit(0)).cast("double") / F.col("k"), 4
            ).alias("ivf_recall"),
            F.round(
                F.coalesce("ivfpq_hits", F.lit(0)).cast("double")
                / F.col("k"), 4
            ).alias("ivfpq_recall"),
        )
        .orderBy("query_id")
    )


ANN_RECALL_ORACLE = f"""
WITH exact_r AS ({COSINE_TOPK_ORACLE}),
lsh_r AS ({COSINE_TOPK_LSH_ORACLE}),
ivf_r AS ({COSINE_TOPK_IVF_ORACLE}),
ivfpq_r AS ({_ivfpq_oracle()}),
k AS (SELECT query_id, count(*)::BIGINT AS k FROM exact_r GROUP BY query_id),
lsh_h AS (
  SELECT e.query_id, count(*)::BIGINT AS lsh_hits FROM exact_r e
  WHERE EXISTS (SELECT 1 FROM lsh_r l
                WHERE l.query_id = e.query_id
                  AND l.neighbor_id = e.neighbor_id)
  GROUP BY e.query_id
),
ivf_h AS (
  SELECT e.query_id, count(*)::BIGINT AS ivf_hits FROM exact_r e
  WHERE EXISTS (SELECT 1 FROM ivf_r i
                WHERE i.query_id = e.query_id
                  AND i.neighbor_id = e.neighbor_id)
  GROUP BY e.query_id
),
ivfpq_h AS (
  SELECT e.query_id, count(*)::BIGINT AS ivfpq_hits FROM exact_r e
  WHERE EXISTS (SELECT 1 FROM ivfpq_r p
                WHERE p.query_id = e.query_id
                  AND p.neighbor_id = e.neighbor_id)
  GROUP BY e.query_id
)
SELECT k.query_id, k.k,
       coalesce(lsh_hits, 0) AS lsh_hits,
       coalesce(ivf_hits, 0) AS ivf_hits,
       coalesce(ivfpq_hits, 0) AS ivfpq_hits,
       round(coalesce(lsh_hits, 0)::DOUBLE / k.k, 4) AS lsh_recall,
       round(coalesce(ivf_hits, 0)::DOUBLE / k.k, 4) AS ivf_recall,
       round(coalesce(ivfpq_hits, 0)::DOUBLE / k.k, 4) AS ivfpq_recall
FROM k
LEFT JOIN lsh_h ON k.query_id = lsh_h.query_id
LEFT JOIN ivf_h ON k.query_id = ivf_h.query_id
LEFT JOIN ivfpq_h ON k.query_id = ivfpq_h.query_id
ORDER BY k.query_id
"""


# --------------------------------------------------------------------------
# IVF nprobe tuning curve — recall@5 as a function of nprobe, the knob an
# IVF deployment actually turns (FAISS's `nprobe`; more probed Voronoi
# cells = more candidates = higher recall at linearly higher scan cost).
# ann_recall_report grades each index at its deployed setting; this
# report answers the NEXT question — what does another probe buy — with
# a corpus-level (micro-averaged) recall row per nprobe, plus the
# candidate workload that paid for it. Recall is monotone non-decreasing
# in nprobe BY CONSTRUCTION (probing more lists only adds candidates to
# an exact re-rank), which the test pins.
#
# 100 TB shape: each member pipeline is the audited IVF plan at a
# different literal slice length; pair frames are localCheckpoint-
# materialized OUTPUT-sized (10 queries x 5 rows), so the per-row count
# aggregates and 1-row crossJoins touch no corpus data (the
# dedup_method_report composition pattern).
_NPROBE_SWEEP = (1, 2, 3, 5)


def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        cosine_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    rows = None
    for nprobe in _NPROBE_SWEEP:
        cand, probes = _ivf_index(spark, sf_dir, nprobe)
        # candidate-sized (queries x probed-list members), materialized
        # once so the workload count and the top-k ranking share ONE
        # pipeline run instead of two AQE recomputes
        scored = (
            cand.join(F.broadcast(probes), "cid")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", "neighbor_id", cosine(F.col("qe"), F.col("ne")).alias("sim")
            )
            .localCheckpoint(eager=False)
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("neighbor_id")
        )
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id")
        )
        hits = exact.join(topk, ["query_id", "neighbor_id"], "left_semi")
        row = (
            exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(scored.agg(F.count(F.lit(1)).alias("n_candidates")))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(nprobe).alias("nprobe"),
                "n_exact",
                "n_candidates",
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / F.col("n_exact"), 4
                ).alias("recall_at_5"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("nprobe")


def _ivf_assign_prefix() -> str:
    """The shared coarse-quantizer assignment CTE text (no WITH header),
    reused by the per-nprobe sweep CTEs."""
    return """
exploded AS (
  SELECT vec_id, label, u.x, u.pos
  FROM embeddings,
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS pos) u
),
centroid AS (
  SELECT label AS cid, pos,
         sum(x::DECIMAL(25,15))::DOUBLE / count(*) AS cx
  FROM exploded GROUP BY label, pos
),
csims AS (
  SELECT e.vec_id, c.cid,
         sum(e.x * c.cx) / (sqrt(sum(e.x * e.x)) * sqrt(sum(c.cx * c.cx))) AS csim
  FROM exploded e JOIN centroid c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cid
),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rk
  FROM csims
),
assigned AS (SELECT vec_id, cid FROM ranked WHERE rk = 1)"""


def _nprobe_sweep_oracle() -> str:
    cand_ctes = ",\n".join(
        f"""cand_{n} AS (
  WITH {_ivf_assign_prefix()},
  probes AS (SELECT vec_id AS query_id, cid FROM ranked
             WHERE rk <= {n} AND vec_id < 10)
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a
    ON a.cid = p.cid AND a.vec_id <> p.query_id
)"""
        for n in _NPROBE_SWEEP
    )
    ivf_ctes = ",\n".join(
        f"ivf_{n} AS ({_ivf_oracle_at(n)})" for n in _NPROBE_SWEEP
    )
    blocks = "\nUNION ALL\n".join(
        f"""SELECT {n} AS nprobe,
       (SELECT count(*) FROM exact_r)::BIGINT AS n_exact,
       (SELECT count(*) FROM cand_{n})::BIGINT AS n_candidates,
       (SELECT count(*) FROM exact_r e
        WHERE EXISTS (SELECT 1 FROM ivf_{n} a
                      WHERE a.query_id = e.query_id
                        AND a.neighbor_id = e.neighbor_id))::BIGINT
         AS n_hits"""
        for n in _NPROBE_SWEEP
    )
    return f"""
WITH exact_r AS ({COSINE_TOPK_ORACLE}),
{cand_ctes},
{ivf_ctes}
SELECT nprobe, n_exact, n_candidates, n_hits,
       round(n_hits::DOUBLE / n_exact, 4) AS recall_at_5
FROM ({blocks})
ORDER BY nprobe
"""


# --------------------------------------------------------------------------
# LSH multi-probe radius tuning curve — recall@5 vs candidate workload
# per probe radius, the hyperplane-LSH twin of ivf_nprobe_recall_curve
# (the knob here is how many perturbed buckets each query probes:
# radius r expands to sum_{i<=r} C(NBITS, i) masks per table). Recall is
# monotone non-decreasing in radius by construction (a larger radius
# probes a SUPERSET of buckets, so candidates only accumulate ahead of
# an exact re-rank) — pinned by test.
#
# Spark members run the production bucket-join plan per radius; the
# oracle exploits the equivalence "candidate at radius r <=> min over
# tables of bucket-hamming <= r" to compute ONE per-pair min-hamming
# CTE and slice every radius from it — same candidate sets, one
# bucketed scan instead of eight.
_LSH_RADIUS_SWEEP = (0, 1, 2, 3)


def lsh_radius_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        cosine_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    rows = None
    for radius in _LSH_RADIUS_SWEEP:
        cand = (
            _lsh_candidates(spark, sf_dir, radius)
            .localCheckpoint(eager=False)
        )
        topk = _lsh_rank(cand).select("query_id", "neighbor_id")
        hits = exact.join(topk, ["query_id", "neighbor_id"], "left_semi")
        row = (
            exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(radius).alias("radius"),
                "n_exact",
                "n_candidates",
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double") / F.col("n_exact"), 4
                ).alias("recall_at_5"),
            )
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("radius")


def _lsh_sweep_oracle() -> str:
    planes = _hyperplanes()

    def bucket_sql(t: int) -> str:
        return " + ".join(
            "(CASE WHEN ("
            + " + ".join(
                f"emb[{j + 1}] * ({planes[t * ANN_NBITS + p][j]!r})"
                for j in range(ANN_DIM)
            )
            + f") > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(ANN_NBITS)
        )

    buckets = ",\n       ".join(
        f"{bucket_sql(t)} AS bucket{t}" for t in range(ANN_TABLES)
    )
    minham = "least(" + ", ".join(
        f"bit_count(xor(q.bucket{t}::BIGINT, c.bucket{t}::BIGINT))"
        for t in range(ANN_TABLES)
    ) + ")"
    radius_ctes = ",\n".join(
        f"""r_{r} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rank
    FROM pairs WHERE minham <= {r})
  WHERE rank <= 5
)"""
        for r in _LSH_RADIUS_SWEEP
    )
    blocks = "\nUNION ALL\n".join(
        f"""SELECT {r} AS radius,
       (SELECT count(*) FROM exact_r)::BIGINT AS n_exact,
       (SELECT count(*) FROM pairs WHERE minham <= {r})::BIGINT
         AS n_candidates,
       (SELECT count(*) FROM exact_r e
        WHERE EXISTS (SELECT 1 FROM r_{r} a
                      WHERE a.query_id = e.query_id
                        AND a.neighbor_id = e.neighbor_id))::BIGINT
         AS n_hits"""
        for r in _LSH_RADIUS_SWEEP
    )
    return f"""
WITH exact_r AS ({COSINE_TOPK_ORACLE}),
bucketed AS (
  SELECT vec_id, emb,
       {buckets}
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {minham} AS minham,
         list_cosine_similarity(q.emb, c.emb) AS sim
  FROM (SELECT * FROM bucketed WHERE vec_id < 10) q
  JOIN bucketed c ON q.vec_id <> c.vec_id
),
{radius_ctes}
SELECT radius, n_exact, n_candidates, n_hits,
       round(n_hits::DOUBLE / n_exact, 4) AS recall_at_5
FROM ({blocks})
ORDER BY radius
"""


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style, Abbas et al. 2023): cluster the embedding
# space with a coarse quantizer, then near-dup-prune WITHIN each cluster,
# keeping the lowest id of every near-dup pair. The cluster step is what
# makes the O(n^2) cosine comparison tractable: pair generation is an
# EQUI-join on the cluster id, so total pair work is sum(|cluster|^2), not
# n^2. Production runs k-means with k ~ sqrt(n) (SemDeDup used 100k
# clusters on LAION) and splits oversized cells; here the 10 deterministic
# label centroids (same codebook as cosine_topk_ivf) keep the whole query
# SQL-expressible for the oracle. Pairs that straddle a cluster boundary
# are missed by design — that is exactly the approximation SemDeDup makes.
#
# Corpus: the same planted near-dups as embedding_neardup_pairs (organic
# pairs top out below cosine 0.61, so a real 0.8 threshold would match
# nothing). Measured at sf0.01: 17 of the 25 planted copies share their
# source's cluster and are dropped in favor of the lower-id original; the
# other 8 straddle a boundary of the deliberately coarse 10-cell codebook
# and survive — the cluster-boundary recall loss inherent to SemDeDup
# (production shrinks it with more clusters, k ~ sqrt(n)). Zero organic
# vectors are dropped.
#
# Assignment is the IVF index's own kernel (ivf_assign): a narrow argmax
# over literal centroids, highest similarity first, ties to lowest cid.


def semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """Per-vector keep/drop verdict: drop iff a lower-id vector in the same
    centroid cluster has cosine >= threshold (SemDeDup keep-first rule)."""
    return _semantic_verdicts_over(
        _neardup_corpus(spark, sf_dir),
        _centroid_model(spark, sf_dir),
        threshold,
    )


def _semantic_verdicts_over(
    corpus: DataFrame,
    model: list[tuple[int, list[float]]],
    threshold: float = NEARDUP_THRESHOLD,
) -> DataFrame:
    """The SemDeDup verdict pipeline over an explicit (vec_id, emb)
    corpus and codebook — factored so the streaming face's
    update/delete parity test can run the IDENTICAL batch semantics
    over the LWW-current corpus (streaming/semantic_dedup.py)."""
    # centroids enter as literal model state (see _centroid_model):
    # assignment is a narrow argmax map (ivf_assign), with the highest
    # csim winning and ties going to the lowest cid
    assigned = ivf_assign(corpus.select("vec_id", "emb"), model)
    return semantic_verdicts(assigned, assigned, threshold).orderBy("vec_id")


def semantic_verdicts(
    hist: DataFrame, arrivals: DataFrame, threshold: float
) -> DataFrame:
    """Keep-first verdicts for `arrivals` judged against `hist` (both
    (vec_id, emb, cid[, ts]) frames): lower-id same-cluster pairs at
    cosine >= threshold. The one SemDeDup verdict kernel, four faces:
    the batch op (hist = arrivals = the assigned corpus), the stream
    stage (hist = masked store ∪ batch, arrivals = batch), the retrain's
    re-judgment (hist = arrivals = the folded store), and the ad-hoc
    probe (hist = masked store, arrivals = offset-id probes), all in
    streaming/semantic_dedup.py."""
    pairs = (
        hist.alias("a")
        .join(
            arrivals.alias("b"),
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("sim", cosine(F.col("a.emb"), F.col("b.emb")))
        .filter(F.col("sim") >= threshold)
        .select(F.col("b.vec_id").alias("vec_id"), "sim")
    )
    stats = pairs.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_dups"), F.max("sim").alias("best_sim")
    )
    return arrivals.join(stats, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.col("n_dups").isNull().alias("keep"),
        F.coalesce("n_dups", F.lit(0).cast("long")).alias("n_dups"),
        F.round("best_sim", 6).alias("best_sim"),
        *(["ts"] if "ts" in arrivals.columns else []),
    )


SEMANTIC_DEDUP_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
corpus AS (
  SELECT vec_id, emb FROM base
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(emb, x -> CASE WHEN abs(x) < {NEARDUP_FLIP} THEN -x
                                       ELSE x END) AS emb
  FROM base WHERE vec_id % 20 = 0
),
exploded AS (
  SELECT label, u.x, u.pos
  FROM embeddings,
       LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
                       generate_subscripts(embedding, 1) AS pos) u
),
centroid AS (
  SELECT label AS cid, pos,
         sum(x::DECIMAL(25,15))::DOUBLE / count(*) AS cx
  FROM exploded GROUP BY label, pos
),
clist AS (
  SELECT cid, list(cx ORDER BY pos) AS centroid FROM centroid GROUP BY cid
),
assigned AS (
  SELECT vec_id, emb, cid FROM (
    SELECT c.vec_id, c.emb, l.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY list_cosine_similarity(c.emb, l.centroid) DESC,
                      l.cid ASC
           ) AS rk
    FROM corpus c CROSS JOIN clist l
  ) WHERE rk = 1
),
pairs AS (
  SELECT b.vec_id, list_cosine_similarity(a.emb, b.emb) AS sim
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= {NEARDUP_THRESHOLD}
),
stats AS (
  SELECT vec_id, count(*)::BIGINT AS n_dups, max(sim) AS best_sim
  FROM pairs GROUP BY vec_id
)
SELECT a.vec_id, a.cid,
       s.vec_id IS NULL AS keep,
       coalesce(s.n_dups, 0)::BIGINT AS n_dups,
       round(s.best_sim, 6) AS best_sim
FROM assigned a LEFT JOIN stats s ON a.vec_id = s.vec_id
ORDER BY a.vec_id
"""


# --------------------------------------------------------------------------
# MMR-diversified retrieval (Carbonell & Goldstein 1998): re-rank the
# top-N cosine candidates so results trade relevance against redundancy
# — score = λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s), picked
# greedily. The retrieval-side counterpart of SemDeDup's corpus-side
# pruning: a RAG stack dedups its context window with exactly this.
#
# Split of labor (determinism by construction): ALL similarities are
# computed JVM-side with the repo's sequential cosine fold and rounded
# to 6 decimals BEFORE the greedy loop; the Arrow applyInPandas stage
# only runs the selection over those provided doubles (python float
# arithmetic on identical inputs = identical IEEE results), and the
# reported score is rounded JVM-side after (python round() is half-even,
# Spark/DuckDB HALF_UP — never round in python). The oracle unrolls the
# K greedy stages as CTEs (the kmeans-iterations precedent), so MMR is
# hash-checked, not rows-only.
#
# Scale notes (100 TB / billion vectors): candidate generation is the
# pluggable stage — brute force here as the labeled baseline (the
# cosine_topk_bruteforce precedent); swap the LSH/IVF candidate frame in
# production. Everything after candidates is bounded: 200 candidate rows
# localCheckpoint-ed (so the pair join reuses the materialized frame
# instead of recomputing the corpus scoring pass per self-join side —
# Spark 4.1 AQE), N×N pair sims per query, Arrow groups of ≤ N+N² rows.
_MMR_LAMBDA = 0.7
_MMR_CAND = 20
_MMR_K = 5


def cosine_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("sim", F.round(cosine(F.col("qe"), F.col("ne")), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MMR_CAND)
        .select("query_id", "neighbor_id", "sim", "ne")
        .localCheckpoint(eager=True)  # bounded: 10 queries x N rows
    )
    a = cand.select(
        "query_id",
        F.col("neighbor_id").alias("a_id"),
        F.col("ne").alias("a_ne"),
    )
    b = cand.select(
        "query_id",
        F.col("neighbor_id").alias("b_id"),
        F.col("ne").alias("b_ne"),
    )
    pairs = (
        a.join(b, ["query_id"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.round(cosine(F.col("a_ne"), F.col("b_ne")), 6).alias("psim"),
        )
    )
    tagged = cand.select(
        "query_id",
        F.lit("q").alias("kind"),
        F.col("neighbor_id").alias("a"),
        F.lit(-1).cast("long").alias("b"),
        "sim",
    ).unionByName(
        pairs.select(
            "query_id",
            F.lit("p").alias("kind"),
            F.col("a_id").alias("a"),
            F.col("b_id").alias("b"),
            F.col("psim").alias("sim"),
        )
    )

    def mmr_select(pdf: pd.DataFrame) -> pd.DataFrame:
        qsim: dict[int, float] = {}
        psim: dict[tuple[int, int], float] = {}
        for r in pdf.itertuples():
            if r.kind == "q":
                qsim[int(r.a)] = float(r.sim)
            else:
                psim[(int(r.a), int(r.b))] = float(r.sim)
                psim[(int(r.b), int(r.a))] = float(r.sim)
        qid = int(pdf["query_id"].iloc[0])
        selected: list[int] = []
        remaining = sorted(qsim)
        out = []
        while len(selected) < _MMR_K and remaining:
            best = None
            for cid in remaining:
                mp = (
                    max(psim[(cid, s)] for s in selected)
                    if selected
                    else 0.0
                )
                score = _MMR_LAMBDA * qsim[cid] - (1 - _MMR_LAMBDA) * mp
                key = (-score, cid)
                if best is None or key < best[0]:
                    best = (key, cid, score)
            _, cid, score = best
            selected.append(cid)
            remaining.remove(cid)
            out.append((qid, cid, len(selected), qsim[cid], score))
        return pd.DataFrame(
            out,
            columns=["query_id", "neighbor_id", "rank", "sim", "mmr_raw"],
        )

    picked = tagged.groupBy("query_id").applyInPandas(
        mmr_select,
        "query_id bigint, neighbor_id bigint, rank int, sim double, "
        "mmr_raw double",
    )
    return picked.select(
        "query_id",
        "neighbor_id",
        "rank",
        "sim",
        F.round("mmr_raw", 7).alias("mmr_score"),
    ).orderBy("query_id", "rank")


def _mmr_oracle() -> str:
    lam, one_m = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    parts = [f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
base AS (
  SELECT query_id, neighbor_id, sim FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.emb, c.emb), 6) AS sim,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.emb, c.emb), 6) DESC,
                      c.vec_id
           ) AS rn
    FROM e q JOIN e c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
  ) WHERE rn <= {_MMR_CAND}
),
pairs AS (
  SELECT x.query_id, x.neighbor_id AS a_id, y.neighbor_id AS b_id,
         round(list_cosine_similarity(ea.emb, eb.emb), 6) AS psim
  FROM base x
  JOIN base y ON y.query_id = x.query_id AND y.neighbor_id <> x.neighbor_id
  JOIN e ea ON ea.vec_id = x.neighbor_id
  JOIN e eb ON eb.vec_id = y.neighbor_id
),
sel1 AS (
  SELECT query_id, neighbor_id, sim, {lam} * sim - {one_m} * 0.0 AS mmr_raw
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY {lam} * sim - {one_m} * 0.0 DESC, neighbor_id) AS rn
    FROM base
  ) WHERE rn = 1
)"""]
    prev_union = "SELECT query_id, neighbor_id FROM sel1"
    for t in range(2, _MMR_K + 1):
        parts.append(f""",
prev{t} AS ({prev_union}),
scored{t} AS (
  SELECT b.query_id, b.neighbor_id, b.sim,
         {lam} * b.sim - {one_m} * (
           SELECT max(p.psim) FROM pairs p
           JOIN prev{t} s ON s.query_id = p.query_id
                         AND s.neighbor_id = p.b_id
           WHERE p.query_id = b.query_id AND p.a_id = b.neighbor_id
         ) AS mmr_raw
  FROM base b
  LEFT JOIN prev{t} done ON done.query_id = b.query_id
                        AND done.neighbor_id = b.neighbor_id
  WHERE done.neighbor_id IS NULL
),
sel{t} AS (
  SELECT query_id, neighbor_id, sim, mmr_raw FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY mmr_raw DESC, neighbor_id) AS rn
    FROM scored{t}
  ) WHERE rn = 1
)""")
        prev_union += f" UNION ALL SELECT query_id, neighbor_id FROM sel{t}"
    ranked = "\nUNION ALL\n".join(
        f"SELECT query_id, neighbor_id, {t} AS rank, sim, "
        f"round(mmr_raw, 7) AS mmr_score FROM sel{t}"
        for t in range(1, _MMR_K + 1)
    )
    parts.append(f"""
SELECT query_id, neighbor_id, rank::INT AS rank, sim, mmr_score
FROM ({ranked})
ORDER BY query_id, rank
""")
    return "".join(parts)


QUERIES = [
    QuerySpec("cosine_topk_bruteforce", cosine_topk_bruteforce, COSINE_TOPK_ORACLE,
              "exact cosine top-k, broadcast query side"),
    QuerySpec("embedding_neardup_pairs", embedding_neardup_pairs, EMB_NEARDUP_ORACLE,
              "embedding-cosine near-dup pairs"),
    QuerySpec("cosine_topk_lsh", cosine_topk_lsh, COSINE_TOPK_LSH_ORACLE,
              "multi-probe hyperplane-LSH ANN top-k, bucket equi-join"),
    QuerySpec("label_centroid_similarity", label_centroid_similarity,
              LABEL_CENTROID_ORACLE,
              "per-label centroid + mean intra-label cosine"),
    QuerySpec("cosine_topk_ivf", cosine_topk_ivf, COSINE_TOPK_IVF_ORACLE,
              "IVF ANN: centroid inverted lists, nprobe probe, exact re-rank"),
    QuerySpec("ann_recall_report", ann_recall_report, ANN_RECALL_ORACLE,
              "per-query LSH/IVF recall vs exact top-k (composed oracle)"),
    QuerySpec("ivf_nprobe_recall_curve", ivf_nprobe_recall_curve,
              _nprobe_sweep_oracle(),
              "IVF recall@5 + candidate workload per nprobe (the tuning "
              "curve; monotone in nprobe by construction)"),
    QuerySpec("lsh_radius_recall_curve", lsh_radius_recall_curve,
              _lsh_sweep_oracle(),
              "LSH recall@5 + candidate workload per multi-probe radius "
              "(the hyperplane twin of the nprobe curve)"),
    QuerySpec("semantic_dedup", semantic_dedup, SEMANTIC_DEDUP_ORACLE,
              "SemDeDup: centroid-clustered embedding near-dup pruning"),
    QuerySpec("cosine_topk_ivfpq", cosine_topk_ivfpq, _ivfpq_oracle(),
              "IVF-PQ ANN: list pruning + PQ asymmetric stage + exact re-rank"),
    QuerySpec("cosine_topk_mmr", cosine_topk_mmr, _mmr_oracle(),
              "MMR-diversified retrieval (greedy relevance/redundancy "
              "re-rank; unrolled-stage oracle)"),
]
