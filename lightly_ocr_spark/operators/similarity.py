"""Similarity search over embedding columns (`array<float>`).

* brute-force cosine top-k — the exact baseline; dot products computed with
  `zip_with` + `aggregate` (JVM-side fold, no Python).
* LSH (random hyperplane) bucketing — the scale path: sign-bit bucket key,
  candidates restricted to the query's bucket; planes are deterministic
  driver-side constants (seeded), broadcast inside the plan as literals.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightly_ocr_spark.plans.relational import load, spread

PLANES_SEED = 4420
N_TABLES = 8       # L independent hash tables
BITS_PER_TABLE = 4  # bucket key width per table (tune up with corpus size)
DIM = 64


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _qnorm(q: list[float]) -> float:
    """Driver-side query norm: a left-fold sum of squares in element order
    — the SAME IEEE add sequence as the JVM `aggregate` fold and DuckDB's
    list_sum, so substituting the scalar literal for the per-row fold is
    bit-exact (verified by the sim_* oracle hash matches).  Computing it
    once removes a 64-element fold per scanned row."""
    import math

    return math.sqrt(sum(v * v for v in q))


def _query_vec(spark: SparkSession, sf: str, vec_id: int = 0):
    row = (
        load(spark, sf, "embeddings").filter(F.col("vec_id") == vec_id)
        .select("embedding").first()
    )
    if row is None:
        raise ValueError(f"vec_id {vec_id} not found in embeddings table")
    return [float(x) for x in row["embedding"]]


def _rerank_topk(cand: DataFrame, q: list[float], k: int) -> DataFrame:
    """Exact cosine rerank of candidate (vec_id, embedding) rows against
    query vector `q`: the top `k` (rank ties broken by vec_id; similarity
    rounded for cross-engine comparison).  The one tail every top-k query
    here shares — they differ only in how candidates are fetched."""
    qcol = F.array(*[F.lit(v) for v in q])
    sims = cand.select(
        "vec_id",
        (_dot(F.col("embedding"), qcol)
         / (_norm(F.col("embedding")) * F.lit(_qnorm(q)))).alias("cos"),
    )
    return (
        sims.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.round("cos", 6).alias("cosine_sim"))
    )


def cosine_topk(
    spark: SparkSession, sf: str, vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k vs a query vector: every other vector
    is a candidate."""
    q = _query_vec(spark, sf, vec_id)
    # spread (round 6): the 64-element dot/norm folds are interpreted
    # per-row work and the single-row-group scan otherwise runs them all
    # on one core (guide §2.5)
    e = spread(load(spark, sf, "embeddings"))
    return _rerank_topk(e.filter(F.col("vec_id") != vec_id), q, k)


def _planes(n_tables: int = N_TABLES, bits: int = BITS_PER_TABLE,
            dim: int = DIM, seed: int = PLANES_SEED):
    """n_tables * bits hyperplanes, deterministic."""
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
        for _ in range(n_tables)
    ]


def lsh_table_bucket(emb_col, table_planes) -> F.Column:
    """Sign-bit bucket key for one table (JVM expression only)."""
    out = F.lit(0).cast("long")
    for i, p in enumerate(table_planes):
        pc = F.array(*[F.lit(v) for v in p])
        out = out.bitwiseOR(
            F.when(_dot(emb_col, pc) >= 0,
                   F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return out


def lsh_buckets(df: DataFrame, planes=None) -> DataFrame:
    """vec table: add `buckets: array<long>` (one key per hash table).

    At 10^12 scale this is precomputed once and the exploded
    (table, bucket) -> vec index is the partitioned ANN index; queries touch
    only their L buckets."""
    planes = planes or _planes()
    return df.withColumn(
        "buckets",
        F.array(*[
            lsh_table_bucket(F.col("embedding"), tp) for tp in planes
        ]),
    )


def knn_join(
    queries: DataFrame, base: DataFrame, k: int = 5
) -> DataFrame:
    """Batch KNN: for every query vector, its top-k cosine neighbors in
    `base` (excluding self-id matches).

    Plan shape: broadcast the (small) query side, JVM-side dot/norm fold,
    window top-k per query — no Python.  At 10^12 scale the cross product is
    replaced by an LSH/IVF bucket equi-join producing candidates and the
    SAME rerank window runs on candidates only."""
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    b = base.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")
    )
    pairs = b.crossJoin(F.broadcast(q)).filter(F.col("b_id") != F.col("q_id"))
    sims = pairs.select(
        "q_id",
        "b_id",
        (_dot(F.col("b_emb"), F.col("q_emb"))
         / (_norm(F.col("b_emb")) * _norm(F.col("q_emb")))).alias("cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("b_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "b_id", F.col("rank").cast("int").alias("rank"),
                F.round("cos", 6).alias("cosine_sim"))
    )


def embedding_neardup_pairs(
    spark: SparkSession, sf: str, max_id: int = 100, threshold: float = 0.3
) -> DataFrame:
    """Embedding-cosine near-dup candidates: pairs (a < b) with cosine >=
    threshold.  Brute pairs here (bounded id range); at scale the pair
    generation is the LSH/IVF bucket join and this exact-cosine filter runs
    on candidates only."""
    e = load(spark, sf, "embeddings").filter(F.col("vec_id") < max_id)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb")))
    return (
        pairs.select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine_sim"))
    )


def knn_join_query(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    return knn_join(e.filter(F.col("vec_id") < 20), e, k=5)


IVF_CENTROIDS = 16
IVF_NPROBE = 4


def ivf_centroids(df: DataFrame, n: int = IVF_CENTROIDS) -> list[list[float]]:
    """Deterministic IVF codebook: the first `n` vectors by vec_id (a fixed,
    reproducible sample — at 10^12 scale swap in a k-means|| pass; the
    assignment/probe plan below is unchanged)."""
    rows = (
        df.orderBy("vec_id").limit(n).select("embedding").collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def ivf_assign_col(emb_col, centroids) -> F.Column:
    """Nearest-centroid id as a JVM expression: argmax of dot products
    (centroids are unit-normalized driver-side, so dot == cosine rank)."""
    import math

    best_id = F.lit(0)
    best_dot = None
    for i, c in enumerate(centroids):
        norm = math.sqrt(sum(v * v for v in c)) or 1.0
        cn = [v / norm for v in c]
        d = _dot(emb_col, F.array(*[F.lit(v) for v in cn]))
        if best_dot is None:
            best_dot = d
        else:
            best_id = F.when(d > best_dot, F.lit(i)).otherwise(best_id)
            best_dot = F.greatest(best_dot, d)
    return best_id


def ivf_topk(
    spark: SparkSession, sf: str, vec_id: int = 0, k: int = 10,
    nprobe: int = IVF_NPROBE, centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN, IVF flavor: partition vectors by nearest centroid; a query scans
    only its `nprobe` closest cells, exact cosine rerank inside them.

    Scale path: persist the cell id as a partition column and the probe
    becomes partition pruning on the vector table — no full scan, no
    shuffle.
    `centroids` overrides the default first-n codebook (pass the
    Lloyd-refined one from `ivf_centroids_kmeans` for better cell balance)."""
    e = load(spark, sf, "embeddings")
    cents = centroids or ivf_centroids(e)
    cell = ivf_assign_col(F.col("embedding"), cents)
    tagged = e.withColumn("cell", cell)

    q = _query_vec(spark, sf, vec_id)
    import math

    qn = math.sqrt(sum(v * v for v in q)) or 1.0
    scored = sorted(
        range(len(cents)),
        key=lambda i: -sum(
            a * b for a, b in zip(cents[i], q)
        ) / (math.sqrt(sum(v * v for v in cents[i])) or 1.0) / qn,
    )
    probe = [int(c) for c in scored[:nprobe]]

    cand = tagged.filter(
        F.col("cell").isin(probe) & (F.col("vec_id") != vec_id)
    )
    return _rerank_topk(cand, q, k)


def ivf_centroids_kmeans(
    df: DataFrame, n: int = IVF_CENTROIDS, iters: int = 3
) -> list[list[float]]:
    """Lloyd-refined IVF codebook, DataFrame-native: seed with the
    deterministic first-`n` vectors, then `iters` rounds of
    assign (JVM expression argmax) -> per-cell mean (groupBy over the
    element-exploded embedding) -> driver-collect of n new centroids.

    Per iteration the driver pulls exactly n * dim doubles (bounded,
    independent of table size); all heavy work is one shuffle keyed by
    (cell, dim position).  Deterministic AND portable: fixed seed
    vectors, fixed iteration count, and each Lloyd mean is rounded to
    6 dp (fixed-point updates) — round-6 doubles quantize identically
    across engines regardless of partial-aggregation sum order (the
    ml_nb_langid discipline), so the WHOLE refine+probe+rerank plan is
    restatable in SQL and the driver gate hash-matches it.  The 1e-6
    quantization is far below any cell-assignment margin the recall gate
    depends on (codebook quality is unchanged)."""
    cents = ivf_centroids(df, n)
    dim = len(cents[0]) if cents else 0
    for _ in range(iters):
        assigned = df.select(
            ivf_assign_col(F.col("embedding"), cents).alias("cell"),
            F.col("embedding"),
        )
        means = (
            assigned.select("cell", F.posexplode("embedding")
                            .alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                 .alias("vec"))
            .select("cell", F.transform("vec", lambda s: s["m"]).alias("c"))
            .collect()
        )
        by_cell = {int(r["cell"]): [float(x) for x in r["c"]] for r in means}
        # empty cells keep their previous centroid (stable codebook size)
        cents = [by_cell.get(i, cents[i]) for i in range(len(cents))]
        assert all(len(c) == dim for c in cents)
    return cents


def ivf_kmeans_topk(
    spark: SparkSession, sf: str, vec_id: int = 0, k: int = 10,
    nprobe: int = IVF_NPROBE, iters: int = 2,
) -> DataFrame:
    """ANN over the Lloyd-REFINED IVF codebook, end-to-end: refine the
    first-n seed with `iters` k-means rounds (bounded driver pull of
    n * dim doubles per round), then run the same probe/rerank as
    `ivf_topk`.  Registered as a driver query and FULLY ORACLED since
    the Lloyd means became fixed-point (round-6) updates — the DuckDB
    oracle unrolls exactly `iters`=2 assign/mean rounds, so changing
    this default (or the rounding) requires the matching oracle edit in
    `__spark_entry__.oracle_sql`.  Recall is additionally pytest-gated
    on the planted-cluster fixture."""
    e = load(spark, sf, "embeddings")
    cents = ivf_centroids_kmeans(e, iters=iters)
    return ivf_topk(spark, sf, vec_id=vec_id, k=k, nprobe=nprobe,
                    centroids=cents)


def lsh_bucket_index(df: DataFrame, planes=None) -> DataFrame:
    """Exploded (table, bucket, vec_id, embedding) ANN index.

    At 10^12 scale this is materialized ONCE, written partitioned by
    (table, bucket); a query then fetches exactly its L buckets via
    partition pruning / equi-join — never a full-table scan."""
    e = lsh_buckets(df, planes)
    return e.select(
        "vec_id", "embedding",
        F.posexplode("buckets").alias("table", "bucket"),
    )


def lsh_candidates(
    spark: SparkSession, sf: str, vec_id: int = 0, planes=None
) -> DataFrame:
    """Candidate fetch for one query: broadcast the query's L (table,
    bucket) keys and equi-join them against the exploded bucket index —
    the same plan shape as `minhash_pairs`' band join.  The only full pass
    over the vector table is building the index, which at scale is a
    one-time precomputation, not a per-query cost."""
    planes = planes or _planes()
    e = load(spark, sf, "embeddings")
    qkeys = (
        lsh_bucket_index(e.filter(F.col("vec_id") == vec_id), planes)
        .select("table", "bucket")
    )
    index = lsh_bucket_index(e, planes)
    return (
        index.join(F.broadcast(qkeys), ["table", "bucket"])
        .filter(F.col("vec_id") != vec_id)
        .dropDuplicates(["vec_id"])
        .select("vec_id", "embedding")
    )


def lsh_topk(
    spark: SparkSession, sf: str, vec_id: int = 0, k: int = 10
) -> DataFrame:
    """ANN: multi-table random-hyperplane LSH — candidates are the union of
    the query's bucket across L tables (bucket-index equi-join, no
    full-table filter scan), exact cosine rerank on candidates only.  Same
    output schema as `cosine_topk`; recall/scan tradeoff is
    (N_TABLES, BITS_PER_TABLE)."""
    q = _query_vec(spark, sf, vec_id)
    return _rerank_topk(lsh_candidates(spark, sf, vec_id), q, k)
