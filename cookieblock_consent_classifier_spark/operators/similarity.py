"""Similarity search over an ``embedding`` column (array<float>)
keyed by ``vec_id``.

- brute-force cosine top-k: exact baseline; a broadcast of the (small)
  query set against the full corpus — one pass, no shuffle until the
  per-query top-k aggregation.
- LSH-bucketed ANN (random hyperplanes): the 100 TB scale path — each
  vector maps to a small bucket key; queries only score candidates in
  their own bucket(s).

All arithmetic is double-precision native expressions
(zip_with/aggregate); no Python in the scoring loop.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, score every corpus
    vector, rank per query. Ties broken by neighbor id (deterministic).
    Self-matches excluded. Output: (query_id, neighbor_id, cos_sim
    rounded to 4 places, rank)."""
    # norms are projected per ROW on each side BEFORE the cross join
    # (opt r7): cosine() inline recomputed both interpreted norm
    # aggregates per PAIR — with |q| queries that is |q| re-evaluations
    # of every corpus norm. Same fold, same multiplication order
    # (norm(q) * norm(c)), so the doubles are bit-identical.
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    ).withColumn("__qn", norm(F.col("q_vec")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    ).withColumn("__cn", norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__qn") * F.col("__cn")),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_bucket(
    vec_col: Column, dim: int, num_planes: int = 8, seed: int = 7
) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(v · h_i) with
    deterministic pseudo-random planes derived from (seed, i, j) via a
    sine hash — stable across runs/engines, no stored plane matrix.

    The plane matrix ships as ONE nested-array literal and the
    projections run through zip_with/aggregate, so the expression tree
    is O(num_planes) regardless of dim — unrolling scalar expressions
    (the previous shape) hits dim×planes analysis/codegen blowup at
    real embedding widths (768-dim ≈ 4.6k nodes per projection)."""

    def plane_coeff(i: int, j: int) -> float:
        x = math.sin(seed * 1_000_003 + i * 10_007 + j * 97) * 43758.5453
        return x - math.floor(x) - 0.5

    planes = [[plane_coeff(i, j) for j in range(dim)] for i in range(num_planes)]
    # project onto the FIRST `dim` coordinates explicitly (slice):
    # zip_with pads the shorter side with NULLs, which would poison the
    # dot product if the stored vectors are wider than `dim`
    v = F.slice(vec_col, 1, dim)
    # bits in plane order, then Σ bit_i·2^i (shiftleft needs literal
    # shift counts, so powers-of-two arithmetic instead)
    bits = F.transform(
        F.lit(planes),
        lambda p: F.when(dot(v, p) > 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    weighted = F.zip_with(
        bits, F.lit([float(1 << i) for i in range(num_planes)]), lambda b, w: b * w
    )
    return F.aggregate(weighted, F.lit(0.0), lambda acc, v: acc + v).cast("long")


def lsh_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 6,
    num_tables: int = 2,
    round_to: int = 4,
    seed: int = 7,
) -> DataFrame:
    """SCALE PATH for embedding near-duplicate detection: candidate
    pairs come from ``num_tables`` independent hyperplane-LSH tables
    (bucket equi-self-joins — shuffle ∝ Σ bucket² per table, never
    |corpus|²), then exact cosine verifies each candidate against
    ``threshold``. Recall < 1 by construction; measured against the
    exact all-pairs oracle in
    tests/test_dedup_similarity.py::test_lsh_near_dup_recall.
    More tables / fewer planes → higher recall, more candidates."""
    pairs = None
    for t in range(num_tables):
        b = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            hyperplane_bucket(F.col(vec_col), dim, num_planes, seed=seed + 1009 * t).alias("bucket"),
        )
        left = b.select(F.col(id_col).alias("a"), F.col(vec_col).alias("ea"), "bucket")
        right = b.select(F.col(id_col).alias("b"), F.col(vec_col).alias("eb"), "bucket")
        cand = (
            left.join(right, "bucket")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b", "ea", "eb")
        )
        pairs = cand if pairs is None else pairs.unionByName(cand)
    pairs = pairs.dropDuplicates(["a", "b"])
    return pairs.select(
        "a", "b", F.round(cosine(F.col("ea"), F.col("eb")), round_to).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF cell assignment: each vector → nearest centroid by cosine,
    computed entirely ROW-LOCALLY: the (tiny, already-deterministic)
    centroid set is collected, L2-normalized driver-side, and embedded
    as one nested-array literal; nearest cell is an argmax over
    per-centroid dot products (cosine ordering is preserved because
    dot(v, c/|c|) = cos(v,c)·|v| and |v| is constant per row).

    ZERO shuffle — the previous shape (crossJoin ×num_cells +
    Window.partitionBy(vec_id) + row_number) hash-exchanged
    num_cells× the corpus, a non-starter at 10^12 vectors.
    Ties break toward the smallest centroid_id. Returns corpus
    columns + ``cell``."""
    rows = centroids.select("centroid_id", "embedding").collect()
    if not rows:
        raise ValueError("ivf_assign: empty centroid set")
    cents = []
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append((int(r["centroid_id"]), [x / n for x in v]))
    cents.sort()
    cmat = F.lit([v for _, v in cents])
    cids = [cid for cid, _ in cents]
    # slice the corpus vector to the centroid dim: zip_with pads the
    # SHORTER side with NULLs, so a wider corpus vector would
    # otherwise NULL the whole dot (same hazard as hyperplane_bucket)
    dim = len(cents[0][1])
    vec = F.slice(F.col("embedding"), 1, dim)
    # struct(score, -cid): array_max compares field-wise, so ties on
    # score pick the LARGER -cid == smaller centroid_id
    scored = F.zip_with(
        cmat,
        F.lit([float(-cid) for cid in cids]),
        lambda cvec, ncid: F.struct(
            dot(vec, cvec).alias("s"), ncid.alias("ncid")
        ),
    )
    best = F.array_max(scored)
    return corpus.withColumn("cell", (-best["ncid"]).cast("int"))


def deterministic_centroids(corpus: DataFrame, k: int) -> DataFrame:
    """Deterministic centroid pick: the k corpus vectors with the
    smallest md5-hash of their id (a uniform pseudo-random but
    reproducible sample — resumable runs pick identical cells). A
    Lloyd refinement pass can follow; for ANN routing the sample is
    usually sufficient."""
    # distributed top-k by hash (orderBy+limit = TakeOrdered, no global
    # window over the corpus); the k survivors are tiny, so numbering
    # them with a single-partition window is free
    limited = (
        corpus.select(
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
            F.col("vec_id"),
            F.col("embedding"),
        )
        .orderBy("__h", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("__h", "vec_id")
    return limited.withColumn("centroid_id", F.row_number().over(w) - 1).select(
        "centroid_id", "embedding"
    )


def ivf_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    dim: int,
    iters: int = 2,
) -> DataFrame:
    """Deterministic Lloyd refinement of IVF centroids: assign (the
    shuffle-free ivf_assign) → per-cell mean (ONE hash aggregation;
    the element-wise mean is dim native avg() expressions — plan width
    O(dim), no explode) → repeat. Empty cells keep their previous
    centroid (deterministic, no re-seeding). Returns refined
    (centroid_id, embedding)."""
    cents = centroids
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents)
        means = assigned.groupBy("cell").agg(
            *[F.avg(F.element_at(F.col("embedding"), i + 1)).alias(f"__m{i}") for i in range(dim)]
        ).select(
            F.col("cell").alias("centroid_id"),
            F.array(*[F.col(f"__m{i}") for i in range(dim)]).alias("embedding"),
        )
        prev = {int(r["centroid_id"]): list(r["embedding"])
                for r in cents.select("centroid_id", "embedding").collect()}
        new = {int(r["centroid_id"]): [float(x) for x in r["embedding"]]
               for r in means.collect()}
        merged = [(cid, new.get(cid, vec)) for cid, vec in sorted(prev.items())]
        spark = corpus.sparkSession
        cents = spark.createDataFrame(merged, ["centroid_id", "embedding"])
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: corpus is partitioned into one inverted
    list per ``centroids`` row (``deterministic_centroids``, or its
    ``ivf_refine`` refinement); each query scores only the ``nprobe``
    nearest cells' members. At scale the assigned corpus is written
    partitioned by cell, so a probe reads nprobe/num_cells of the data
    (partition pruning does the rest)."""
    assigned = ivf_assign(corpus, centroids)

    c = centroids.select("centroid_id", F.col("embedding").alias("__cvec"))
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    q_cells = (
        q.crossJoin(F.broadcast(c))
        .withColumn("__sim", cosine(F.col("q_vec"), F.col("__cvec")))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("centroid_id"))
            ),
        )
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "q_vec", F.col("centroid_id").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(q_cells), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col("embedding")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 1,
) -> DataFrame:
    """ANN top-k: score only bucket-mates. Recall < 1 by design; the
    candidate join is an equi-join on (table, bucket) keys (shuffle ∝
    bucket sizes, never |corpus|×|queries|). ``num_tables``
    independent hash tables trade candidate volume for recall —
    measured in tests/test_dedup_similarity.py::test_lsh_topk_recall."""
    def sides(df, id_alias, vec_alias):
        cols = []
        for t in range(num_tables):
            cols.append(
                F.struct(
                    F.lit(t).alias("tbl"),
                    hyperplane_bucket(
                        F.col("embedding"), dim, num_planes, seed=7 + 1009 * t
                    ).alias("bucket"),
                )
            )
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.col("embedding").alias(vec_alias),
            F.explode(F.array(*cols)).alias("tb"),
        ).select(id_alias, vec_alias, F.col("tb.tbl").alias("tbl"),
                 F.col("tb.bucket").alias("bucket"))

    c = sides(corpus, "neighbor_id", "c_vec")
    q = sides(queries, "query_id", "q_vec")
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
