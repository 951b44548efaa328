"""IVF ANN."""

from __future__ import annotations

from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.operators import similarity


def test_ivf_assign_deterministic_and_total(spark, embeddings):
    cents = similarity.deterministic_centroids(embeddings, 8)
    assert cents.count() == 8
    a1 = similarity.ivf_assign(embeddings, cents)
    assert a1.count() == embeddings.count()
    # every vector gets exactly one cell in [0, 8)
    assert a1.filter((F.col("cell") < 0) | (F.col("cell") >= 8)).count() == 0
    a2 = similarity.ivf_assign(embeddings, similarity.deterministic_centroids(embeddings, 8))
    assert a1.select("vec_id", "cell").exceptAll(a2.select("vec_id", "cell")).count() == 0


def test_ivf_topk_consistent_with_bruteforce(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    cents = similarity.deterministic_centroids(embeddings, 4)
    ivf = similarity.ivf_topk(embeddings, q, cents, k=5, nprobe=4)
    bf = similarity.brute_force_topk(embeddings, q, k=embeddings.count())
    # with nprobe == num_cells, IVF probes everything -> must equal
    # brute-force top-5 exactly
    bf5 = bf.filter(F.col("rank") <= 5).select("query_id", "neighbor_id", "cos_sim")
    diff = ivf.select("query_id", "neighbor_id", "cos_sim").exceptAll(bf5).count()
    assert diff == 0


def test_ivf_topk_partial_probe_is_subset(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 3)
    cents = similarity.deterministic_centroids(embeddings, 8)
    ivf = similarity.ivf_topk(embeddings, q, cents, k=5, nprobe=2)
    bf = similarity.brute_force_topk(embeddings, q, k=embeddings.count())
    joined = ivf.alias("a").join(
        bf.alias("b"),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.neighbor_id") == F.col("b.neighbor_id")),
    )
    # every IVF hit is a real pair with the same similarity
    assert joined.count() == ivf.count()
    assert joined.filter(F.col("a.cos_sim") != F.col("b.cos_sim")).count() == 0


def test_ivf_assign_plan_has_zero_exchange(spark, embeddings):
    """Assignment must be scan-speed: the centroid argmax is a
    row-local array aggregate over a literal matrix — any Exchange
    here would shuffle the whole corpus at 10^12 vectors."""
    cents = similarity.deterministic_centroids(embeddings, 8)
    a = similarity.ivf_assign(embeddings, cents)
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_hyperplane_bucket_high_dim_bounded_plan(spark):
    """dim=256 × 8 planes: the plane matrix ships as one literal, so
    plan construction stays O(planes) and evaluation works; values
    match the Python twin bit-for-bit."""
    import math
    import time

    dim, planes, seed = 256, 8, 7
    rows = [(i, [float((i * j) % 7 - 3) for j in range(dim)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    t0 = time.time()
    col = similarity.hyperplane_bucket(F.col("embedding"), dim, num_planes=planes, seed=seed)
    got = {r["vec_id"]: r["b"] for r in df.select("vec_id", col.alias("b")).collect()}
    assert time.time() - t0 < 60

    def coeff(i, j):
        x = math.sin(seed * 1_000_003 + i * 10_007 + j * 97) * 43758.5453
        return x - math.floor(x) - 0.5

    for vid, vec in rows:
        exp = 0
        for i in range(planes):
            proj = sum(v * coeff(i, j) for j, v in enumerate(vec))
            exp |= (1 if proj > 0 else 0) << i
        assert got[vid] == exp, vid


def test_ivf_partitioned_probe_prunes_cells(spark, embeddings, tmp_path):
    """The IVF scale path: assigned corpus written partitionBy(cell);
    an nprobe-cell probe must PRUNE unprobed cells at the source (read
    nprobe/num_cells of the files) — at 10^12 vectors that pruning IS
    the speedup. Pinned via the scan's partition count."""
    cents = similarity.deterministic_centroids(embeddings, 8)
    assigned = similarity.ivf_assign(embeddings, cents)
    path = str(tmp_path / "ivf_cells")
    assigned.write.partitionBy("cell").mode("overwrite").parquet(path)

    lists = spark.read.parquet(path)
    probe = lists.filter(F.col("cell").isin(2, 5))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # partition filters reached the scan…
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    # …and actually pruned: the probe scan reads 2 of the 8 cell dirs
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # Spark prints it in the scan metadata when available
        assert int(m.group(1)) == 2, plan[:1200]
    got = {r["cell"] for r in probe.select("cell").distinct().collect()}
    assert got == {2, 5}
    # probed rows == the cells' full inverted lists (no loss)
    expected = assigned.filter(F.col("cell").isin(2, 5)).count()
    assert probe.count() == expected


def test_ivf_refine_improves_objective_and_is_deterministic(spark, embeddings):
    """Lloyd refinement must not increase the k-means objective
    (Σ per-vector distance to its cell centroid under the assignment
    metric) and must be bit-deterministic across runs."""
    import math

    def objective(cents_df):
        assigned = similarity.ivf_assign(embeddings, cents_df)
        cents = {int(r["centroid_id"]): [float(x) for x in r["embedding"]]
                 for r in cents_df.collect()}
        total = 0.0
        for r in assigned.select("embedding", "cell").collect():
            v = [float(x) for x in r["embedding"]]
            c = cents[r["cell"]]
            nv = math.sqrt(sum(x * x for x in v)) or 1.0
            nc = math.sqrt(sum(x * x for x in c)) or 1.0
            cos = sum(a * b for a, b in zip(v, c)) / (nv * nc)
            total += 1.0 - cos
        return total

    base = similarity.deterministic_centroids(embeddings, 6)
    refined = similarity.ivf_refine(embeddings, base, dim=64, iters=2)
    assert objective(refined) <= objective(base) + 1e-9
    refined2 = similarity.ivf_refine(embeddings, base, dim=64, iters=2)
    a = sorted(map(tuple, ((r["centroid_id"], tuple(r["embedding"])) for r in refined.collect())))
    b = sorted(map(tuple, ((r["centroid_id"], tuple(r["embedding"])) for r in refined2.collect())))
    assert a == b
