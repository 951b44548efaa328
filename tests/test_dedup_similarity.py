"""Dedup + similarity operator semantics."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.operators import dedup, similarity


def test_exact_dup_clusters_normalized(spark, tmp_path):
    """The dedup_exact query clusters on the md5 of the normalized
    text; a cluster's survivor is its lowest doc_id."""
    import __spark_entry__ as entrymod

    rows = [
        (1, "Hello,  World!"),
        (2, "hello world"),          # same after normalization
        (3, "entirely different"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = entrymod.q_dedup_exact(spark, str(tmp_path)).filter("cluster_size > 1").collect()
    assert len(out) == 1
    assert out[0]["cluster_size"] == 2 and out[0]["keep_id"] == 1


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["t"])
    got = [r["s"] for r in df.select(dedup.word_shingles("t", 3).alias("s")).collect()]
    assert sorted(got[0]) == ["a b c", "b c d"]
    assert got[1] == []  # fewer tokens than n -> no shingles


def test_minhash_identical_docs_identical_sigs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "totally different words here now")],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(df, "text", "doc_id", num_hashes=4).collect()
    by = {r["doc_id"]: tuple(r[f"minhash_{k}"] for k in range(4)) for r in sig}
    assert by[1] == by[2]
    assert by[1] != by[3]


def test_lsh_pairs_find_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated text corpus entry")],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(df, "text", "doc_id", num_hashes=8)
    bands = dedup.lsh_bands(sig, "doc_id", num_hashes=8, band_size=2)
    pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(bands, "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_pairs_no_self_pairs_on_duplicate_ids(spark):
    """A doc_id appearing twice in the input (exactly what a dedup
    pipeline sees) must not emit an (x, x) self-pair — the round-6
    groupBy rewrite dedups bucket members (array_distinct) where the
    old self-join's strict a < b filter excluded them."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (1, base), (2, base + " extra")], ["doc_id", "text"]
    )
    sig = dedup.minhash_signatures(df, "text", "doc_id", num_hashes=8)
    bands = dedup.lsh_bands(sig, "doc_id", num_hashes=8, band_size=2)
    pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidate_pairs(bands, "doc_id").collect()}
    assert (1, 1) not in pairs and (2, 2) not in pairs
    assert (1, 2) in pairs


def test_ngram_jaccard(spark):
    df = spark.createDataFrame([("a b c d", "a b c d"), ("a b c d", "x y z w")], ["x", "y"])
    j = dedup.jaccard_from_shingles(dedup.word_shingles("x", 2), dedup.word_shingles("y", 2))
    got = [r["j"] for r in df.select(j.alias("j")).collect()]
    assert got[0] == 1.0 and got[1] == 0.0


def test_simhash_close_for_near_dups(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = base + " extraone"
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    out = {r["doc_id"]: r["sh"] for r in df.select("doc_id", dedup.simhash48("text").alias("sh")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])
    assert hamming(out[1], out[2]) <= 6


def test_simhash_blocks_cover_near_dup(spark):
    df = spark.createDataFrame([(1, 0b1111_000000000000_111111111111_000000000000_101010101010)], ["id", "sh"])
    blocks = df.select(*dedup.simhash_blocks(F.col("sh"))).first()
    assert blocks["simhash_block_0"] == 0b101010101010


def test_brute_force_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.01]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [3, 1]  # closest by cosine, excluding self


def test_lsh_topk_subset_of_bruteforce(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 3)
    bf = similarity.brute_force_topk(embeddings, q, k=5)
    ann = similarity.lsh_topk(embeddings, q, dim=64, k=5)
    # every ANN hit must also be a real corpus vector with the same
    # rounded similarity as brute force computes for that pair
    joined = ann.alias("a").join(
        bf.alias("b"),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.neighbor_id") == F.col("b.neighbor_id")),
    )
    mismatches = joined.filter(F.col("a.cos_sim") != F.col("b.cos_sim")).count()
    assert mismatches == 0


def test_lsh_near_dup_recall(spark, embeddings):
    """Measured recall of the LSH near-dup SCALE path vs the exact
    all-pairs oracle (the q_embedding_near_dup surface), plus the
    candidate-volume saving that justifies it at scale."""
    thresh = 0.4
    a = embeddings.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = embeddings.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    exact = (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(
            similarity.cosine(F.col("ea"), F.col("eb")), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= thresh)
    )
    exact_pairs = {(r["a"], r["b"]) for r in exact.collect()}
    assert exact_pairs, "fixture must contain near-dup pairs"

    got = similarity.lsh_near_dup_pairs(
        embeddings, dim=64, threshold=thresh, num_planes=3, num_tables=12
    )
    got_pairs = {(r["a"], r["b"]) for r in got.collect()}
    # no false positives possible: candidates are exact-verified
    assert got_pairs <= exact_pairs
    recall = len(got_pairs) / len(exact_pairs)
    n = embeddings.count()
    all_pairs = n * (n - 1) // 2
    print(f"lsh_near_dup recall={recall:.3f} ({len(got_pairs)}/{len(exact_pairs)}), "
          f"exact scans {all_pairs} pairs")
    assert recall >= 0.85, recall  # measured 0.939 for 3 planes x 12 tables


def test_connected_components_known_graph(spark, monkeypatch):
    """Chain + pair + triangle + long path (forces multiple
    propagation rounds) → exact component assignment."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)]
    edges += [(i, i + 1) for i in range(30, 42)]  # 13-node path
    df = spark.createDataFrame(edges, ["a", "b"])
    # exercise BOTH execution paths: driver union-find (default
    # threshold) and the distributed min-label loop (threshold=0)
    for thresh in (dedup.CC_DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", thresh)
        got = {r["node"]: r["component"]
               for r in dedup.connected_components(df).collect()}
        _check(got)


def _check(got):
    assert {got[n] for n in (1, 2, 3)} == {1}
    assert {got[n] for n in (10, 11)} == {10}
    assert {got[n] for n in (20, 21, 22)} == {20}
    assert {got[n] for n in range(30, 43)} == {30}
    assert len(got) == 3 + 2 + 3 + 13


def test_approx_stats_error_bounds(spark, events):
    """Sketch accuracy vs exact: HLL++ (rsd=0.02) within 5% on distinct
    users; GK quantiles within the rank tolerance of exact
    percentiles."""
    approx = {
        r["event_type"]: r
        for r in events.groupBy("event_type").agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
            F.percentile_approx("value", [0.5, 0.95], 10_000).alias("q"),
        ).collect()
    }
    exact = {
        r["event_type"]: r
        for r in events.groupBy("event_type").agg(
            F.count_distinct("user_id").alias("u"),
            F.expr("percentile(value, array(0.5, 0.95))").alias("q"),
        ).collect()
    }
    for et, a in approx.items():
        e = exact[et]
        assert abs(a["au"] - e["u"]) <= max(1, 0.05 * e["u"]), et
        for qa, qe in zip(a["q"], e["q"]):
            assert abs(qa - qe) <= 0.05 * max(1.0, abs(qe)), (et, qa, qe)


def test_lsh_topk_recall(spark, embeddings):
    """Measured top-5 recall of multi-table LSH ANN vs brute force."""
    q = embeddings.filter(F.col("vec_id") < 20)
    bf = similarity.brute_force_topk(embeddings, q, k=5)
    bf_pairs = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ann = similarity.lsh_topk(embeddings, q, dim=64, k=5,
                              num_planes=3, num_tables=12)
    ann_pairs = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    recall = len(ann_pairs & bf_pairs) / len(bf_pairs)
    print(f"lsh_topk recall@5 = {recall:.3f} (3 planes x 12 tables)")
    # measured: 0.930 at 3p x 12t (sweep: 2p x 10t 0.990, 3p x 8t 0.860)
    assert recall >= 0.85, recall


def test_connected_components_distributed_multi_round(spark, monkeypatch):
    """Force the DISTRIBUTED min-label + pointer-jumping path
    (CC_DRIVER_MAX_EDGES=0) on a 64-node chain + a disjoint
    triangle: the chain needs multiple propagation rounds (>= 3 even
    with pointer jumping), and the result must equal the driver
    union-find path exactly."""
    chain = [(i, i + 1) for i in range(63)]
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(chain + tri, ["a", "b"])

    dist_stats: dict = {}
    with monkeypatch.context() as m:
        m.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
        dist = dedup.connected_components(edges, stats=dist_stats)
    drv_stats: dict = {}
    drv = dedup.connected_components(edges, stats=drv_stats)

    got = {r["node"]: r["component"] for r in dist.collect()}
    want = {r["node"]: r["component"] for r in drv.collect()}
    assert got == want
    assert all(got[i] == 0 for i in range(64))
    assert all(got[i] == 100 for i in (100, 101, 102))

    assert dist_stats["path"] == "distributed"
    assert drv_stats["path"] == "driver"
    assert dist_stats["edges"] == drv_stats["edges"] == 66
    # a 64-chain cannot converge in 2 rounds even with pointer jumping
    # (label reach grows a constant factor per round), and must
    # converge well inside the CC_MAX_ROUNDS bound
    assert 3 <= dist_stats["rounds"] <= 12, dist_stats


def _py_simhash48(text: str | None) -> int | None:
    """Pure-Python simhash48: normalize (lowercase, non-alphanumeric
    runs to one space, trim), distinct whitespace tokens, md5 of
    "sh:" + token, its first 12 hex digits as the 48 vote bits."""
    if text is None:
        return None
    norm = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip(" ")
    hashes = [int(hashlib.md5(f"sh:{t}".encode()).hexdigest()[:12], 16)
              for t in set(re.split(r"\s+", norm))]
    votes = [sum(1 if h >> j & 1 else -1 for h in hashes) for j in range(dedup.SIMHASH_BITS)]
    return sum(1 << j for j, v in enumerate(votes) if v > 0)


def test_simhash_matches_python_reference(spark):
    """simhash48 equals an independent pure-Python twin on a corpus
    hitting every edge: empty string (split('') -> ['']),
    whitespace-only, null text, single token, repeated tokens
    (array_distinct), unicode, punctuation and a long repeat."""
    rows = [
        ("d0", "the quick brown fox jumps over the lazy dog"),
        ("d1", "the quick brown fox jumps over the lazy cat"),
        ("d2", ""),
        ("d3", "   "),
        ("d4", None),
        ("d5", "one"),
        ("d6", "two words"),
        ("d7", "a a a a a"),
        ("d8", "Grüße λ-calculus naïve café 東京 3.14 % & #"),
        ("d9", "x,y;z|v a_b c-d e.f"),
        ("d10", "tok " * 200),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["k"]
        for r in docs.select("doc_id", dedup.simhash48("text").alias("k")).collect()
    }
    assert got == {doc_id: _py_simhash48(text) for doc_id, text in rows}


def test_minhash_two_stage_matches_inline(spark):
    """The round-7 two-stage formulation (tokens projected into a
    column before the shingle window) must be value-identical to the
    original single-expression inline form on the same edge corpus."""
    rows = [
        ("d0", "the quick brown fox jumps over the lazy dog"),
        ("d1", ""),
        ("d2", None),
        ("d3", "two words"),          # < 3 tokens -> no shingles -> NULLs
        ("d4", "a b c"),              # exactly one shingle
        ("d5", "a b c a b c a b c"),  # repeated shingles (distinct)
        ("d6", "Grüße λ naïve café 東京 yes"),
        ("d7", "w " * 100),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for k in (4, 8):
        got = sorted(
            dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=k).collect()
        )
        # original inline form: word_shingles(text) -> md5 -> XOR/min
        hashes = F.transform(
            dedup.word_shingles("text", 3), dedup.shingle_base_hash
        )
        staged = docs.select("doc_id", hashes.alias("__h"))
        lanes = [
            F.array_min(
                F.transform(
                    F.col("__h"),
                    (lambda s: lambda h: h.bitwiseXOR(F.lit(s)))(dedup.lane_salt(i)),
                )
            ).alias(f"minhash_{i}")
            for i in range(k)
        ]
        want = sorted(staged.select("doc_id", *lanes).collect())
        assert got == want, k


def test_lsh_bucket_cap_pathological(spark, monkeypatch):
    """Round-7 giant-bucket defense (LSH_MAX_BUCKET_SIZE): 5,000 identical
    docs collapse into single LSH buckets per band; uncapped that is
    ~12.5M pairs in one task's explode. With the cap the pair count is
    bounded, deterministic, and the drop is surfaced via stats."""
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated verbatim everywhere") for i in range(5000)],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=8)
    bands = dedup.lsh_bands(sig, "doc_id", num_hashes=8, band_size=2)
    stats: dict = {}
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET_SIZE", 40)
    pairs = dedup.lsh_candidate_pairs(bands, "doc_id", stats=stats)
    rows = pairs.collect()
    assert len(rows) == 40 * 39 // 2  # identical sample in all 4 bands
    assert all(r["a"] < r["b"] for r in rows)
    assert stats == {"capped_buckets": 4, "dropped_members": 4 * (5000 - 40)}
    # deterministic across runs
    again = dedup.lsh_candidate_pairs(bands, "doc_id")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    monkeypatch.undo()
    # under-cap buckets are untouched: the default cap returns every
    # in-bucket pair
    small = spark.createDataFrame(
        [(i, f"doc number {i} shares trigram prefix doc number") for i in range(8)],
        ["doc_id", "text"],
    )
    ssig = dedup.minhash_signatures(small, "text", "doc_id", num_hashes=8)
    sbands = dedup.lsh_bands(ssig, "doc_id", num_hashes=8, band_size=2)
    capped = sorted(map(tuple, dedup.lsh_candidate_pairs(sbands, "doc_id").collect()))
    buckets: dict = {}
    for r in sbands.collect():
        buckets.setdefault((r["band"], r["band_key"]), set()).add(r["doc_id"])
    every_pair = {
        (a, b) for ids in buckets.values() for a in ids for b in ids if a < b
    }
    assert every_pair and capped == sorted(every_pair)
