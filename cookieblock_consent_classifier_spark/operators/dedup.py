"""Deduplication operators for web-scale training corpora: MinHash+LSH,
SimHash, n-gram Jaccard (exact dedup is one md5 groupBy, declared as
the ``dedup_exact`` query).

All hashing is md5-based (hex) so results are engine-portable and
deterministic across runs/cluster sizes — a requirement for resumable
pipelines (and it lets DuckDB serve as the correctness oracle).

Scale design:
- minhash: per-doc signature is a narrow projection (explode shingles
  → groupBy doc min(hash_k)); shuffle keyed by doc_id, combiner-side
  partial mins make the shuffle tiny regardless of doc length.
- LSH banding: signature → band keys; candidate pairs only join within
  a band bucket (self-join on band key), never all-pairs.
- simhash: 64-bit fingerprint per doc; near-dups = hamming ≤ k, found
  by pigeonhole blocking on 16-bit chunks (4 exact-match probes)
  instead of all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cookieblock_consent_classifier_spark.functions.text import hex_to_long, normalize_text


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over a PRE-PROJECTED token-array
    column (array of strings).

    Built as a zip_with sliding window over the token array (NOT
    element_at over an index sequence): higher-order-function lambdas
    are interpreted without common-subexpression elimination, so an
    element_at(toks, i) form re-runs the whole tokenize expression per
    element — O(n²) regex work per row (observed 80s vs <2s on the
    sf0.1 bench).

    Take the tokens as an ATTRIBUTE (a projected column), not the
    inline split expression: this body references ``toks`` 2(n-1)+1
    times (slice operands + sizes), and with the tokenize expression
    inlined each reference re-runs trim+regexp_replace+split —
    measured 95.8 vs 47.5 us/doc single-task at sf1.0 (opt round 7).
    ``word_shingles`` keeps the inline convenience form; hot paths
    project the tokens first."""
    sh = toks
    for j in range(1, n):
        # zip_with pads the shorter side with null; concat_ws skips
        # nulls, so drop the incomplete trailing shingles explicitly.
        sh = F.zip_with(
            sh,
            F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0))),
            lambda a, b: F.when(a.isNotNull() & b.isNotNull(), F.concat(a, F.lit(" "), b)),
        )
    return F.array_distinct(F.filter(sh, lambda s: s.isNotNull()))


def shingle_tokens(text_col: str | Column) -> Column:
    """The token array feeding word shingles — project THIS into a
    column, then apply word_shingles_from_tokens on the attribute."""
    return F.split(normalize_text(text_col), r"\s+")


def word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """Convenience inline form (single Column expression) — prefer the
    two-stage shingle_tokens + word_shingles_from_tokens in hot paths
    (see word_shingles_from_tokens docstring)."""
    return word_shingles_from_tokens(shingle_tokens(text_col), n)


# Deterministic 60-bit XOR "permutation" constants per minhash lane,
# derived from md5 so the DuckDB oracle can reproduce them verbatim.
def lane_salt(k: int) -> int:
    import hashlib

    return int(hashlib.md5(f"lane:{k}".encode()).hexdigest()[:15], 16)


def shingle_base_hash(shingle: Column) -> Column:
    """Portable 60-bit base hash: int64 of the first 15 hex chars of
    md5(shingle). DuckDB twin: CAST('0x'||substr(md5(s),1,15) AS
    BIGINT)."""
    return hex_to_long(F.substring(F.md5(shingle), 1, 15))


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: sig_k = min over shingles of
    (base_hash(shingle) XOR salt_k) — one md5 per shingle total, lanes
    are free XOR permutations. Docs with no shingles get nulls.
    No explode-shuffle — embarrassingly parallel, scan-speed.

    Fully native, TWO-STAGE: the token array is projected into its own
    column before the shingle window (see word_shingles_from_tokens —
    the inlined form re-ran tokenize per slice/size operand; 143 →
    95 us/doc single-task at sf1.0). The md5 transform and the
    ``num_hashes`` XOR/min passes are the cheap part (~16 us/doc for
    8 lanes). An Arrow-kernel lane variant (int64 hash arrays across
    the boundary, broadcast-XOR + minimum.reduceat) was measured and
    REJECTED in opt round 7: 87.6 vs 95.4 us/doc saturated-task but
    0.58 vs 0.55 s at 32-way sf1 — the Python boundary's fixed cost
    exceeds the ~9% lane saving at bench scale, and zero-Python plans
    compose better downstream (lsh_bands / candidate generation).
    test_dedup_similarity pins the two-stage values against the
    original inline formulation; the DuckDB oracle pins them
    cross-engine."""
    staged0 = df.select(F.col(id_col), shingle_tokens(text_col).alias("__toks"))
    hashes = F.transform(
        word_shingles_from_tokens(F.col("__toks"), shingle_n), shingle_base_hash
    )
    staged = staged0.select(F.col(id_col), hashes.alias("__h"))

    def xor_lane(salt: int):
        # single-arg lambda required: pyspark transform() treats a
        # 2-param callable as (element, index)
        return lambda h: h.bitwiseXOR(F.lit(salt))

    out = [F.col(id_col)]
    for k in range(num_hashes):
        out.append(
            F.array_min(F.transform(F.col("__h"), xor_lane(lane_salt(k)))).alias(f"minhash_{k}")
        )
    return staged.select(*out)


def lsh_bands(
    sig_df: DataFrame, id_col: str, num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Band the signature: band_key = md5 of the band's concatenated
    minhashes. Output long format (id, band, band_key) — the join key
    space for candidate generation. Docs with no shingles (all-null
    signature) are excluded: concat_ws would otherwise collapse their
    NULL lanes to one shared '' key and pair every empty doc with
    every other.

    The exclusion is a CASE inside the projection (explode of a NULL
    array emits no rows), NOT a ``filter(minhash_0 IS NOT NULL)``: a
    Filter node gets predicate-pushed below the signature projection
    and below any scan-side exchange, re-inlining the whole
    shingle→md5→xor→array_min lineage into the scan task — measured
    6.1s of a 7.2s bands pass at sf1.0 (opt round 7; the pushed
    predicate ran single-task below the fan-out repartition). The
    conditional array keeps the null check on the already-projected
    lane attribute with zero extra evaluations."""
    bands = []
    for b in range(0, num_hashes, band_size):
        key = F.md5(
            F.concat_ws(
                "_", *[F.col(f"minhash_{k}").cast("string") for k in range(b, b + band_size)]
            )
        )
        bands.append(
            F.struct(F.lit(b // band_size).alias("band"), key.alias("band_key"))
        )
    arr = F.when(F.col("minhash_0").isNotNull(), F.array(*bands))
    return sig_df.select(
        F.col(id_col), F.explode(arr).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


# giant-bucket cap of lsh_candidate_pairs (members kept per bucket)
LSH_MAX_BUCKET_SIZE = 4096


def lsh_candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "id",
    stats: dict | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) among bucket-mates, via ONE
    groupBy per (band, band_key) bucket that collects the sorted
    member ids and explodes the in-bucket combinations natively.

    Round 6 rewrite (was a bucket self-join): the join's two sides
    were differently-aliased projections of the same bands lineage,
    which defeats ReuseExchange — the whole shingle→minhash subplan
    executed once PER SIDE, and the bands rows shuffled twice. The
    groupBy shape evaluates the signature lineage ONCE and shuffles
    the (band, key, id) rows once; cross-band repeats collapse in the
    same final distinct as before.

    ``LSH_MAX_BUCKET_SIZE`` (round 7 — the giant-bucket defense): a
    pathological bucket costs O(k²) pairs under any shape, and in the
    groupBy form it lands in ONE task's collect+explode; at corpus
    scale boilerplate duplication routinely produces 10⁵–10⁶-member
    buckets (10¹⁰+ pairs — an OOM or a forever-task). Buckets over
    the cap are DETERMINISTICALLY sampled down to the cap: members
    are ranked by md5(id) (engine-portable, unbiased w.r.t. id order)
    and the lowest-ranked ``LSH_MAX_BUCKET_SIZE`` kept,
    so pair count per bucket is bounded by cap²/2. Near-dup detection
    degrades gracefully: members of a truncated bucket usually share
    several other buckets (num_bands chances), and a 4096-member
    bucket is far past the point where LSH banding is selective
    anyway. The cap is far above any gated fixture (max observed
    bucket: 3 / 6 / 20 at sf0.01/0.1/1.0), so declared-query results
    are unchanged; the cap cannot be switched off.

    ``stats`` (optional dict, same pattern as connected_components):
    when provided, runs one extra aggregation job over the bucket
    frame and records ``capped_buckets`` (buckets over the cap) and
    ``dropped_members`` (members removed by sampling) — leave None in
    latency-sensitive paths."""
    buckets = (
        bands_df.groupBy("band", "band_key")
        # array_distinct(sort_array(...)) stays sorted AND drops
        # duplicate ids within a bucket — the former self-join's
        # strict a < b filter excluded (x, x) self-pairs; duplicate
        # input ids must not emit them here either
        .agg(F.array_distinct(F.sort_array(F.collect_list(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    cap = LSH_MAX_BUCKET_SIZE
    over = F.size("ids") > cap
    if stats is not None:
        row = buckets.filter(over).agg(
            F.count("*").alias("nb"),
            F.coalesce(F.sum(F.size("ids") - cap), F.lit(0)).alias("nd"),
        ).first()
        stats["capped_buckets"] = row["nb"]
        stats["dropped_members"] = int(row["nd"])
    # md5-rank sample, then restore id order (downstream combos rely
    # on the sorted-ascending invariant for a < b)
    ranked = F.sort_array(
        F.transform(
            F.col("ids"),
            lambda x: F.struct(F.md5(x.cast("string")).alias("r"), x.alias("v")),
        )
    )
    sampled = F.sort_array(F.transform(F.slice(ranked, 1, cap), lambda e: e["v"]))
    buckets = buckets.withColumn("ids", F.when(over, sampled).otherwise(F.col("ids")))
    n = F.size(F.col("ids"))
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            # 2-param HOF lambda = (element, index) in pyspark
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


# connected_components runs union-find on the driver up to this many
# edges, and distributed label propagation of at most CC_MAX_ROUNDS
# rounds above it
CC_DRIVER_MAX_EDGES = 1_000_000
CC_MAX_ROUNDS = 25


def connected_components(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """Connected components over an undirected pair graph — the
    cluster-merge step after near-dup candidate verification (pairs
    alone under-merge: A~B and B~C must collapse into one cluster even
    when A~C was never generated).

    ADAPTIVE execution: the verified-pair graph is typically orders of
    magnitude smaller than the corpus (that is the point of LSH), so
    up to ``CC_DRIVER_MAX_EDGES`` edges the exact min-root
    union-find runs driver-side (milliseconds; an iterative Spark loop
    would pay several whole-cluster job rounds for a graph that fits
    in one task). Above the threshold: distributed min-label
    propagation with pointer jumping — every node's label becomes the
    min of its own and its neighbors' labels, then follows the new
    label one more hop (halves rounds on chains); per-round
    localCheckpoint cuts the lineage; convergence checked against the
    previous (already-materialized) labels; bounded by ``CC_MAX_ROUNDS``.
    The classic MapReduce-CC shape; deterministic and resumable.

    Takes an (a, b) edge frame. Returns (node, component) where
    component = min node id reachable.
    Only nodes that appear in an edge are emitted (singletons need no
    merging).

    ``stats`` (optional dict) receives run metrics: which path ran
    ("driver" | "distributed"), edge count, and propagation rounds —
    the per-stage metrics surface for lineage/resume reporting.
    """
    spark = edges.sparkSession
    # materialize the (typically expensive) verified-pair lineage ONCE;
    # the size probe and the subsequent path both read local blocks
    edges = edges.select("a", "b").localCheckpoint(eager=True)
    n_edges = edges.count()
    if stats is not None:
        stats["edges"] = n_edges
    if n_edges <= CC_DRIVER_MAX_EDGES:
        if stats is not None:
            stats["path"] = "driver"
            stats["rounds"] = 0
        pairs = edges.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in pairs:
            ra, rb = find(r["a"]), find(r["b"])
            if ra != rb:  # min id becomes the root -> component = min reachable
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {x for r in pairs for x in (r["a"], r["b"])}
        out = [(n, find(n)) for n in sorted(nodes)]
        return spark.createDataFrame(out, ["node", "component"])
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct()
    # self-loops keep a node's own label in every min-aggregation
    nodes = sym.select(F.col("src").alias("node")).distinct()
    sym = sym.unionByName(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    # materialize the symmetrized edge list (input edges are already
    # checkpointed above; this adds the self-loops + reversals once)
    sym = sym.localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("component")).localCheckpoint(
        eager=True
    )
    if stats is not None:
        stats["path"] = "distributed"
        stats["rounds"] = 0
    for _ in range(CC_MAX_ROUNDS):
        if stats is not None:
            stats["rounds"] += 1
        # label(dst) <- min over incoming src labels (incl. self-loop)
        proposed = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: follow the proposed label one more hop
        # (component <- proposed[component], monotonically ≤) — halves
        # the number of rounds on chain-shaped clusters
        hop = proposed.select(
            F.col("node").alias("__pn"), F.col("component").alias("__pc")
        )
        jumped = (
            proposed.join(hop, proposed.component == hop.__pn, "left")
            .select("node", F.coalesce("__pc", "component").alias("component"))
        )
        # materialize ONCE per round, then the convergence check is a
        # cheap scan over local blocks (checkpoint first — counting the
        # lazy frame would execute the round twice)
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("p")
            .join(labels.alias("l"), "node")
            .filter(F.col("p.component") != F.col("l.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def jaccard_from_shingles(sa: Column, sb: Column) -> Column:
    """Jaccard over two PRE-COMPUTED shingle-array columns. Joining
    candidate pairs against a (doc_id, shingles) projection and
    applying this is value-identical to the Jaccard of
    ``word_shingles`` over the two texts, but evaluates each doc's
    shingles once per side instead of once per PAIR (word_shingles is the interpreted-HOF heavy part; a doc
    in k candidate pairs paid it k times)."""
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return F.when(union > 0, F.round(inter / union, 6)).otherwise(F.lit(None))


SIMHASH_BITS = 48  # < 2^53: power-of-two double division stays exact


def simhash48(text_col: str | Column) -> Column:
    """48-bit SimHash of the token set: bit j of the fingerprint is the
    sign of Σ_tokens (±1 by bit j of md5(token)).

    Pure Catalyst: one md5 per distinct token, one aggregate over the
    token array, bit extraction as unrolled integer shifts, so the
    ``simhash`` query plans no Python node. The per-token zip_with
    builds a 48-wide array per token and higher-order lambdas get no
    subexpression elimination, so the cost grows with tokens per
    document; the driver's document tables are 500 (sf0.01) to 5,000
    (sf0.1) short documents."""
    toks = F.array_distinct(F.split(normalize_text(text_col), r"\s+"))
    hashes = F.transform(
        toks,
        lambda t: hex_to_long(F.substring(F.md5(F.concat(F.lit("sh:"), t)), 1, 12)),
    )

    def bits_of(h: Column) -> Column:
        return F.array(
            *[
                F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("int")
                for j in range(SIMHASH_BITS)
            ]
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, b: a + 2 * b - 1),
    )
    weighted = F.zip_with(
        votes,
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        lambda v, j: F.when(v > 0, F.pow(F.lit(2.0), j.cast("double"))).otherwise(F.lit(0.0)),
    )
    return F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x).cast("long")


def simhash_blocks(simhash_col: Column) -> list[Column]:
    """Pigeonhole blocking keys: split the 48-bit simhash into 4
    chunks; near-dups within hamming ≤ 3 share at least one exact
    chunk → candidate generation by equi-join, never all-pairs."""
    num_blocks = 4
    width = SIMHASH_BITS // num_blocks
    return [
        F.shiftright(simhash_col, i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        .alias(f"simhash_block_{i}")
        for i in range(num_blocks)
    ]
