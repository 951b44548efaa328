"""Config → lazy DataFrame plan compiler.

The reference interprets its declared feature schema row-at-a-time
(processor.py:400-455: three getattr-dispatch loops per entity). This
compiler emits ONE Catalyst DAG for the whole schema:

    scan → [optional label/sample filters]
         → row-wise JVM inputs every row needs (byte length; on the
           native path the decoded value and its entropy)
         → one (entity, ts) window pass: lag columns + slot ranks
         → every Python UDF in one Arrow node: the gestalt of the
           previous and this value, the fused content kernel over the
           slot rows' values, the per-value zlib length and entropy,
           the regex-list ranks over ``name``
         → groupBy(entity): per-entity aggregates + slot pivots
           (per-update and per-diff blocks pivot inside the SAME
           aggregation; the per-update features are built there, on
           the at most num_updates rows that fill a slot)
         → broadcast lookup joins (top-k ranks)
         → ordered sparse assembly (plans/assemble.py)

Physical shape: one row-sized hash-exchange on entity_id (it feeds
the window) plus N tiny broadcast exchanges; every row-wise
expression is codegen'd or Arrow-batched. The Python boundary is at
most ONE ArrowEvalPython node, after the window, so the stage below
the shuffle is pure JVM and the row exchange carries no Python
result. That node declares no output partitioning, so the aggregate
after it runs partial → a second entity_id exchange → final: the
second exchange carries partial-aggregate buffers (at most one row
per entity per task), never the entity rows.
Disabled features are not emitted. Their native
inputs (per-entity aggregates, decoded value, entropy, the shared
domain column) are built on every schema and nothing reads them, so
Catalyst prunes them, and their input columns, from the plan (the
reference's `enabled`-flag pruning, processor.py:95-121, for free).
Only what costs more than an expression stays behind a check: the
Arrow kernel (any enabled ``kernel`` row of schema.FEATURES), the
gestalt and regex-list pandas UDFs, and the broadcast rank joins.
Every per-entity aggregate is algebraic, so none is bounded by the
entity's update count.

Feature semantics cite /root/reference/feature_extraction/*.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Callable

from pyspark.sql import Column, DataFrame, Window, functions as F

from cookieblock_consent_classifier_spark.functions import native, vectorized as V
from cookieblock_consent_classifier_spark.plans import assemble
from cookieblock_consent_classifier_spark.plans.assemble import Block
from cookieblock_consent_classifier_spark.schema import FEATURES, NUM_CLASSES, FeatureSchema, FeatureSpec
from cookieblock_consent_classifier_spark.sources.resources import Resources, rank_df, sql_literal

# ---------------------------------------------------------------------------
# default schema: schema.FEATURES, the reference's shipped features.json
# order and widths; resource-backed widths come from ``res`` so tests can
# run with small fixture resources.
# ---------------------------------------------------------------------------

def default_schema(res: Resources, num_updates: int = 1, num_diffs: int = 1) -> FeatureSchema:
    def specs(family: str) -> tuple[FeatureSpec, ...]:
        return tuple(
            FeatureSpec(f.name, args=dict(f.args),
                        vector_size=len(getattr(res, f.width)) if isinstance(f.width, str) else f.width)
            for f in FEATURES if f.family == family
        )

    return FeatureSchema(num_updates=num_updates, num_diffs=num_diffs, per_entity=specs("entity"),
                         per_update=specs("update"), per_diff=specs("diff"))


# ---------------------------------------------------------------------------
# per-update feature builders: value/flag columns → width Columns
# (NULL = absent = sparse zero). Encoding: true→1.0 false→−1.0.
# ---------------------------------------------------------------------------

def _per_update_builders() -> dict[str, Callable[[dict], list[Column] | Column]]:
    """Maps spec name → builder(ctx). ``ctx`` carries the raw update
    columns, the two per-value inputs that compile_features sources
    from either physical path — ``dec`` (the Python-unquote decoded
    value) and ``entropy`` (its char entropy) — and ``k``, the FUSED
    Python kernel struct (vectorized.content_kernel_udf) that the
    builders of schema.FEATURES' ``kernel`` rows project. One builder
    per feature, whichever path supplies ``dec`` and ``entropy``. A
    builder returns a list of fixed Columns, or for rank-multihot
    features a single array<int> Column. compile_features evaluates
    the builders inside the slot-struct aggregate, after the window,
    so only the rows that fill an update slot run them.

    ``dec`` has Python-unquote semantics — NOT F.try_url_decode (Java
    URLDecoder: '+'→space, malformed %-escape→NULL; both diverge from
    the reference's unquote)."""
    v = lambda c: c["value"]  # noqa: E731
    k = lambda c: c["k"]  # noqa: E731
    dec = lambda c: c["dec"]  # noqa: E731

    def delimiter_sep(c):
        # 9-wide: chosen delimiter slot = token count, others −1
        # (processor.py:1116-1130)
        return [
            F.when(k(c)["delim_idx"] == i, k(c)["num_tokens"].cast("double"))
            .otherwise(F.lit(-1.0))
            for i in range(len(V.DELIMITERS))
        ]

    return {
        "http_only": lambda c: [native.pm_flag(c["http_only"])],
        "secure": lambda c: [native.pm_flag(c["secure"])],
        "session": lambda c: [native.pm_flag(c["session"])],
        "same_site": lambda c: native.one_hot(c["same_site"], ["no_restriction", "lax", "strict"]),
        "expiry": lambda c: [c["expiry"].cast("double")],
        "expiry_extra": lambda c: native.expiry_buckets(c["expiry"]),
        # utf-8 bytes of the decoded value
        "content_length": lambda c: [F.octet_length(dec(c)).cast("double")],
        # compressed size + reduction (processor.py:1061-1081)
        "compressed_length": lambda c: [
            k(c)["zlib_len"], (F.octet_length(dec(c)) - k(c)["zlib_len"]).cast("double")
        ],
        "shannon_entropy": lambda c: [c["entropy"]],
        # value != unquote(value) → ±1 (processor.py:1101-1113)
        "url_encoding": lambda c: [native.pm(v(c) != dec(c))],
        "delimiter_sep": delimiter_sep,
        "base64_encoded": lambda c: [native.pm(k(c)["b64_valid"])],
        # shape-regex + base64 fallback, in the kernel (processor.py:1148-1162)
        "contains_js_obj": lambda c: [k(c)["js_obj"]],
        "content_eng_terms": lambda c: k(c)["term_ranks"],
        "csv_contents": lambda c: [k(c)[f] for f in
                                   ["csv_num", "csv_hex", "csv_alpha", "csv_alnum", "csv_bool"]],
        "js_contents": lambda c: [k(c)[f] for f in V.JS_CONTENT_FIELDS],
        "numerical_content": lambda c: [k(c)["is_numeric"]],
        # all-hex AND not unicode-numeric (processor.py:1317-1326); the
        # ASCII decimal guard is exact under the hex-regex conjunction
        # (native.hex_content docstring)
        "hex_content": lambda c: [native.hex_content(dec(c))],
        "alpha_content": lambda c: [k(c)["is_alpha"]],
        "is_identifier": lambda c: [k(c)["is_ident"]],
        "all_uppercase": lambda c: [k(c)["is_upper"]],
        "all_lowercase": lambda c: [k(c)["is_lower"]],
        # RAW-value isspace() semantics (processor.py:1376-1384):
        # translate over the closed PY_WS set
        "empty_content": lambda c: [native.empty_content(v(c))],
        # Python \b is unicode-aware, Java's is ASCII — kernel field
        "boolean_content": lambda c: [k(c)["bool_content"]],
        "timestamp_content": lambda c: [native.timestamp_content(dec(c))],
        "date_content": lambda c: [native.date_content(dec(c))],
        "contains_uuid": lambda c: native.uuid_version_onehot(dec(c)),
        "url_content": lambda c: [native.url_content(dec(c))],
    }


# multi-hot rank features: their width is a resource list's length
RANK_FEATURES = frozenset(f.name for f in FEATURES if isinstance(f.width, str))

# features that read a genuinely-Python computation of the kernel
# path: zlib (compressed_length from the kernel struct __k,
# complength_total from value_stats), csv.Sniffer (csv/delimiter), js2py
# (js_contents), base64 decode heuristics, and open-ended Python unicode
# semantics (isnumeric/isalpha/isidentifier/case/\b). Every other
# feature is Catalyst over the raw columns, ``dec`` and ``entropy``, or
# its own Python UDF, so a schema that enables none of these compiles
# without the kernel: no kernel call in the plan, not just a pruned one.
_KERNEL_FEATURES = frozenset(f.name for f in FEATURES if f.path == "kernel")


def native_schema(res: Resources, num_updates: int = 2, num_diffs: int = 2) -> FeatureSchema:
    """``default_schema`` filtered to its ``catalyst`` rows (schema.FEATURES):
    the features whose compiled form is pure Catalyst expressions — no
    Arrow kernel field, no regex-list UDF, no difflib gestalt.
    Declaration order, widths and builders are those of the full
    schema: a sub-schema, not a variant implementation.

    Purpose: the driver's oracled end-to-end pipeline query — the full
    composition (label filter → lag window → one entity groupBy whose
    slot pivots build the per-update features + aggregates → broadcast rank
    joins → ordered sparse assembly → inverse-class weights) has an
    exact DuckDB twin over this subset, turning the pipeline row from
    rows-only into a value-exact green gate row (VERDICT r4 item 1).
    """
    catalyst = {f.name for f in FEATURES if f.path == "catalyst"}
    full = default_schema(res, num_updates, num_diffs)

    def keep(specs):
        return tuple(s for s in specs if s.name in catalyst)

    return replace(full, per_entity=keep(full.per_entity),
                   per_update=keep(full.per_update), per_diff=keep(full.per_diff))


# ---------------------------------------------------------------------------
# the compiler
# ---------------------------------------------------------------------------

def _sql_in_set(col_name: str, values) -> Column:
    """``col IN (...)`` built as ONE SQL-text expression. Column.isin
    marshals every literal through its own py4j round-trip (the 568
    IAB vendors cost ~0.2s of driver time per compile); a single
    F.expr parse yields the identical Catalyst In/InSet (hash-set
    probe at runtime), so execution is unchanged. Members are
    ``sql_literal`` hex strings, so the text means the same under
    either parser string-literal mode."""
    if not values:
        return F.lit(False)
    return F.expr(f"`{col_name}` IN ({', '.join(map(sql_literal, values))})")


def compile_features(
    df: DataFrame,
    schema: FeatureSchema,
    res: Resources,
    training: bool = True,
) -> tuple[DataFrame, list[str]]:
    """Compile the declared schema over a long-format entity-update
    DataFrame (COOKIE_UPDATE_SCHEMA shape) into a wide per-entity
    DataFrame of named feature columns (+ label), ready for sparse
    assembly. Returns (wide_df, feature_names).

    training=True applies the reference's label-range filter
    (processor.py:473-478) and attaches the class weights. Every
    per-entity output is exact over all of an entity's updates: the
    pair metrics (gestalt, Levenshtein, time difference) are per-row
    columns after the window, aggregated like any other.
    """
    spark = df.sparkSession
    names = schema.feature_names()

    if training:
        df = df.filter(F.col("label").between(0, NUM_CLASSES - 1))

    w = Window.partitionBy("entity_id").orderBy("ts", "update_idx")
    enabled_pe = {s.name for s in schema.per_entity if s.enabled}
    need_gestalt = "gestalt_total" in enabled_pe or any(
        s.enabled and s.name == "gestalt_similarity" for s in schema.per_diff
    )

    # ---- stage 0 (PRE-shuffle): only what every row needs, as JVM
    # expressions: the per-entity aggregate inputs (and, on the native
    # path, the decoded value and its entropy). Every Python UDF runs
    # after the window (below). Built as single select()s (a withColumn
    # per column means a py4j analysis round-trip each; ~120 of them
    # cost ~10s of serial driver time per job).
    delim_ms = next((s.args.get("min_seps", 1) for s in schema.per_update
                     if s.name == "delimiter_sep"), 1)
    csv_ms = next((s.args.get("min_seps", 2) for s in schema.per_update
                   if s.name == "csv_contents"), 2)
    # THE kernel/native fork, decided from the schema: it chooses only
    # where ``dec`` and ``entropy`` come from; every builder is the same
    # on both sides. With any kernel feature enabled, Python runs after
    # the window anyway, so ``dec`` is the kernel's field and
    # ``__zlib_len``/``__entropy`` come from value_stats there.
    # Otherwise the plan stays zero-Python: the Python-unquote decoded
    # string (native.py_unquote, a byte-exact CPython twin) is
    # materialized ONCE in stage 0 and the entropy HOF over it becomes
    # ``__entropy`` (the entropy_total aggregate reads it on every row;
    # the slot builders read both after the window). ``__nat_dec``
    # rides the exchange: recomputing py_unquote inside the slot structs
    # cut the row exchange's shuffle bytes (1.89 → 1.64 MB on perfbench
    # native) but cost more CPU (job_cpu_s median 1.87 → 1.98 s, worse
    # in 7/10 pairs on 4 cores). A schema that reads neither gets both
    # pruned. Both paths stay: native dec/entropy on every schema kept
    # perfbench hot's output but raised its job_cpu_s in 3/3 pairs on 4
    # cores (5.52→5.92, 5.20→6.02, 5.30→6.08 s): the Arrow batch beats
    # the JVM HOF there.
    need_kernel = any(
        s.enabled and s.name in _KERNEL_FEATURES
        for s in schema.per_entity + schema.per_update + schema.per_diff
    )
    byte_len = F.octet_length("value").cast("double").alias("__byte_len")
    if need_kernel:
        proj = df.select("*", byte_len)
        dec = F.col("__k")["dec"]
    else:
        nat_dec = df.select("*", native.py_unquote("value").alias("__nat_dec"))
        dec = F.col("__nat_dec")
        proj = nat_dec.select("*", byte_len, native.char_entropy(dec).alias("__entropy"))

    # ---- stage 1 (the ONE row-sized shuffle): window lag columns +
    # change flags + slot ranks. (count_distinct change flags would be
    # algebraically equivalent for non-null sequences, but N distinct
    # aggs compile to an Expand + an extra shuffle of rows on
    # (entity, col, gid) — lag flags keep one row exchange.)
    prev_value = F.lag("value").over(w)
    prev_expiry = F.lag("expiry").over(w)
    window_cols = [
        (F.row_number().over(w) - F.lit(1)).alias("__slot"),
        prev_value.alias("__prev_value"),
        prev_expiry.alias("__prev_expiry"),
        (F.col("expiry") - prev_expiry).cast("double").alias("d__time_difference"),
        F.when(prev_value.isNotNull(), F.levenshtein(prev_value, F.col("value")).cast("double"))
        .alias("d__lev_distance"),
    ]
    for flag in ("http_only", "secure", "same_site", "session"):
        prev = F.lag(flag).over(w)
        window_cols.append(
            F.when(prev.isNotNull() & (F.col(flag) != prev), 1).otherwise(0)
            .alias(f"__chg_{flag}")
        )
    proj = proj.select("*", *window_cols)

    # ---- every Python UDF, in ONE select after the window, so Catalyst
    # plans ONE ArrowEvalPython node for them (each node costs every
    # task a Python-runner setup and its own Arrow round trip) and the
    # stage below the shuffle stays pure JVM:
    # - the gestalt of each consecutive pair, per row like
    #   lev_distance (a NULL side has no ratio);
    # - the fused content kernel over the slot rows' values only: a
    #   non-slot row passes NULL, which _map_distinct evaluates once per
    #   batch, and only the slot builders read ``__k``;
    # - value_stats (zlib length, entropy) once per distinct value: the
    #   two numbers the aggregates read on every row;
    # - the regex ranks over ``name``, constant per entity, so they
    #   reach stage 4 through the aggregate as a min.
    # The node declares no output partitioning, so the groupBy does not
    # reuse the window's: Spark exchanges the partial aggregate once
    # more (measured on Spark 4.1.2: Sort → partial SortAggregate →
    # Exchange → final), one buffer per entity per task.
    ranks: dict[str, Column] = {}
    if "pattern_names" in enabled_pe:
        ranks["__pat_ranks"] = V.regex_ranks_udf(res.name_patterns, mode="match")("name")
    if "name_tokens" in enabled_pe:
        ranks["__tok_ranks"] = V.regex_ranks_udf(res.name_tokens, mode="search")("name")
    py_cols = [col.alias(c) for c, col in ranks.items()]
    if need_gestalt:
        py_cols.append(
            V.gestalt_ratio(F.col("__prev_value"), F.col("value")).alias("d__gestalt_similarity")
        )
    if need_kernel:
        kernel = V.content_kernel_udf(
            res.content_terms, delim_min_seps=delim_ms, csv_min_seps=csv_ms
        )
        slot_value = F.when(F.col("__slot") < schema.num_updates, F.col("value"))
        py_cols += [kernel(slot_value).alias("__k"), V.value_stats("value").alias("__stats")]
    if py_cols:
        proj = proj.select("*", *py_cols)
    if need_kernel:
        proj = proj.select("*", *[F.col("__stats")[f].alias(f"__{f}") for f in ("zlib_len", "entropy")])

    # ---- stage 2: single groupBy(entity): slot pivots + aggregates.
    # Slot pivots are STRUCT-PACKED (opt round 7): one
    # max(when(__slot == u, struct(<all pivot sources>))) per slot
    # instead of one max(when(...)) per (column, slot). __slot is
    # unique per entity (row_number), so each when() matches at most
    # one row and the struct max IS that row's struct — per-field
    # values identical to the per-column form (absent slot → NULL
    # struct → NULL fields; present slot with NULL col → NULL field
    # either way). The win: this aggregate is a SortAggregate (string
    # attrs + array buffers rule out hash aggregation) with no
    # whole-stage codegen, and its per-row cost scales with the
    # NUMBER OF AGG BUFFERS — ~60 pivot buffers (full width: ~150)
    # collapse to num_updates+num_diffs. Synthetic A/B (60 numeric
    # pivots, 100k rows, 32 cores): 1.63 s → 0.56 s, values
    # pandas-identical; the real pipeline is pinned by the DuckDB
    # oracle + golden tests. Stage 4 reads each value straight from
    # its slot struct (``__pus_{u}[field]``, ``__pds_{d}[field]``);
    # the field accesses fold into the assembly projection.
    aggs: list[Column] = []

    # per-update slot structs: __pus_u holds update u's per-update
    # features, built inside the CaseWhen, so only the row with
    # __slot == u evaluates the builders (the kernel-field copies, the
    # date/url/hex/timestamp/uuid regex tests, the one-hots). No row
    # carries them through the exchange, the sort or the window.
    builders = _per_update_builders()
    colmap = {
        "value": F.col("value"), "expiry": F.col("expiry"),
        "http_only": F.col("http_only"), "secure": F.col("secure"),
        "session": F.col("session"), "same_site": F.col("same_site"),
        "k": F.col("__k"), "dec": dec, "entropy": F.col("__entropy"),
    }
    pu_cols: list[Column] = []
    # spec name → slot-struct fields (one array<int> for a rank feature)
    upd_cols: dict[str, list[str]] = {}
    for spec in schema.per_update:
        if not spec.enabled:
            continue
        built = builders[spec.name](colmap)
        if spec.name in RANK_FEATURES:
            built = [built]
        else:
            assert len(built) == spec.vector_size, spec.name
            built = [col.cast("double") for col in built]
        upd_cols[spec.name] = [f"u__{spec.name}__{i}" for i in range(len(built))]
        pu_cols += [col.alias(c) for col, c in zip(built, upd_cols[spec.name])]
    if pu_cols:
        pu_struct = F.struct(*pu_cols)
        for u in range(schema.num_updates):
            aggs.append(
                F.max(F.when(F.col("__slot") == u, pu_struct)).alias(f"__pus_{u}")
            )

    # per-diff slot structs: diff d lives on the row with __slot == d+1
    pd_fields = [f"d__{spec.name}" for spec in schema.per_diff if spec.enabled]
    if pd_fields:
        pd_struct = F.struct(*[F.col(c).alias(c) for c in pd_fields])
        for d in range(schema.num_diffs):
            aggs.append(
                F.max(F.when(F.col("__slot") == d + 1, pd_struct)).alias(f"__pds_{d}")
            )

    # entity attrs (constant per entity)
    for attr in ("name", "domain", "path", "first_party_domain", "label", "cmp_origin", *ranks):
        aggs.append(F.min(attr).alias(attr))

    # per-entity aggregates (SURVEY §2.4)
    def changed(col: str) -> Column:
        return F.when(F.max(F.col(f"__chg_{col}")) == 1, F.lit(1.0))

    def mean_std(col: str, prefix: str) -> list[Column]:
        return [
            F.coalesce(F.avg(col), F.lit(-1.0)).alias(f"{prefix}_mean"),
            F.coalesce(F.stddev_samp(col), F.lit(-1.0)).alias(f"{prefix}_std"),
        ]

    aggs += [
        F.count("*").cast("double").alias("e__update_count"),
        changed("http_only").alias("e__http_only_changed"),
        changed("secure").alias("e__secure_changed"),
        changed("same_site").alias("e__same_site_changed"),
        changed("session").alias("e__session_changed"),
        F.when(
            F.max(
                F.when(F.col("__prev_value").isNotNull() & (F.col("value") != F.col("__prev_value")), 1).otherwise(0)
            ) == 1, F.lit(1.0),
        ).alias("e__content_changed"),
        F.when(
            F.max(
                F.when(F.abs(F.col("expiry") - F.col("__prev_expiry")) >= 86400, 1).otherwise(0)
            ) == 1, F.lit(1.0),
        ).alias("e__expiry_changed"),
        F.when(F.min_by("host_only", F.struct("ts", "update_idx")), F.lit(1.0)).alias("e__host_only"),
        *mean_std("d__lev_distance", "e__levenshtein"),
        *mean_std("__byte_len", "e__contlength"),
    ]
    if need_kernel:
        aggs += mean_std("__zlib_len", "e__complength")
    aggs += mean_std("__entropy", "e__entropy")
    if need_gestalt:
        aggs += mean_std("d__gestalt_similarity", "e__gestalt")

    ent = proj.groupBy("entity_id").agg(*aggs)

    # ---- stage 3: broadcast lookups on the per-entity side
    # snapshot the pre-join frame: the class-weight counts branch runs
    # over THIS (the rank joins are 1:1, so the label multiset is the
    # same), letting Catalyst prune the joins, the Python UDFs and the
    # name/domain aggregates out of that branch entirely
    ent_pre_join = ent
    if "top_names" in enabled_pe:
        tn = rank_df(spark, res.top_names, "name").withColumnRenamed("rank", "__tn_rank")
        ent = ent.join(F.broadcast(tn), "name", "left")
    # shared by the top_domains rank join and the iab_vendor
    # membership probe (same uniform_domain expression)
    ent = ent.withColumn("__udom", native.uniform_domain("domain"))
    if "top_domains" in enabled_pe:
        td = rank_df(spark, res.top_domains, "__udom").withColumnRenamed("rank", "__td_rank")
        ent = ent.join(F.broadcast(td), "__udom", "left")

    # ---- stage 4: named feature columns in declared order
    pe_exprs: dict[str, list[Column] | Column] = {
        "top_names": F.when(F.col("__tn_rank").isNotNull(), F.array(F.col("__tn_rank"))).otherwise(F.array().cast("array<int>")),
        "top_domains": F.when(F.col("__td_rank").isNotNull(), F.array(F.col("__td_rank"))).otherwise(F.array().cast("array<int>")),
        "pattern_names": F.col("__pat_ranks"),
        "name_tokens": F.col("__tok_ranks"),
        "iab_vendor": [F.when(_sql_in_set("__udom", res.iab_vendors), F.lit(1.0))],
        "domain_period": [native.domain_period("domain")],
        "host_only": [F.col("e__host_only")],
        "third_party": [native.is_third_party("domain", "first_party_domain")],
        "non_root_path": [native.non_root_path("path")],
        "update_count": [F.col("e__update_count")],
        "http_only_changed": [F.col("e__http_only_changed")],
        "secure_changed": [F.col("e__secure_changed")],
        "same_site_changed": [F.col("e__same_site_changed")],
        "session_changed": [F.col("e__session_changed")],
        "content_changed": [F.col("e__content_changed")],
        "expiry_changed": [F.col("e__expiry_changed")],
        "gestalt_total": [F.col("e__gestalt_mean"), F.col("e__gestalt_std")],
        "levenshtein_total": [F.col("e__levenshtein_mean"), F.col("e__levenshtein_std")],
        "contlength_total": [F.col("e__contlength_mean"), F.col("e__contlength_std")],
        "complength_total": [F.col("e__complength_mean"), F.col("e__complength_std")],
        "entropy_total": [F.col("e__entropy_mean"), F.col("e__entropy_std")],
    }

    blocks: list[Block] = []
    for spec in schema.per_entity:
        if not spec.enabled:
            continue
        expr = pe_exprs[spec.name]
        if spec.name in RANK_FEATURES:
            blocks.append(Block(spec.vector_size, "ranks", ranks=expr))
        else:
            assert len(expr) == spec.vector_size, spec.name
            blocks.append(Block(spec.vector_size, "fixed", cols=expr))
    for spec in schema.per_update:
        if not spec.enabled:
            continue
        for u in range(schema.num_updates):
            vals = [F.col(f"__pus_{u}")[c] for c in upd_cols[spec.name]]
            if spec.name in RANK_FEATURES:
                blocks.append(Block(spec.vector_size, "ranks",
                                    ranks=F.coalesce(vals[0], F.array().cast("array<int>"))))
            else:
                blocks.append(Block(spec.vector_size, "fixed", cols=vals))
    for spec in schema.per_diff:
        if not spec.enabled:
            continue
        for d in range(schema.num_diffs):
            blocks.append(Block(spec.vector_size, "fixed", cols=[F.col(f"__pds_{d}")[f"d__{spec.name}"]]))

    total = sum(b.width for b in blocks)
    assert total == schema.total_width == len(names), (total, schema.total_width)

    # through the module: tests swap assemble_sparse for a spy
    wide = assemble.assemble_sparse(ent, blocks, ent_pre_join, with_weights=training)
    return wide, names
