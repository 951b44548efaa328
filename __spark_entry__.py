"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from
SURVEY.md §2 through the engine package
(cookieblock_consent_classifier_spark); ``oracle_sql()`` holds the
DuckDB-equivalent ANSI SQL. Column names and float rounding are kept
identical on both sides (the driver hashes values after sorting
columns by name).

Cross-engine determinism conventions used throughout:
- event-time → epoch microseconds: Spark ``unix_micros(cast ts)`` ==
  DuckDB ``epoch_us(ts)`` (session timezone pinned to UTC).
- portable hashing: md5 hex (identical in both engines); hex→int64 via
  Spark ``conv(h,16,10)`` == DuckDB ``CAST('0x'||h AS BIGINT)`` on
  ≤15 hex chars.
- floats that pass through ANY reordering-sensitive arithmetic are
  rounded (4-6 dp) on BOTH sides; raw stored values stay unrounded.
- money sums go through DECIMAL(18,2/4) so they are exact and
  order-insensitive.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cookieblock_consent_classifier_spark.functions import native, text as TX, vectorized as V
from cookieblock_consent_classifier_spark.operators import (
    asof,
    chunking,
    dedup,
    search as search_ops,
    similarity,
    temporal,
)
from cookieblock_consent_classifier_spark.sources.readers import union_latest_wins

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_PLAN_CACHE: dict = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fanout(df: DataFrame, key: str | F.Column, n: int | None = None) -> DataFrame:
    """Scale-adaptive scan parallelism floor (opt guide §2.2/§6).

    Parquet scans parallelize at ROW-GROUP granularity; the driver's
    testdata writes each table as ONE row group per file (verified:
    documents/events/embeddings are 1 row group even at sf1.0), so a
    scan-rooted stage — and for shuffle-free row-wise queries, the
    whole query — runs in a single task no matter the core count.
    When the scan has fewer partitions than the cluster's default
    parallelism, hash-repartition on a high-cardinality key so the
    expensive per-row work above it parallelizes. At real scale the
    scan already has >= parallelism partitions and this is a no-op
    (returns df unchanged — no exchange in the plan).

    Explicit numPartitions pins the shuffle: AQE coalescing (16 MB
    advisory) would otherwise merge these tiny-but-CPU-heavy
    partitions right back to one. Hash (not round-robin) partitioning
    avoids the sort-before-repartition pass and is deterministic
    under task retries; for queries that later shuffle on the same
    key, Catalyst reuses this exchange outright.
    """
    sc = df.sparkSession.sparkContext
    target = n or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key) if isinstance(key, str) else key)


def _us(col) -> F.Column:  # epoch microseconds, engine-portable
    return F.unix_micros(F.col(col).cast("timestamp")) if isinstance(col, str) else F.unix_micros(col.cast("timestamp"))


# =====================================================================
# Temporal core (SURVEY §2.4 #8, §2.5, §2.6 as-of, §2.9 sessionize)
# =====================================================================

@_q(
    "update_count",
    """
    WITH r AS (
      SELECT user_id, props, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id,
           count(*)::BIGINT AS n_updates,
           min(epoch_us(ts)) AS first_us,
           max(epoch_us(ts)) AS last_us,
           max(CASE WHEN rn_a = 1 THEN props END) AS first_props,
           max(CASE WHEN rn_d = 1 THEN props END) AS last_props,
           CASE WHEN count(DISTINCT event_type) > 1 THEN 1.0 ELSE 0.0 END AS type_changed,
           CASE WHEN count(DISTINCT props) > 1 THEN 1.0 ELSE 0.0 END AS props_changed
    FROM r GROUP BY user_id
    """,
)
def q_update_count(spark, sf_dir):
    """feature_update_count (processor.py:765-770) generalized with
    first/last event time PLUS first/last update payload per entity
    (feature_host_only_first_update pattern, processor.py:804-810) —
    min_by/max_by in the same single groupBy, no window needed. The
    check_flag_changed family (utils.py:59-78; processor.py:772-802:
    any-consecutive-differs ⇔ >1 distinct in sequence) rides the SAME
    groupBy since round 5 (folded from the former flag_changed oracle
    query to free a correctness-snapshot slot for doc_chunks; value
    coverage unchanged — same columns, same operator exercised)."""
    ev = _fanout(_t(spark, sf_dir, "events"), "user_id")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_updates"),
        F.min(_us("ts")).alias("first_us"),
        F.max(_us("ts")).alias("last_us"),
        F.min_by("props", F.struct("ts", "event_id")).alias("first_props"),
        F.max_by("props", F.struct("ts", "event_id")).alias("last_props"),
        F.coalesce(temporal.flag_changed("event_type", "user_id", ["ts"]), F.lit(0.0)).alias("type_changed"),
        F.coalesce(temporal.flag_changed("props", "user_id", ["ts"]), F.lit(0.0)).alias("props_changed"),
    )


@_q(
    "time_diff_stats",
    """
    WITH d AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS gap_s
      FROM events
    ), g AS (
      SELECT user_id,
             round(coalesce(avg(gap_s), -1.0), 4) AS gap_mean,
             round(coalesce(stddev_samp(gap_s), -1.0), 4) AS gap_stddev,
             count(gap_s)::BIGINT AS n_diffs
      FROM d GROUP BY user_id
    ), r AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS slot
      FROM events
    ), s AS (
      SELECT user_id,
             max(CASE WHEN slot = 0 THEN event_type END) AS slot0_event_type,
             max(CASE WHEN slot = 0 THEN value END) AS slot0_value,
             max(CASE WHEN slot = 1 THEN event_type END) AS slot1_event_type,
             max(CASE WHEN slot = 1 THEN value END) AS slot1_value,
             max(CASE WHEN slot = 2 THEN event_type END) AS slot2_event_type,
             max(CASE WHEN slot = 2 THEN value END) AS slot2_value
      FROM r WHERE slot < 3 GROUP BY user_id
    )
    SELECT g.user_id, g.gap_mean, g.gap_stddev, g.n_diffs,
           s.slot0_event_type, s.slot0_value,
           s.slot1_event_type, s.slot1_value,
           s.slot2_event_type, s.slot2_value
    FROM g JOIN s USING (user_id)
    """,
)
def q_time_diff_stats(spark, sf_dir):
    """feature_time_diff (processor.py:1476-1483) + mean/stddev agg
    with −1 sentinels (processor.py:835,841), CARRYING the folded
    slot-pivot family since round 6 (fixed num_updates slot blocks,
    processor.py:425-428 — the former standalone slot-pivot oracle
    row; columns preserved in both engines, slot fold freed for
    `approx_stats`).

    Opt round 7: the pivot is FOLDED into the stats groupBy via
    temporal.slot_pivot_aggs — the former stats-join-slot-pivot shape
    computed both sides from their own scan + exchange + sort +
    window (ReuseExchange can't merge them: different window exprs),
    i.e. the whole lineage twice plus a join. One window now carries
    lag AND row_number; the agg input rows, their per-partition order
    and the float summation order are unchanged, so gap_mean/stddev
    are bit-identical (oracle-verified). Plan: 2 scans + 2 exchanges
    + 2 windows + BroadcastHashJoin -> 1 scan + 1 exchange + 1
    window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (_us("ts") - F.lag(_us("ts")).over(w)) / F.lit(1e6)
    proj = ev.withColumn("gap_s", gap).withColumn(
        "__slot", F.row_number().over(w) - F.lit(1)
    )
    return proj.groupBy("user_id").agg(
        F.round(F.coalesce(F.avg("gap_s"), F.lit(-1.0)), 4).alias("gap_mean"),
        F.round(F.coalesce(F.stddev_samp("gap_s"), F.lit(-1.0)), 4).alias("gap_stddev"),
        F.count("gap_s").alias("n_diffs"),
        *temporal.slot_pivot_aggs(["event_type", "value"], 3),
    )


@_q(
    "sessionize",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6 > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) - 1 AS session_id
      FROM g
    )
    SELECT user_id,
           (max(session_id) + 1)::BIGINT AS n_sessions,
           max(cnt)::BIGINT AS max_session_events
    FROM (SELECT user_id, session_id, count(*) AS cnt FROM s GROUP BY user_id, session_id)
    GROUP BY user_id
    """,
)
def q_sessionize(spark, sf_dir):
    """gap-based sessionization (SURVEY §2.9): 30-min gap."""
    ev = _t(spark, sf_dir, "events")
    s = temporal.sessionize(ev, "user_id", "ts", 1800, order_tiebreak=["event_id"])
    per_session = s.groupBy("user_id", "session_id").count()
    return per_session.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"),
        F.max("count").alias("max_session_events"),
    )


@_q(
    "asof_join_orders",
    """
    SELECT e.event_id,
           arg_max(CASE WHEN o.o_orderdate <= e.ts THEN o.o_orderkey END,
                   CASE WHEN o.o_orderdate <= e.ts
                        THEN epoch(o.o_orderdate)::BIGINT * 10000000 + o.o_orderkey END) AS orderkey_asof,
           arg_max(CASE WHEN o.o_orderdate <= e.ts THEN o.o_totalprice END,
                   CASE WHEN o.o_orderdate <= e.ts
                        THEN epoch(o.o_orderdate)::BIGINT * 10000000 + o.o_orderkey END) AS totalprice_asof,
           arg_max(CASE WHEN o.o_orderdate < e.ts THEN o.o_orderkey END,
                   CASE WHEN o.o_orderdate < e.ts
                        THEN epoch(o.o_orderdate)::BIGINT * 10000000 + o.o_orderkey END) AS orderkey_strict,
           arg_max(CASE WHEN o.o_orderdate <= e.ts
                         AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
                        THEN o.o_orderkey END,
                   CASE WHEN o.o_orderdate <= e.ts
                         AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
                        THEN epoch(o.o_orderdate)::BIGINT * 10000000 + o.o_orderkey END) AS orderkey_tol,
           arg_max(CASE WHEN o.o_orderdate <= e.ts
                         AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
                        THEN o.o_totalprice END,
                   CASE WHEN o.o_orderdate <= e.ts
                         AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
                        THEN epoch(o.o_orderdate)::BIGINT * 10000000 + o.o_orderkey END) AS totalprice_tol
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id
    """,
)
def q_asof_join_orders(spark, sf_dir):
    """Point-in-time as-of join (north rule; SURVEY §2.6): latest
    order state at each event, zero leakage, deterministic tie-break
    by orderkey — inclusive, strict (exclusive), AND 30-day-staleness-
    tolerance (pandas merge_asof tolerance analogue) semantics all
    from the same SINGLE union+window shuffle (strict: one exchange,
    two sort orders; tolerance_seconds: a row-local age predicate over
    the filled state — zero extra sorts). Folded
    from the former separate asof_join_tolerance oracle query (round
    5) to free a correctness-snapshot slot; value coverage unchanged
    — the tolerance columns are the old query's columns."""
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    out = asof.asof_join(
        ev, orders, on="user_id", fact_ts="ts", dim_ts="o_orderdate",
        payload=["o_orderkey", "o_totalprice"], dim_order=["o_orderkey"],
        strict=True, tolerance_seconds=30 * 86400,
    )
    return out.select(
        "event_id",
        F.col("o_orderkey_asof").alias("orderkey_asof"),
        F.col("o_totalprice_asof").alias("totalprice_asof"),
        F.col("o_orderkey_strict").alias("orderkey_strict"),
        F.col("o_orderkey_tol").alias("orderkey_tol"),
        F.col("o_totalprice_tol").alias("totalprice_tol"),
    )


@_q(
    "rolling_time_sum",
    """
    SELECT event_id,
           round(sum(value) OVER w, 6) AS roll_sum,
           count(value) OVER w AS roll_n,
           round(avg(value) OVER w, 6) AS roll_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_time_sum(spark, sf_dir):
    """Trailing 1-hour time-RANGE aggregates per entity
    (temporal.rolling_time_agg): the standard rolling-feature op —
    one entity shuffle, O(n) sliding frame."""
    ev = _t(spark, sf_dir, "events")
    out = temporal.rolling_time_agg(ev, "user_id", "ts", "value", 3600.0)
    return out.select(
        "event_id",
        F.round("rolling_sum", 6).alias("roll_sum"),
        F.col("rolling_count").alias("roll_n"),
        F.round("rolling_avg", 6).alias("roll_avg"),
    )


@_q(
    "interpolate_linear",
    """
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN substr(md5(event_id::VARCHAR), 1, 1) IN ('0','1','2','3','4','5')
                  THEN value END AS v,
             epoch_us(ts) AS tm
      FROM events
    ), f AS (
      SELECT event_id, v, tm,
             last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tm
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             last_value(CASE WHEN v IS NOT NULL THEN tm END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tm
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tm
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
             first_value(CASE WHEN v IS NOT NULL THEN tm END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY tm
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
      FROM g
    )
    SELECT event_id,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN v0 IS NOT NULL AND v1 IS NOT NULL
                      THEN v0 + (v1 - v0) * (tm - t0)::DOUBLE / (t1 - t0)::DOUBLE
                 END, 6) AS v_interp
    FROM f
    """,
)
def q_interpolate_linear(spark, sf_dir):
    """Linear time-interpolation of missing values
    (temporal.interpolate_linear) — a deterministic md5-keyed 6/16 of
    values are masked NULL, then filled between brackets; leading/
    trailing gaps stay NULL."""
    ev = _t(spark, sf_dir, "events")
    masked = ev.withColumn(
        "v",
        F.when(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
            .isin(*"012345"),
            F.col("value"),
        ),
    )
    out = temporal.interpolate_linear(masked, "user_id", "ts", "v")
    return out.select("event_id", F.round("v_interp", 6).alias("v_interp"))


@_q(
    "backfill",
    """
    SELECT event_id,
           last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS value_filled
    FROM events
    """,
)
def q_backfill(spark, sf_dir):
    """backfill = last(col, ignorenulls) over unbounded-preceding
    (north rule; SURVEY §2.6 generalization)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    filled = temporal.backfill(ev, "user_id", ["ts", "event_id"], ["v"])
    return filled.select("event_id", F.col("v_filled").alias("value_filled"))


@_q(
    "phash_delta",
    """
    WITH p AS (
      SELECT user_id, ts, event_id,
             CAST('0x' || substr(md5('ph:' || event_id::VARCHAR), 1, 15) AS BIGINT) AS phash
      FROM events
    )
    SELECT event_id,
           bit_count(xor(phash, lag(phash) OVER (PARTITION BY user_id ORDER BY ts, event_id)))::INT AS phash_delta,
           TRUE AS synth_phash_ok
    FROM p
    """,
)
def q_phash_delta(spark, sf_dir):
    """per-entity consecutive phash hamming delta (input_hint image
    feature; functions/image.py hamming64) over a deterministic
    md5-derived phash so DuckDB can oracle it. PLUS the stored-phash
    consistency invariant through the gate: `synth_phash_ok` is TRUE
    in the oracle, and on the Spark side it is COMPUTED — a
    deterministic synthetic image table is encoded, shipped as binary,
    decoded and re-phashed by the Arrow kernel
    (image.phash_from_bytes), and bool_and'ed against the stored
    phash column (the input_hint invariant phash == phash(decode(
    bytes))). Any codec/plumbing divergence flips the value and the
    row hash goes red."""
    from cookieblock_consent_classifier_spark.functions import image as I
    from cookieblock_consent_classifier_spark.functions.image import hamming64
    from cookieblock_consent_classifier_spark.sources.synth import synth_image_updates

    # fan out BEFORE deriving phash: the md5 projection otherwise sits
    # below the window's exchange, i.e. in the single scan task; the
    # fanout exchange hash-partitions on user_id so the window adds no
    # second exchange and the md5 runs post-shuffle on every core
    ev = _fanout(_t(spark, sf_dir, "events"), "user_id").withColumn(
        "phash",
        TX.hex_to_long(F.substring(F.md5(F.concat(F.lit("ph:"), F.col("event_id").cast("string"))), 1, 15)),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("phash").over(w)
    ok = (
        synth_image_updates(spark, num_entities=12, updates_per_entity=3, hot_entities=0)
        .select((I.phash_from_bytes("bytes") == F.col("phash")).alias("ok"))
        .agg(F.bool_and("ok").alias("synth_phash_ok"))
    )
    return ev.select(
        "event_id",
        F.when(prev.isNotNull(), hamming64(F.col("phash"), prev)).cast("int").alias("phash_delta"),
    ).crossJoin(F.broadcast(ok))


# =====================================================================
# Row-wise native features (SURVEY §2.3)
# =====================================================================

@_q(
    "content_flags",
    rf"""
    SELECT doc_id,
           CASE WHEN regexp_matches(lower(text), '\b(true|false|yes|no|0|1|on|off)\b') THEN 1.0 ELSE -1.0 END AS f_bool,
           CASE WHEN regexp_matches(text, '{native.TIMESTAMP_PAT}') THEN 1.0 ELSE -1.0 END AS f_ts,
           CASE WHEN regexp_matches(text, '{native.REF_DATE_YMD}')
                     OR regexp_matches(text, '{native.REF_DATE_DMY}')
                     OR regexp_matches(text, '{native.REF_DATE_MDY}')
                     OR (regexp_matches(text, '{native.REF_DAYS3}')
                         AND regexp_matches(text, '{native.REF_MONTHS3}'))
                THEN 1.0 ELSE -1.0 END AS f_date,
           CASE WHEN regexp_matches(text, '{native.REF_HTTP}') OR regexp_matches(text, '{native.REF_WWW}')
                THEN 1.0 ELSE -1.0 END AS f_url,
           CASE WHEN regexp_matches(text, '^[0-9a-fA-F]+$') AND NOT regexp_matches(text, '^[0-9]+$')
                THEN 1.0 ELSE -1.0 END AS f_hex,
           CASE WHEN translate(text, {" || ".join(f"chr({c})" for c in native.PY_WS_CODEPOINTS)}, '') = ''
                THEN 1.0 ELSE -1.0 END AS f_empty,
           strlen(text)::BIGINT AS byte_len,
           len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
           CASE WHEN ver = '1' THEN 1.0 ELSE -1.0 END AS uuid_v1,
           CASE WHEN ver = '2' THEN 1.0 ELSE -1.0 END AS uuid_v2,
           CASE WHEN ver = '3' THEN 1.0 ELSE -1.0 END AS uuid_v3,
           CASE WHEN ver = '4' THEN 1.0 ELSE -1.0 END AS uuid_v4,
           CASE WHEN ver = '5' THEN 1.0 ELSE -1.0 END AS uuid_v5,
           CASE WHEN ver <> '' AND ver NOT IN ('1','2','3','4','5') THEN 1.0 ELSE -1.0 END AS uuid_other
    FROM (
      SELECT *,
             regexp_extract(
               substr(md5(text), 1, 8) || '-' || substr(md5(text), 9, 4) || '-' ||
               substr(md5(text), 13, 4) || '-' || substr(md5(text), 17, 4) || '-' ||
               substr(md5(text), 21, 12),
               '[0-9a-fA-F]{{8}}-[0-9a-fA-F]{{4}}-([0-9a-fA-F])[0-9a-fA-F]{{3}}-[0-9a-fA-F]{{4}}-[0-9a-fA-F]{{12}}',
               1) AS ver
      FROM documents
    )
    """,
)
def q_content_flags(spark, sf_dir):
    """regex detector features #24-28 + content length + token count
    (processor.py:1386-1470, 1052-1059) + feature_canonical_uuid
    version one-hot (processor.py:1430-1458) over md5-derived
    uuid-shaped strings (deterministic both engines) — all row-wise
    native expressions over one documents scan. The date, url, empty,
    hex, timestamp and uuid columns are the compiler's own builders
    (applied to the raw text, not the URL-decoded value); the DuckDB
    twin spells the same reference patterns from ``native.REF_*`` and
    ``native.PY_WS_CODEPOINTS``."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    h = F.md5("text")
    fake_uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12),
    )
    uuid_cols = native.uuid_version_onehot(fake_uuid)
    uuid_names = ["uuid_v1", "uuid_v2", "uuid_v3", "uuid_v4", "uuid_v5", "uuid_other"]
    return docs.select(
        "doc_id",
        native.boolean_content("text").alias("f_bool"),
        native.timestamp_content("text").alias("f_ts"),
        native.date_content("text").alias("f_date"),
        native.url_content("text").alias("f_url"),
        native.hex_content("text").alias("f_hex"),
        native.empty_content("text").alias("f_empty"),
        F.octet_length("text").cast("long").alias("byte_len"),
        TX.token_count("text").alias("n_tokens"),
        *[c.alias(n) for c, n in zip(uuid_cols, uuid_names)],
    )


@_q(
    "expiry_buckets",
    """
    SELECT event_id,
           CASE WHEN value * 10000 < 3600.0 THEN 1.0 ELSE -1.0 END AS b0,
           CASE WHEN value * 10000 >= 3600.0 AND value * 10000 <= 43200.0 THEN 1.0 ELSE -1.0 END AS b1,
           CASE WHEN value * 10000 >= 43200.0 AND value * 10000 <= 86400.0 THEN 1.0 ELSE -1.0 END AS b2,
           CASE WHEN value * 10000 >= 86400.0 AND value * 10000 <= 604800.0 THEN 1.0 ELSE -1.0 END AS b3,
           CASE WHEN value * 10000 >= 604800.0 AND value * 10000 <= 2592000.0 THEN 1.0 ELSE -1.0 END AS b4,
           CASE WHEN value * 10000 >= 2592000.0 AND value * 10000 <= 15552000.0 THEN 1.0 ELSE -1.0 END AS b5,
           CASE WHEN value * 10000 >= 15552000.0 AND value * 10000 <= 46656000.0 THEN 1.0 ELSE -1.0 END AS b6,
           CASE WHEN value * 10000 >= 46656000.0 THEN 1.0 ELSE -1.0 END AS b7,
           CASE WHEN event_type = 'click' THEN 1.0 ELSE -1.0 END AS oh_click,
           CASE WHEN event_type = 'view' THEN 1.0 ELSE -1.0 END AS oh_view,
           CASE WHEN event_type = 'purchase' THEN 1.0 ELSE -1.0 END AS oh_purchase
    FROM events
    """,
)
def q_expiry_buckets(spark, sf_dir):
    """feature_expiry_extra buckets (processor.py:1029-1050): dense ±1,
    bucket 0 strict upper, interior boundaries overlapping — over a
    pseudo-expiry derived from events.value; PLUS the
    feature_same_site-style ±1 one-hot (processor.py:1007-1020) over
    event_type, in the same single events scan."""
    ev = _t(spark, sf_dir, "events").withColumn("exp_s", F.col("value") * 10000)
    cols = native.expiry_buckets("exp_s")
    oh = native.one_hot("event_type", ["click", "view", "purchase"])
    oh_names = ["oh_click", "oh_view", "oh_purchase"]
    return ev.select(
        "event_id",
        *[c.alias(f"b{i}") for i, c in enumerate(cols)],
        *[c.alias(n) for c, n in zip(oh, oh_names)],
    )


@_q(
    "hash_sample",
    """
    SELECT event_id FROM events
    WHERE substr(md5(event_id::VARCHAR), 1, 1) IN ('0','1','2','3')
    """,
)
def q_hash_sample(spark, sf_dir):
    """deterministic hash sampling replacing the reference's
    random.random() CMP skip (processor.py:481-483; SURVEY §2.2) —
    resumable runs must sample identically."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).isin("0", "1", "2", "3")
    ).select("event_id")


# =====================================================================
# Aggregation features (SURVEY §2.4)
# =====================================================================

@_q(
    "levenshtein_stats",
    """
    WITH d AS (
      SELECT user_id,
             levenshtein(props, lag(props) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS lev
      FROM events
    )
    SELECT user_id,
           round(coalesce(avg(lev), -1.0), 4) AS lev_mean,
           round(coalesce(stddev_samp(lev), -1.0), 4) AS lev_stddev
    FROM d GROUP BY user_id
    """,
)
def q_levenshtein_stats(spark, sf_dir):
    """feature_levenshtein_mean_and_stddev (processor.py:844-873):
    native F.levenshtein over lag pairs → avg/stddev_samp with −1
    sentinels."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lev = F.levenshtein(F.col("props"), F.lag("props").over(w))
    return (
        ev.withColumn("lev", lev)
        .groupBy("user_id")
        .agg(
            F.round(F.coalesce(F.avg("lev"), F.lit(-1.0)), 4).alias("lev_mean"),
            F.round(F.coalesce(F.stddev_samp("lev"), F.lit(-1.0)), 4).alias("lev_stddev"),
        )
    )


@_q(
    "content_length_stats",
    """
    SELECT source,
           round(avg(strlen(text)), 4) AS len_mean,
           round(coalesce(stddev_samp(strlen(text)), -1.0), 4) AS len_stddev,
           count(*)::BIGINT AS n_docs
    FROM documents GROUP BY source
    """,
)
def q_content_length_stats(spark, sf_dir):
    """feature_content_length_mean_and_stddev (processor.py:876-896)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.round(F.avg(F.octet_length("text")), 4).alias("len_mean"),
        F.round(F.coalesce(F.stddev_samp(F.octet_length("text")), F.lit(-1.0)), 4).alias("len_stddev"),
        F.count("*").alias("n_docs"),
    )


@_q(
    "label_weights",
    """
    SELECT label,
           count(*)::BIGINT AS n,
           round((SELECT count(*) FROM embeddings)::DOUBLE / count(*), 6) AS weight
    FROM embeddings GROUP BY label
    """,
)
def q_label_weights(spark, sf_dir):
    """inverse-class-frequency weights n_total/n_class
    (retrieve_label_weights, processor.py:263-273) through the
    extraction job's own plans.assemble.class_weights (one scan, the
    total folded into the tiny counts aggregate)."""
    from cookieblock_consent_classifier_spark.plans.assemble import class_weights

    w = class_weights(_t(spark, sf_dir, "embeddings"))
    return w.select("label", "n", F.round("weight", 6).alias("weight"))


# =====================================================================
# Top-k / joins / set ops (SURVEY §2.6, §2.7)
# =====================================================================

@_q(
    "top_tokens",
    r"""
    WITH t AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
      FROM documents WHERE trim(text) <> ''
    ), c AS (
      SELECT token, count(*)::BIGINT AS cnt FROM t GROUP BY token
    )
    SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
    FROM c ORDER BY rank LIMIT 20
    """,
)
def q_top_tokens(spark, sf_dir):
    """top-k rank resource construction (SURVEY §2.7;
    extract_names_and_domains.py:18-36): groupBy-count-orderBy-limit
    with deterministic rank."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
    )
    counted = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return counted.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 20)


@_q(
    "semi_join_customers",
    """
    SELECT c.c_nationkey AS nationkey, count(*)::BIGINT AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
)
def q_semi_join_customers(spark, sf_dir):
    """left-semi join indicator (feature_iab_vendor pattern,
    processor.py:735-745): customers with ≥1 order per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )


@_q(
    "topk_rank_lookup",
    """
    WITH ranks AS (
      SELECT p_type, row_number() OVER (ORDER BY count(*) DESC, p_type) AS rank
      FROM part GROUP BY p_type
      ORDER BY rank LIMIT 10
    )
    SELECT r.rank AS type_rank, count(*)::BIGINT AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN ranks r ON r.p_type = p.p_type
    GROUP BY r.rank
    """,
)
def q_topk_rank_lookup(spark, sf_dir):
    """top-k resource rank lookup as broadcast hash join
    (feature_top_names pattern, processor.py:688-698): top-10 part
    types by frequency, rank attached to lineitems."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    w = Window.orderBy(F.desc("cnt"), F.asc("p_type"))
    ranks = (
        part.groupBy("p_type").agg(F.count("*").alias("cnt"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("p_type", "rank")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_type")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(ranks), "p_type")
        .groupBy(F.col("rank").alias("type_rank"))
        .agg(F.count("*").alias("n_lineitems"))
    )


@_q(
    "union_latest_wins",
    """
    SELECT doc_id,
           CASE WHEN doc_id < 100 THEN 'OVERRIDE' ELSE text END AS text
    FROM documents
    """,
)
def q_union_latest_wins(spark, sf_dir):
    """multi-input union with last-writer-wins key dedupe
    (prepare_training_data.py:79 dict-merge semantics)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    override = docs.filter(F.col("doc_id") < 100).withColumn("text", F.lit("OVERRIDE"))
    return union_latest_wins([docs, override], ["doc_id"])


@_q(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)::DOUBLE AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark, sf_dir):
    """aggregation anchor (classifier-side dataflow §2.8 analogue):
    money sums via DECIMAL for order-insensitive exactness."""
    li = _t(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.sum(dec).cast("double").alias("sum_base_price"),
            F.sum(dec * disc).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "cv_folds",
    """
    WITH f AS (
      SELECT label,
             ntile(5) OVER (PARTITION BY label ORDER BY md5(vec_id::VARCHAR), vec_id) AS fold
      FROM embeddings
    )
    SELECT label, fold, count(*)::BIGINT AS n FROM f GROUP BY label, fold
    """,
)
def q_cv_folds(spark, sf_dir):
    """deterministic 5-fold stratified CV split (train_xgb.py:334-432
    analogue; SURVEY §2.8) — hash-ordered ntile instead of rand()."""
    emb = _t(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return (
        emb.withColumn("fold", F.ntile(5).over(w))
        .groupBy("label", "fold")
        .agg(F.count("*").alias("n"))
    )


# =====================================================================
# Classifier-side dataflow (SURVEY §2.8) + window/sort ops (§2.7)
# =====================================================================

@_q(
    "confusion_matrix",
    """
    WITH p AS (
      SELECT label, CAST('0x' || substr(md5(vec_id::VARCHAR), 1, 2) AS INTEGER) % 10 AS pred
      FROM embeddings
    )
    SELECT label, pred, count(*)::BIGINT AS n FROM p GROUP BY label, pred
    """,
)
def q_confusion_matrix(spark, sf_dir):
    """confusion-matrix counts (classifiers/utils.py:157-241) over a
    deterministic md5-derived pseudo-prediction."""
    emb = _t(spark, sf_dir, "embeddings")
    pred = F.pmod(
        TX.hex_to_long(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2)), F.lit(10)
    ).cast("int")
    return emb.select("label", pred.alias("pred")).groupBy("label", "pred").agg(
        F.count("*").alias("n")
    )


@_q(
    "precision_recall",
    """
    WITH p AS (
      SELECT label, CAST('0x' || substr(md5(vec_id::VARCHAR), 1, 2) AS INTEGER) % 10 AS pred
      FROM embeddings
    ), tp AS (
      SELECT label AS cls, sum(CASE WHEN pred = label THEN 1 ELSE 0 END)::BIGINT AS tp,
             count(*)::BIGINT AS support
      FROM p GROUP BY label
    ), pp AS (
      SELECT pred AS cls, count(*)::BIGINT AS pred_n FROM p GROUP BY pred
    ), pc AS (
      SELECT tp.cls AS label,
             tp.support,
             tp.tp::DOUBLE / tp.support AS recall,
             CASE WHEN pp.pred_n > 0 THEN tp.tp::DOUBLE / pp.pred_n ELSE 0.0 END AS precision
      FROM tp LEFT JOIN pp ON pp.cls = tp.cls
    ), f AS (
      SELECT label, support, recall, precision,
             CASE WHEN precision + recall > 0
                  THEN 2 * precision * recall / (precision + recall)
                  ELSE 0.0 END AS f1
      FROM pc
    )
    SELECT label, support,
           round(recall, 6) AS recall,
           round(precision, 6) AS precision,
           round(f1, 6) AS f1,
           round(avg(f1) OVER (), 6) AS macro_f1,
           round(sum(f1 * support) OVER () / sum(support) OVER (), 6) AS weighted_f1
    FROM f
    """,
)
def q_precision_recall(spark, sf_dir):
    """per-class precision/recall/F1 + support, and the macro- and
    support-weighted-F1 summaries (classifiers/utils.py:157-241's
    micro/macro/weighted/per-class report; micro-F1 == accuracy for
    single-label multi-class, covered by `confusion_matrix`)."""
    emb = _t(spark, sf_dir, "embeddings")
    pred = F.pmod(
        TX.hex_to_long(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2)), F.lit(10)
    ).cast("int")
    p = emb.select("label", pred.alias("pred"))
    tp = p.groupBy(F.col("label").alias("cls")).agg(
        F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0)).alias("tp"),
        F.count("*").alias("support"),
    )
    pp = p.groupBy(F.col("pred").alias("cls")).agg(F.count("*").alias("pred_n"))
    pc = tp.join(pp, "cls", "left").select(
        F.col("cls").alias("label"),
        F.col("support"),
        (F.col("tp") / F.col("support")).alias("recall"),
        F.when(F.col("pred_n") > 0, F.col("tp") / F.col("pred_n"))
        .otherwise(F.lit(0.0)).alias("precision"),
    )
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        F.lit(2) * F.col("precision") * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    f = pc.withColumn("f1", f1)
    w = Window.partitionBy()
    return f.select(
        "label",
        "support",
        F.round("recall", 6).alias("recall"),
        F.round("precision", 6).alias("precision"),
        F.round("f1", 6).alias("f1"),
        F.round(F.avg("f1").over(w), 6).alias("macro_f1"),
        F.round(
            F.sum(F.col("f1") * F.col("support")).over(w) / F.sum("support").over(w), 6
        ).alias("weighted_f1"),
    )


def _xgb_oracle_sql() -> str:
    """DuckDB twin of the fixture-dump XGB scorer: the SAME tree dump
    (xgb.fixture_dump) rendered as CASE chains by xgb.forest_margin_sql
    — margins are bit-exact vs the Spark expression (left-assoc double
    sums over identical literals, pinned in tests/test_xgb.py); the
    softmax probability is rounded 6dp on both sides (exp may differ
    by 1 ulp across engines)."""
    from cookieblock_consent_classifier_spark import xgb  # noqa: PLC0415

    forests = xgb.class_forests_full(xgb.fixture_dump())
    m = xgb.forest_margin_sql(forests, lambda i: f"p{i}")
    return f"""
    WITH s AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS p0, CAST(embedding[2] AS DOUBLE) AS p1,
             CAST(embedding[3] AS DOUBLE) AS p2, CAST(embedding[4] AS DOUBLE) AS p3
      FROM embeddings
    ), d AS (
      SELECT vec_id,
             p0*0.0 + p1*1.0 + p2*2.0 + p3*3.0 AS d0,
             p0*1.0 + p1*0.0 + p2*1.0 + p3*2.0 AS d1,
             p0*2.0 + p1*1.0 + p2*0.0 + p3*1.0 AS d2,
             p0*3.0 + p1*2.0 + p2*1.0 + p3*0.0 AS d3,
             {m[0]} AS m0, {m[1]} AS m1, {m[2]} AS m2, {m[3]} AS m3
      FROM s
    )
    SELECT vec_id,
           CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                WHEN d1 <= d2 AND d1 <= d3 THEN 1
                WHEN d2 <= d3 THEN 2 ELSE 3 END AS decision,
           CASE WHEN m0 >= m1 AND m0 >= m2 AND m0 >= m3 THEN 0
                WHEN m1 >= m2 AND m1 >= m3 THEN 1
                WHEN m2 >= m3 THEN 2 ELSE 3 END AS xgb_pred,
           m0 AS xgb_m0,
           round(exp(m0) / (exp(m0) + exp(m1) + exp(m2) + exp(m3)), 6) AS xgb_p0
    FROM d
    """


@_q("bayes_decision", _xgb_oracle_sql())
def q_bayes_decision(spark, sf_dir):
    """Bayesian decision argmin(probs @ loss_matrix)
    (classifiers/utils.py:85-125; predict_class.py:35-53) with a 4x4
    distance loss; ties break to the lowest class index. PLUS the
    dump-based XGBoost scorer (xgb.py; xgbpredictor_dump.py:30-135
    semantics) over the fixture tree dump, scored through the REAL
    sparse-row path (map_from_arrays + try_element_at lookups):
    per-class margin (exact double), first-max argmax prediction, and
    6dp-rounded softmax probability — all value-matched against the
    DuckDB CASE-tree twin generated from the same dump."""
    from cookieblock_consent_classifier_spark import predict as P, xgb

    emb = _t(spark, sf_dir, "embeddings")
    p = [F.element_at(F.col("embedding"), i + 1).cast("double") for i in range(4)]
    sparse = emb.select(
        "vec_id",
        P.bayesian_decision(F.array(*p)).alias("decision"),  # DEFAULT_LOSS
        F.array(*[F.lit(i) for i in range(4)]).cast("array<int>").alias("indices"),
        F.array(*p).alias("values"),
    )
    forests = xgb.class_forests_full(xgb.fixture_dump())
    # two-phase: extract the forest's features once (unconditional
    # projection → CSE works), trees reference plain attributes
    lookup = xgb.sparse_feat()
    feats = xgb.forest_features(forests)
    aug = sparse.select("*", *[lookup(i).alias(f"__xf_{i}") for i in feats])
    margins = xgb.forest_margins(forests, lambda i: F.col(f"__xf_{i}"))
    probs = xgb.softmax_cols(margins)
    return aug.select(
        "vec_id",
        "decision",
        search_ops.argmax_class(margins).alias("xgb_pred"),
        margins[0].alias("xgb_m0"),
        F.round(F.element_at(probs, 1), 6).alias("xgb_p0"),
    )


@_q(
    "predict_histogram",
    """
    WITH s AS (
      SELECT vec_id, md5(vec_id::VARCHAR) AS name,
             CAST(embedding[1] AS DOUBLE) AS p0, CAST(embedding[2] AS DOUBLE) AS p1,
             CAST(embedding[3] AS DOUBLE) AS p2, CAST(embedding[4] AS DOUBLE) AS p3
      FROM embeddings
    ), d AS (
      SELECT vec_id, name,
             p0*0.0 + p1*1.0 + p2*2.0 + p3*3.0 AS d0,
             p0*1.0 + p1*0.0 + p2*1.0 + p3*2.0 AS d1,
             p0*2.0 + p1*1.0 + p2*0.0 + p3*1.0 AS d2,
             p0*3.0 + p1*2.0 + p2*1.0 + p3*0.0 AS d3
      FROM s
    ), p AS (
      SELECT name,
             CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                  WHEN d1 <= d2 AND d1 <= d3 THEN 1
                  WHEN d2 <= d3 THEN 2 ELSE 3 END AS predicted_label
      FROM d
    )
    SELECT predicted_label, count(*)::BIGINT AS n
    FROM p WHERE name LIKE 'a%' GROUP BY predicted_label
    """,
)
def q_predict_histogram(spark, sf_dir):
    """consent-cookie prediction histogram (predict_class.py:152-161):
    join predictions to entity names, filter by a CMP name prefix,
    histogram the predicted labels — through the REAL
    predict.consent_histogram operator. The prediction itself is the
    oracle-portable Bayesian decision over the embedding's first four
    components (same as `bayes_decision`); names are md5-derived so
    the prefix filter is deterministic in both engines."""
    from cookieblock_consent_classifier_spark import predict as P

    emb = _t(spark, sf_dir, "embeddings")
    probs = F.array(*[F.element_at(F.col("embedding"), i + 1).cast("double") for i in range(4)])
    pred = emb.select(
        F.col("vec_id").alias("entity_id"),
        P.bayesian_decision(probs).alias("predicted_label"),
    )
    entities = emb.select(
        F.col("vec_id").alias("entity_id"),
        F.md5(F.col("vec_id").cast("string")).alias("name"),
    )
    return P.consent_histogram(pred, entities, "a")


@_q(
    "confidence_stats",
    """
    SELECT label,
           round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS conf_mean,
           round(coalesce(stddev_samp(CAST(embedding[1] AS DOUBLE)), -1.0), 6) AS conf_stddev
    FROM embeddings GROUP BY label
    """,
)
def q_confidence_stats(spark, sf_dir):
    """per-label prediction-confidence mean/stdev
    (classifiers/utils.py:128-154)."""
    emb = _t(spark, sf_dir, "embeddings")
    conf = F.element_at("embedding", 1).cast("double")
    return emb.groupBy("label").agg(
        F.round(F.avg(conf), 6).alias("conf_mean"),
        F.round(F.coalesce(F.stddev_samp(conf), F.lit(-1.0)), 6).alias("conf_stddev"),
    )


@_q(
    "hash_split_8020",
    """
    WITH s AS (
      SELECT label,
             CASE WHEN CAST('0x' || substr(md5(vec_id::VARCHAR), 1, 4) AS INTEGER) % 5 = 0
                  THEN 'test' ELSE 'train' END AS split
      FROM embeddings
    )
    SELECT label, split, count(*)::BIGINT AS n FROM s GROUP BY label, split
    """,
)
def q_hash_split_8020(spark, sf_dir):
    """deterministic 80/20 split replacing train_test_split
    (train_xgb.py:292) — hash-based so resumable runs split
    identically."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = F.pmod(
        TX.hex_to_long(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4)), F.lit(5)
    )
    split = F.when(bucket == 0, F.lit("test")).otherwise(F.lit("train"))
    return emb.select("label", split.alias("split")).groupBy("label", "split").agg(
        F.count("*").alias("n")
    )


@_q(
    "salted_agg",
    """
    WITH p AS (
      SELECT user_id,
             count(value)::BIGINT AS n,
             CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           floor(s1 / n * 10000 + 0.5) / 10000 AS mean,
           floor(CASE WHEN n >= 2
                      THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0))
                      ELSE -1.0 END * 10000 + 0.5) / 10000 AS stddev,
           n
    FROM p
    """,
)
def q_salted_agg(spark, sf_dir):
    """two-phase salted mean/stddev for hot-entity skew
    (operators/skew.py): algebraically exact (n, Σx, Σx²) merge in
    DECIMAL(38,12) — must equal the plain aggregation. The twin
    replays the SAME decimal-sum + double-formula pipeline (a float
    avg()/stddev_samp() sums in a different order, which flipped one
    4-dp rounding tie at sf0.1 — decimal sums are exact and
    order-free in both engines). Rounding is the explicit
    floor(x·10⁴+0.5)/10⁴ double formula on BOTH sides: 2-dp inputs
    over power-of-two counts put means EXACTLY on x.xxxx5 midpoints,
    where Spark's round() (shortest-decimal-string HALF_UP) and
    DuckDB's round() (binary value) disagree; the shared formula is
    bit-identical IEEE arithmetic in both engines."""
    from cookieblock_consent_classifier_spark.operators.skew import salted_mean_stddev

    ev = _t(spark, sf_dir, "events")
    out = salted_mean_stddev(ev, "user_id", "value", num_salts=8, salt_cols=["event_id"])

    def r4(c):  # floor(x*1e4 + 0.5)/1e4 — see docstring
        return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)

    return out.select(
        "user_id",
        r4(F.col("mean")).alias("mean"),
        # salted_mean_stddev already applies the n>=2 / -1.0 sentinel
        r4(F.col("stddev")).alias("stddev"),
        F.col("n").cast("long").alias("n"),
    )


@_q(
    "window_sequence",
    """
    SELECT event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 4) AS running_value,
           round(CASE WHEN max(value) OVER wp > min(value) OVER wp
                      THEN (value - min(value) OVER wp) / (max(value) OVER wp - min(value) OVER wp)
                 END, 6) AS value_norm,
           lead(event_type) OVER ws AS next_type,
           round(epoch_us(lead(ts) OVER ws) / 1e6 - epoch_us(ts) / 1e6, 4) AS secs_to_next
    FROM events
    WINDOW wp AS (PARTITION BY user_id),
           ws AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_sequence(spark, sf_dir):
    """per-entity window-sequence features in ONE scan + ONE entity
    shuffle: running cumulative sum (unbounded-preceding frame, the
    backfill frame family), min-max normalization (whole-partition
    frame), and lead (forward-looking) next-event features — the two
    window specs share the partitioning, so Catalyst plans a single
    exchange with two sorts."""
    ev = _t(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("user_id")
    mn, mx = F.min("value").over(wp), F.max("value").over(wp)
    return ev.select(
        "event_id",
        F.round(F.sum("value").over(wrun), 4).alias("running_value"),
        F.round(F.when(mx > mn, (F.col("value") - mn) / (mx - mn)), 6).alias("value_norm"),
        F.lead("event_type").over(ws).alias("next_type"),
        F.round(F.lead(_us("ts")).over(ws) / F.lit(1e6) - _us("ts") / F.lit(1e6), 4).alias("secs_to_next"),
    )


@_q(
    "value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*)::BIGINT AS n
    FROM events GROUP BY event_type
    """,
)
def q_value_percentiles(spark, sf_dir):
    """exact interpolated percentiles per group (distribution stats —
    the validation-stats family, classifiers/utils.py:244-288)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        F.count("*").alias("n"),
    )


@_q(
    "native_delimiter_counts",
    """
    SELECT doc_id,
           (len(text) - len(replace(text, ',', '')))::BIGINT AS n_comma,
           (len(text) - len(replace(text, '.', '')))::BIGINT AS n_period,
           (len(text) - len(replace(text, '-', '')))::BIGINT AS n_dash,
           (len(text) - len(replace(text, ' ', '')))::BIGINT AS n_space
    FROM documents
    """,
)
def q_native_delimiter_counts(spark, sf_dir):
    """native delimiter-count heuristic (delim_sep_check,
    utils.py:178-196; experimental features processor.py:1509-1555)."""
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    def cnt(d):
        return (F.length(c) - F.length(F.replace(c, F.lit(d)))).cast("long")
    return docs.select(
        "doc_id",
        cnt(",").alias("n_comma"), cnt(".").alias("n_period"),
        cnt("-").alias("n_dash"), cnt(" ").alias("n_space"),
    )


@_q(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*)::BIGINT AS n_items
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def q_revenue_by_nation(spark, sf_dir):
    """multi-join aggregation anchor (broadcast dims + shuffle fact
    join; money through DECIMAL for exactness)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count("*").alias("n_items"))
    )


# =====================================================================
# Dedup / fingerprint / similarity (training-data pipeline ops)
# =====================================================================

_NORM_SQL = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"


@_q(
    "dedup_exact",
    f"""
    SELECT md5({_NORM_SQL.format(c='text')}) AS dup_key,
           count(*)::BIGINT AS cluster_size,
           min(doc_id) AS keep_id
    FROM documents GROUP BY dup_key
    """,
)
def q_dedup_exact(spark, sf_dir):
    """exact dedup clusters on normalized-content hash."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    keyed = docs.select(TX.fingerprint("text").alias("dup_key"), "doc_id")
    return keyed.groupBy("dup_key").agg(
        F.count("*").alias("cluster_size"), F.min("doc_id").alias("keep_id")
    )


@_q(
    "doc_fingerprint",
    rf"""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\s+') END AS toks,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), g AS (
      SELECT doc_id, text, lines,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1]) AS g2,
             list_transform(generate_series(1, len(toks) - 2),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
      FROM t
    )
    SELECT doc_id,
           md5({_NORM_SQL.format(c='text')}) AS fp,
           round(CASE WHEN len(g2) > 0
                 THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) END, 6) AS dup_2gram_frac,
           round(CASE WHEN len(g3) > 0
                 THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) END, 6) AS dup_3gram_frac,
           round(CASE WHEN len(lines) > 0
                 THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines) END, 6) AS dup_line_frac
    FROM g
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """normalized-content document fingerprint + repetition quality
    filters (the MassiveText/Gopher family): duplicate word-2/3-gram
    fraction and duplicate line fraction — the standard
    pretraining-corpus boilerplate/spam signals, all native."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    # two-phase: tokenize ONCE into a projected column; the n-gram
    # fractions reference it cheaply (inlining tokens() re-runs the
    # trim+split per interpreted HOF operand — no CSE)
    staged = docs.select("doc_id", "text", TX.tokens("text").alias("__toks"))
    return staged.select(
        "doc_id",
        TX.fingerprint("text").alias("fp"),
        F.round(TX.dup_ngram_fraction_from_tokens("__toks", 2), 6).alias("dup_2gram_frac"),
        F.round(TX.dup_ngram_fraction_from_tokens("__toks", 3), 6).alias("dup_3gram_frac"),
        F.round(TX.dup_line_fraction("text"), 6).alias("dup_line_frac"),
    )


def _minhash_sql(k: int) -> str:
    from cookieblock_consent_classifier_spark.operators.dedup import lane_salt

    lanes = ",\n".join(
        f"list_min(list_transform(hashes, h -> xor(h, {lane_salt(i)}::BIGINT))) AS minhash_{i}"
        for i in range(k)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex({_NORM_SQL.format(c='text')}, '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM toks
    ), h AS (
      SELECT doc_id,
             list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hashes
      FROM sh
    )
    SELECT doc_id, {lanes} FROM h
    """


@_q("minhash_signatures", _minhash_sql(4))
def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (4 lanes, word-3-gram shingles) — the
    near-dup scale path."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    return dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=4, shingle_n=3)


@_q(
    "embedding_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_dot_product(q.qv, c.cv) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cos_sim
      FROM c CROSS JOIN q WHERE c.neighbor_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q_embedding_topk(spark, sf_dir):
    """brute-force cosine top-k similarity search (exact baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(
        _fanout(emb, "vec_id"), emb.filter(F.col("vec_id") < 10), k=5
    )
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


# =====================================================================
# Text analysis (training-data pipeline ops)
# =====================================================================

def _text_quality_oracle_sql() -> str:
    """DuckDB twin incl. the PII columns: the md5-keyed augmented text
    (TX.PII_SAMPLES — shared constants generate BOTH engines' CASE),
    per-rule counts and the chained scrub (TX.PII_RULES, RE2 == Java
    on these ASCII-only patterns), all from the same constants the
    Spark side compiles."""
    sample_case = "\n                  ".join(
        f"WHEN '{k}' THEN text || '{v}'" for k, v in TX.PII_SAMPLES.items()
    )
    counts = ",\n           ".join(
        f"len(regexp_extract_all(aug, '{pat}'))::BIGINT AS n_pii_{name}"
        for name, pat, _ in TX.PII_RULES
    )
    scrub = "aug"
    for _, pat, token in TX.PII_RULES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{token}', 'g')"
    return (
        _TEXT_QUALITY_ORACLE_BASE
        .replace("__PII_SAMPLE_CASE__", sample_case)
        .replace("__PII_COUNTS__", counts)
        .replace("__PII_SCRUB__", scrub)
    )


_TEXT_QUALITY_ORACLE_BASE = r"""
    WITH a AS (
      SELECT doc_id, text,
             CASE substr(md5(doc_id::VARCHAR), 1, 1)
                  __PII_SAMPLE_CASE__
                  ELSE text END AS aug
      FROM documents
    ), s AS (
      SELECT doc_id, text, aug,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok,
             len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS n_punct,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(list_filter(string_split_regex(trim(text), '\s+'),
                       t -> list_contains(['the','a','and','of','to','in','is','on','for'], lower(t)))) END AS n_stop
      FROM a
    ), c AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents
    ), l AS (
      SELECT doc_id,
             len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], lower(x)))) AS c_de,
             len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], lower(x)))) AS c_en,
             len(list_filter(toks, x -> list_contains(['el','los','que','y','las'], lower(x)))) AS c_es,
             len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], lower(x)))) AS c_fr
      FROM c
    )
    SELECT s.doc_id,
           n_tok::BIGINT AS token_count,
           len(regexp_extract_all(text, ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))::BIGINT AS bpe_tokens,
           round(CASE WHEN len(text) > 0 THEN n_punct::DOUBLE / len(text) END, 6) AS punct_ratio,
           round(CASE WHEN n_tok > 0 THEN n_stop::DOUBLE / n_tok END, 6) AS stopword_ratio,
           CASE WHEN greatest(c_de, c_en, c_es, c_fr) = 0 THEN 'und'
                WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
                WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
                WHEN c_es >= c_fr THEN 'es'
                ELSE 'fr' END AS lang_pred,
           __PII_COUNTS__,
           md5(__PII_SCRUB__) AS scrub_md5
    FROM s JOIN l ON l.doc_id = s.doc_id
    """


@_q("text_quality", _text_quality_oracle_sql())
def q_text_quality(spark, sf_dir):
    """text quality scoring components (token count, punct ratio,
    stopword ratio) + language-ID stopword heuristic (argmax,
    alphabetical tie-break) + PII detection/redaction (TX.PII_RULES:
    email / IPv4 / SSN-shaped id counts and the chained typed-token
    scrub, value-pinned via md5 of the scrubbed string) — all
    row-wise native over one documents scan. The synthetic corpus has
    no natural PII, so an md5-keyed sample (TX.PII_SAMPLES, same
    constants on both engines) is appended first so every rule fires
    both ways on real rows."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    aug = F.col("text")
    for k, v in TX.PII_SAMPLES.items():
        aug = F.when(nib == k, F.concat(F.col("text"), F.lit(v))).otherwise(aug)
    # three-phase (opt r7): project the token array, then ONE
    # interpreted aggregate computes the 4 language-marker counts AND
    # the stopword count over a single lowered pass (separate stopword
    # and language-count exprs cost two tokenize+lower+contains
    # passes — 27.5 + 33.4 us/doc single-task; the fold measures one).
    staged = docs.select(
        "doc_id", "text", aug.alias("__aug"), TX.tokens("text").alias("__toks")
    )
    lang_arrs = [
        F.array(*[F.lit(m) for m in TX.LANG_MARKERS[lang]]) for lang in TX.LANG_ORDER
    ]
    stop_arr = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    zero = F.array(*[F.lit(0) for _ in range(len(TX.LANG_ORDER) + 1)])
    profile = F.aggregate(
        F.transform(F.col("__toks"), F.lower),
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[F.array_contains(a, t).cast("int") for a in lang_arrs],
                F.array_contains(stop_arr, t).cast("int"),
            ),
            lambda x, y: x + y,
        ),
    )
    staged = staged.select(
        "doc_id", "text", "__aug",
        F.size("__toks").alias("__ntok"), profile.alias("__prof"),
    )
    ntok = F.col("__ntok")
    n_stop = F.element_at("__prof", len(TX.LANG_ORDER) + 1)
    # email PII work is gated on a cheap contains('@'): the pattern
    # cannot match without one, so count 0 / identity-scrub are exact
    assert TX.PII_RULES[0][0] == "email"
    has_at = F.contains(F.col("__aug"), F.lit("@"))
    email_count = F.when(
        has_at, TX.pii_count("__aug", TX.PII_RULES[0][1])
    ).otherwise(F.lit(0))
    scrub = F.when(
        has_at,
        F.regexp_replace(F.col("__aug"), TX.PII_RULES[0][1], TX.PII_RULES[0][2]),
    ).otherwise(F.col("__aug"))
    for _name, pat, token in TX.PII_RULES[1:]:
        scrub = F.regexp_replace(scrub, pat, token)
    return staged.select(
        "doc_id",
        ntok.cast("long").alias("token_count"),
        TX.bpe_token_count("text").alias("bpe_tokens"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(
            F.when(ntok > 0, n_stop.cast("double") / ntok.cast("double")), 6
        ).alias("stopword_ratio"),
        TX.lang_id_from_counts(
            F.slice("__prof", 1, len(TX.LANG_ORDER))
        ).alias("lang_pred"),
        email_count.cast("bigint").alias(f"n_pii_{TX.PII_RULES[0][0]}"),
        *[
            TX.pii_count("__aug", pat).cast("bigint").alias(f"n_pii_{name}")
            for name, pat, _ in TX.PII_RULES[1:]
        ],
        F.md5(scrub).alias("scrub_md5"),
    )


@_q(
    "doc_chunks",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\s+') END AS toks
      FROM documents
    ), n AS (
      SELECT doc_id, source, toks,
             CAST(ceil(len(toks) / 32.0) AS INT) AS nc
      FROM t WHERE len(toks) > 0
    ), ch AS (
      SELECT doc_id, source, toks, unnest(range(nc)) AS chunk_id
      FROM n
    ), cm AS (
      SELECT doc_id, source, chunk_id::BIGINT AS chunk_id,
             len(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 32))::BIGINT AS n_tok,
             md5(array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 32), ' ')) AS chunk_md5
      FROM ch
    )
    SELECT doc_id, chunk_id, n_tok,
           CAST(floor(coalesce(sum(n_tok) OVER (
                 PARTITION BY source ORDER BY doc_id, chunk_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 256) AS BIGINT) AS bin_id,
           chunk_md5
    FROM cm
    """,
)
def q_doc_chunks(spark, sf_dir):
    """LLM-corpus chunking + sequence packing (operators/chunking.py):
    every document split into 32-token chunks (native sequence +
    explode — scan-speed, zero shuffle), then packed into 256-token
    training sequences per source stream (greedy-by-start-offset
    concatenation packing = ONE window cumsum per stream; streams
    keep packing embarrassingly parallel at corpus scale). Chunk
    text value-pinned via md5."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    ch = chunking.chunk_documents(
        docs, id_cols=("doc_id", "source"), chunk_tokens=32
    )
    packed = chunking.pack_chunks(
        ch, "source", ["doc_id", "chunk_id"], budget=256
    )
    return packed.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_tok",
        "bin_id",
        F.md5("chunk_text").alias("chunk_md5"),
    )


# =====================================================================
# Non-SQL-expressible ops: rows-only checks (driver records weaker
# verdict; semantics unit-tested in tests/ instead)
# =====================================================================

@_q(
    "embedding_near_dup",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             round(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cos_sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT a, b, cos_sim FROM p WHERE cos_sim >= 0.4
    """,
)
def q_embedding_near_dup(spark, sf_dir):
    """embedding-cosine near-duplicate pairs — EXACT all-pairs scan,
    the TEST-ONLY oracle surface (bounded fixture sizes). The scale
    path is similarity.lsh_near_dup_pairs (bucketed candidates + exact
    verify), whose recall vs this oracle is measured in
    tests/test_dedup_similarity.py::test_lsh_near_dup_recall."""
    from cookieblock_consent_classifier_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    return pairs.select(
        "a", "b", F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cos_sim")
    ).filter(F.col("cos_sim") >= 0.4)


@_q("entropy_zlib")  # zlib pandas UDF: no SQL twin
def q_entropy_zlib(spark, sf_dir):
    """feature_shannon_entropy + feature_compressed_content
    (processor.py:1061-1098): entropy is the extraction job's Catalyst
    ``char_entropy(py_unquote(text))``, the compressed length an
    Arrow-vectorized pandas UDF."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        F.round(native.char_entropy(native.py_unquote("text")), 6).alias("entropy"),
        V.zlib_compressed_len("text").alias("zlib_len"),
    )


@_q(
    "shannon_entropy",
    """
    SELECT doc_id, round(entropy(ch), 6) AS entropy
    FROM (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
      WHERE length(text) > 0 AND NOT contains(text, '%')
    )
    GROUP BY doc_id
    """,
)
def q_shannon_entropy(spark, sf_dir):
    """feature_shannon_entropy (processor.py:1083-1098) — value-exact
    vs DuckDB's entropy() aggregate (log2, like the reference), through
    the extraction job's zero-Python builder
    ``char_entropy(py_unquote(text))``. The filter pins both engines
    to the same input domain: the engine URL-decodes first (reference
    semantics), which DuckDB 1.0 cannot express, so %-containing and
    empty docs are excluded."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.filter(
        (F.length("text") > 0) & (~F.contains(F.col("text"), F.lit("%")))
    ).select(
        "doc_id", F.round(native.char_entropy(native.py_unquote("text")), 6).alias("entropy")
    )


@_q("gestalt_diff")  # difflib kernel: no SQL twin
def q_gestalt_diff(spark, sf_dir):
    """feature_gestalt_pattern_ratio over consecutive updates
    (processor.py:1485-1494)."""
    ev = _t(spark, sf_dir, "events")
    lagged = temporal.with_lag(ev, "user_id", ["ts", "event_id"], ["props"])
    return lagged.select(
        "event_id",
        F.round(V.gestalt_ratio("prev_props", "props"), 6).alias("gestalt_ratio"),
    )


_SIMHASH_SQL = f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split_regex({_NORM_SQL.format(c='text')}, '\\s+')) AS t
      FROM documents
    ), h AS (
      SELECT doc_id,
             list_transform(t, x -> CAST('0x' || substr(md5('sh:' || x), 1, 12) AS BIGINT)) AS hs
      FROM toks
    ), bits AS (
      SELECT doc_id,
             list_transform(generate_series(0, 47), j ->
               CASE WHEN list_sum(list_transform(hs,
                      h -> CASE WHEN (h // CAST(2 ** j AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN CAST(2 ** j AS BIGINT) ELSE 0 END) AS b
      FROM h
    ), s AS (
      SELECT doc_id, CAST(coalesce(list_sum(b), 0) AS BIGINT) AS simhash FROM bits
    )
    SELECT doc_id, simhash,
           simhash % 4096 AS simhash_block_0,
           (simhash // 4096) % 4096 AS simhash_block_1,
           (simhash // 16777216) % 4096 AS simhash_block_2,
           (simhash // 68719476736) % 4096 AS simhash_block_3
    FROM s
    """


@_q("simhash", _SIMHASH_SQL)
def q_simhash(spark, sf_dir):
    """SimHash fingerprints + pigeonhole blocking keys (48-bit; bit j
    of the fingerprint = sign of token votes on md5 bit j)."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    sh = docs.select("doc_id", dedup.simhash48("text").alias("simhash"))
    return sh.select("doc_id", "simhash", *dedup.simhash_blocks(F.col("simhash")))


def _lsh_candidates_sql() -> str:
    # 8 lanes → 4 bands of 2; band_key = md5(m_{2b} || '_' || m_{2b+1})
    # exactly as lsh_bands builds it (concat_ws of BIGINT casts)
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(minhash_{2*b}::VARCHAR || '_' || minhash_{2*b+1}::VARCHAR) AS band_key "
        f"FROM sig WHERE minhash_0 IS NOT NULL"
        for b in range(4)
    )
    shingles = f"""
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(string_split_regex({_NORM_SQL.format(c='text')}, '\\s+')) - 2),
               i -> string_split_regex({_NORM_SQL.format(c='text')}, '\\s+')[i] || ' ' ||
                    string_split_regex({_NORM_SQL.format(c='text')}, '\\s+')[i+1] || ' ' ||
                    string_split_regex({_NORM_SQL.format(c='text')}, '\\s+')[i+2])) AS s
      FROM documents
    """
    return f"""
    WITH sig AS ({_minhash_sql(8)}),
    bands AS ({band_selects}),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
      WHERE x.doc_id < y.doc_id
    ),
    sh AS ({shingles})
    SELECT p.a, p.b,
           round(CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
                 THEN len(list_intersect(sa.s, sb.s))::DOUBLE
                      / len(list_distinct(list_concat(sa.s, sb.s)))
                 END, 6) AS jaccard
    FROM pairs p JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b
    """


@_q("lsh_candidates", _lsh_candidates_sql())
def q_lsh_candidates(spark, sf_dir):
    """MinHash-LSH banding → candidate pairs → exact n-gram Jaccard
    verification. Value-exact vs DuckDB: the signature lanes, band
    keys (md5 of concatenated lanes) and the Jaccard verification are
    all portable md5/list arithmetic."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    sig = dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=8)
    bands = dedup.lsh_bands(sig, "doc_id", num_hashes=8, band_size=2)
    pairs = dedup.lsh_candidate_pairs(bands, "doc_id")
    # join the candidate pairs against ONE shingle projection per side:
    # value-identical to the Jaccard of word_shingles over the texts,
    # but each doc's interpreted word_shingles evaluates once per side
    # instead of once per pair (the DuckDB twin has always used this
    # shape)
    sh = docs.select("doc_id", dedup.shingle_tokens("text").alias("__tk")).select(
        "doc_id", dedup.word_shingles_from_tokens(F.col("__tk"), 3).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("a"), F.col("s").alias("s_a"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("s").alias("s_b"))
    return (
        pairs.join(a, "a").join(b, "b")
        .select("a", "b", dedup.jaccard_from_shingles(F.col("s_a"), F.col("s_b")).alias("jaccard"))
    )


@_q(
    "dedup_clusters_cc",
    f"""
    WITH RECURSIVE verified AS (
      SELECT a, b FROM ({_lsh_candidates_sql()}) WHERE jaccard >= 0.5
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM verified
      UNION
      SELECT b AS src, a AS dst FROM verified
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
    )
    SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node
    """,
)
def q_dedup_clusters_cc(spark, sf_dir):
    """End-to-end near-dup CLUSTERING: minhash → LSH bands → candidate
    pairs → exact Jaccard verify (≥ 0.5) → connected components
    (operators/dedup.connected_components: iterative min-label
    propagation — pairs alone under-merge transitive duplicates).
    Value-exact vs a DuckDB recursive-CTE reachability oracle."""
    docs = _fanout(_t(spark, sf_dir, "documents"), "doc_id")
    sig = dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=8)
    bands = dedup.lsh_bands(sig, "doc_id", num_hashes=8, band_size=2)
    pairs = dedup.lsh_candidate_pairs(bands, "doc_id")
    # shingle projection join — see q_lsh_candidates
    sh = docs.select("doc_id", dedup.shingle_tokens("text").alias("__tk")).select(
        "doc_id", dedup.word_shingles_from_tokens(F.col("__tk"), 3).alias("s")
    )
    ta = sh.select(F.col("doc_id").alias("a"), F.col("s").alias("s_a"))
    tb = sh.select(F.col("doc_id").alias("b"), F.col("s").alias("s_b"))
    verified = (
        pairs.join(ta, "a").join(tb, "b")
        .filter(dedup.jaccard_from_shingles(F.col("s_a"), F.col("s_b")) >= 0.5)
        .select("a", "b")
    )
    cc = dedup.connected_components(verified)
    return cc.select(F.col("node").alias("doc_id"), "component")


@_q(
    "approx_stats",
    """
    SELECT event_type,
           count(*)::BIGINT AS n,
           count(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS hll_ok, TRUE AS q50_ok, TRUE AS q95_ok, TRUE AS q99_ok
    FROM events GROUP BY event_type
    """,
)
def q_approx_stats(spark, sf_dir):
    """Sketch-based scale ops: HLL++ distinct counts and
    Greenwald-Khanna approximate quantiles per event type — the
    constant-memory stand-ins for exact distinct/percentile at 100 TB.

    VALUE-GATED since round 6 (r5 VERDICT item 4): raw sketch outputs
    are engine-specific, so the row carries deterministic BOUNDED-ERROR
    BOOLEANS instead — |HLL − exact| ≤ max(3, 5%·exact) (sketch rsd is
    2%; HLL++ is RNG-free and deterministic for a given input), and
    each GK quantile checked by its ACTUAL guarantee — RANK: a second
    pass counts values strictly below / at-or-below the returned
    element, and the boolean is |rank − q·n| ≤ n·10⁻⁴ + 1 (accuracy
    10⁴, +1 for element discretization). A value-envelope check
    against interpolated exact percentiles would be FALSE for small
    groups (below ~26 rows the interpolation gap exceeds any fixed
    envelope — round-6 review finding); the rank form is exact at
    every group size, ties only widen it in the safe direction, and
    empty/all-null groups pass vacuously in both engines. The DuckDB
    twin computes the exact side (n, exact_users) independently and
    pins every boolean TRUE, so a sketch drifting past its bound
    breaks the value hash. The second aggregation pass and the exact
    aggregates exist only to gate the sketches at test scale — at
    100 TB you ship the one-pass sketch columns alone. Error
    magnitudes stay unit-pinned
    (test_dedup_similarity.test_approx_stats_error_bounds)."""
    ev = _t(spark, sf_dir, "events")
    a1 = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("__hll"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias("__aq"),
        F.count("value").alias("__nv"),
    )
    QS = (0.5, 0.95, 0.99)
    rank_aggs = []
    for i in range(3):
        rank_aggs.append(
            F.sum(F.when(F.col("value") < F.col("__aq")[i], 1).otherwise(0))
            .alias(f"__lt{i}")
        )
        rank_aggs.append(
            F.sum(F.when(F.col("value") <= F.col("__aq")[i], 1).otherwise(0))
            .alias(f"__le{i}")
        )
    # null-safe join key (r6 ADVICE): a NULL event_type group survives
    # both GROUP BYs but would drop at a plain equi-join (null != null)
    # while the DuckDB twin keeps its NULL row — latent on null-free
    # fixtures, wrong in general. EqualNullSafe is still a supported
    # broadcast-hash-join key, so the plan shape is unchanged.
    a1 = a1.withColumnRenamed("event_type", "__et")
    a2 = (
        ev.join(F.broadcast(a1), F.col("event_type").eqNullSafe(F.col("__et")))
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.first("exact_users").alias("exact_users"),
            F.first("__hll").alias("__hll"),
            F.first("__nv").alias("__nv"),
            *rank_aggs,
        )
    )

    def _q_ok(i: int):
        nv = F.col("__nv").cast("double")
        slack = F.lit(1e-4) * nv + F.lit(1.0)
        target = F.lit(QS[i]) * nv
        return (F.col(f"__lt{i}") <= target + slack) & (
            F.col(f"__le{i}") >= target - slack
        )

    hll_ok = F.abs(F.col("__hll") - F.col("exact_users")) <= F.greatest(
        F.lit(3.0), F.lit(0.05) * F.col("exact_users")
    )
    return a2.select(
        "event_type",
        "n",
        "exact_users",
        hll_ok.alias("hll_ok"),
        _q_ok(0).alias("q50_ok"),
        _q_ok(1).alias("q95_ok"),
        _q_ok(2).alias("q99_ok"),
    )


@_q("ann_lsh_topk")  # ANN recall is probabilistic vs brute force; rows-only
def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbors (scale path)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5,
                              num_planes=3, num_tables=12)
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


# ---- the oracled end-to-end pipeline (VERDICT r4 item 1) -------------
# cookie_feature_pipeline runs the REAL compile_features + assembler
# over the SQL-expressible native sub-schema (compiler.native_schema —
# same specs, builders, widths, and assembly as the full schema, minus
# the Arrow-kernel / Python-regex / difflib features) on an
# events-derived input, and its DuckDB twin replays the WHOLE
# composition: scan → label filter → per-update exprs → lag window →
# one groupBy (slot pivots + aggregates) → uniform-domain + rank joins
# → ordered sparse assembly → inverse-class-frequency weights. Output
# is the assembled sparse rows in long form (posexplode) so the
# (indices, values) ORDER is hash-pinned too: pos is the position in
# the assembled arrays, fidx the feature-vector index.

def _pipeline_oracle_sql() -> str:
    from cookieblock_consent_classifier_spark.functions.native import (
        EXPIRY_BUCKETS, HEX_PAT, NUM_PAT, PY_WS_CODEPOINTS,
        REF_DATE_DMY, REF_DATE_MDY, REF_DATE_YMD, REF_DAYS3, REF_HTTP,
        REF_MONTHS3, REF_UUID, REF_WWW, TIMESTAMP_PAT,
    )
    from cookieblock_consent_classifier_spark.plans.compiler import (
        RANK_FEATURES, native_schema,
    )
    from cookieblock_consent_classifier_spark.sources.readers import (
        EVENTS_DOMAIN_CASES, EVENTS_EXPIRY_CASES, EVENTS_NAME_CASES,
        EVENTS_VALUE_ESCAPES, _HALF_NIBBLES,
    )
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

    res = fixture_resources()
    schema = native_schema(res, num_updates=2, num_diffs=2)

    # --- src: the SQL twin of readers.cookie_updates_from_events,
    # generated from the same constant maps
    name_case = " ".join(
        f"WHEN user_id % 7 = {k} THEN '{v}'" for k, v in EVENTS_NAME_CASES.items()
    )
    dom_case = " ".join(
        f"WHEN user_id % 5 = {k} THEN '{v}'" for k, v in EVENTS_DOMAIN_CASES.items()
    )
    exp_case = " ".join(
        f"WHEN substr(h, 6, 1) = '{k}' THEN CAST({v} AS BIGINT)"
        for k, v in EVENTS_EXPIRY_CASES.items()
    )
    half = ", ".join(f"'{c}'" for c in _HALF_NIBBLES)

    # value-branch twins (readers.cookie_updates_from_events), built
    # from the SAME shared constants. enc/dec replace chains both come
    # from EVENTS_VALUE_ESCAPES (targets and replacements never
    # overlap, so chain order is irrelevant).
    enc = "props"
    for ch, esc in EVENTS_VALUE_ESCAPES:
        enc = f"replace({enc}, '{ch}', '{esc}')"

    def hex_int(pos: int, ln: int) -> str:
        return f"CAST(('0x' || substr(h, {pos}, {ln})) AS BIGINT)"

    ts_val = f"'16' || lpad(CAST({hex_int(20, 6)} AS VARCHAR), 8, '0')"
    uuid_val = (
        "substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || "
        f"CAST({hex_int(13, 1)} % 8 AS VARCHAR) || substr(h, 14, 3) || '-' || "
        "substr(h, 17, 4) || '-' || substr(h, 21, 12)"
    )
    url_val = "'https://www.' || substr(h, 20, 6) || '.example.com/t'"
    date_val = (
        f"'2021-' || lpad(CAST({hex_int(26, 2)} % 12 + 1 AS VARCHAR), 2, '0') || "
        f"'-' || lpad(CAST({hex_int(28, 2)} % 28 + 1 AS VARCHAR), 2, '0')"
    )
    hex_val = "upper(substr(h, 3, 4)) || 'f' || substr(h, 7, 4)"
    ws_val = (
        f"repeat(' ', CAST({hex_int(21, 1)} % 3 + 1 AS INT)) || chr(9) || "
        f"repeat(chr(10), CAST({hex_int(22, 1)} % 2 AS INT))"
    )
    value_case = f"""CASE substr(h, 19, 1)
           WHEN '8' THEN {enc}
           WHEN '9' THEN {ts_val}
           WHEN 'a' THEN {uuid_val}
           WHEN 'b' THEN {url_val}
           WHEN 'c' THEN {date_val}
           WHEN 'd' THEN {hex_val}
           WHEN 'e' THEN {ws_val}
           WHEN 'f' THEN ''
           ELSE props END"""
    dec_chain = "value"
    for ch, esc in EVENTS_VALUE_ESCAPES:
        dec_chain = f"replace({dec_chain}, '{esc}', '{ch}')"

    src = f"""
  SELECT CAST(user_id AS VARCHAR) AS entity_id, ts,
         CAST(event_id AS INT) AS update_idx,
         CASE {name_case} ELSE 'misc_' || CAST(user_id AS VARCHAR) END AS name,
         CASE {dom_case} END AS domain,
         CASE WHEN user_id % 3 = 0 THEN '/app' ELSE '/' END AS path,
         CAST(CAST(('0x' || substr(md5('l' || CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) % 5 AS INT) AS label,
         {value_case} AS value,
         CASE {exp_case} ELSE CAST(('0x' || substr(h, 7, 12)) AS BIGINT) % 60000000 END AS expiry,
         substr(h, 1, 1) IN ({half}) AS http_only,
         substr(h, 2, 1) IN ({half}) AS secure,
         substr(h, 3, 1) IN ({half}) AS session,
         substr(h, 4, 1) IN ({half}) AS host_only,
         CASE WHEN substr(h, 5, 1) IN ('0','1','2','3','4') THEN 'no_restriction'
              WHEN substr(h, 5, 1) IN ('5','6','7','8','9') THEN 'lax'
              ELSE 'strict' END AS same_site
  FROM (SELECT *, md5(CAST(event_id AS VARCHAR)) AS h FROM events)"""

    # --- per-update slot expressions (compiler._per_update_builders
    # twins, evaluated per win row)
    def pmb(cond: str) -> str:
        return f"CASE WHEN {cond} THEN 1.0 ELSE -1.0 END"

    bucket_exprs = []
    for lo, hi in EXPIRY_BUCKETS:
        if lo == float("-inf"):
            bucket_exprs.append(pmb(f"expiry < {hi}"))
        elif hi == float("inf"):
            bucket_exprs.append(pmb(f"expiry >= {lo}"))
        else:
            bucket_exprs.append(pmb(f"(expiry >= {lo} AND expiry <= {hi})"))
    pu_exprs: dict[str, list[str]] = {
        "http_only": [pmb("http_only")],
        "secure": [pmb("secure")],
        "session": [pmb("session")],
        "same_site": [pmb(f"same_site = '{c}'") for c in ("no_restriction", "lax", "strict")],
        "expiry": ["CAST(expiry AS DOUBLE)"],
        "expiry_extra": bucket_exprs,
        # decoded-content natives (built from the compiler's ``dec``): the
        # twin decodes branch-'8' escapes via the shared
        # EVENTS_VALUE_ESCAPES replace chain (== py_unquote on this
        # controlled domain), then applies the SAME reference regex
        # strings (native.REF_*) — DuckDB RE2 and Java agree on these
        # patterns — and per-row char entropy via DuckDB's log2
        # entropy() aggregate (like the reference).
        "content_length": ["CAST(strlen(dec) AS DOUBLE)"],
        "shannon_entropy": ["ent_val"],
        "url_encoding": [pmb("value <> dec")],
        # all-hex AND not-numeric: the ASCII decimal guard is exact
        # under the hex conjunction (native.hex_content docstring)
        "hex_content": [pmb(
            f"regexp_matches(dec, '{HEX_PAT}') AND NOT regexp_matches(dec, '{NUM_PAT}')"
        )],
        # RAW-value isspace(): translate over the shared closed
        # PY_WS codepoint set (native.PY_WS_CODEPOINTS)
        "empty_content": [pmb(
            "translate(value, " + " || ".join(f"chr({c})" for c in PY_WS_CODEPOINTS)
            + ", '') = ''"
        )],
        "timestamp_content": [pmb(f"regexp_matches(dec, '{TIMESTAMP_PAT}')")],
        "date_content": [pmb(
            f"(regexp_matches(dec, '{REF_DATE_YMD}') OR "
            f"regexp_matches(dec, '{REF_DATE_DMY}') OR "
            f"regexp_matches(dec, '{REF_DATE_MDY}') OR "
            f"(regexp_matches(dec, '{REF_DAYS3}') AND "
            f"regexp_matches(dec, '{REF_MONTHS3}')))"
        )],
        "contains_uuid": (
            [pmb(f"uuid_ver = '{v}'") for v in ("1", "2", "3", "4", "5")]
            + [pmb("uuid_ver <> '' AND uuid_ver NOT IN ('1','2','3','4','5')")]
        ),
        "url_content": [pmb(
            f"(regexp_matches(dec, '{REF_HTTP}') OR regexp_matches(dec, '{REF_WWW}'))"
        )],
    }
    pd_exprs = {"time_difference": "d_time_difference", "lev_distance": "d_lev"}

    # --- ent: one groupBy — slot pivots + per-entity aggregates
    def chg(col: str) -> str:
        return (
            f"CASE WHEN max(CASE WHEN prev_{col} IS NOT NULL AND {col} <> prev_{col} "
            f"THEN 1 ELSE 0 END) = 1 THEN 1.0 END"
        )

    pivots = []
    for spec in schema.per_update:
        for u in range(schema.num_updates):
            for i, e in enumerate(pu_exprs[spec.name]):
                pivots.append(
                    f"max(CASE WHEN slot = {u} THEN {e} END) AS pu_{spec.name}_{u}_{i}"
                )
    for spec in schema.per_diff:
        for d in range(schema.num_diffs):
            pivots.append(
                f"max(CASE WHEN slot = {d + 1} THEN {pd_exprs[spec.name]} END) "
                f"AS pd_{spec.name}_{d}"
            )
    pivot_sql = ",\n         ".join(pivots)

    # --- per-entity feature expressions over feat columns, keyed by
    # spec name; rank specs are handled as rank branches in the walk
    vendors = ", ".join(f"'{v}'" for v in sorted(res.iab_vendors))
    pe_exprs: dict[str, list[str]] = {
        "iab_vendor": [f"CASE WHEN udom IN ({vendors}) THEN 1.0 END"],
        "domain_period": ["CASE WHEN starts_with(domain, '.') THEN 1.0 END"],
        "host_only": ["e_host_only"],
        "third_party": ["CASE WHEN NOT contains('shop.example.com', udom) THEN 1.0 END"],
        "non_root_path": ["CASE WHEN trim(path) <> '/' THEN 1.0 END"],
        "update_count": ["update_count"],
        "http_only_changed": ["chg_http_only"],
        "secure_changed": ["chg_secure"],
        "same_site_changed": ["chg_same_site"],
        "session_changed": ["chg_session"],
        "content_changed": ["chg_content"],
        "expiry_changed": ["chg_expiry"],
        "levenshtein_total": ["lev_mean", "lev_std"],
        "contlength_total": ["cl_mean", "cl_std"],
        "entropy_total": ["ent_mean", "ent_std"],
    }
    rank_cols = {"top_names": "tn_rank", "top_domains": "td_rank"}

    # --- ordered sparse assembly: same declaration walk as
    # compile_features' Block list → guaranteed offset alignment
    branches: list[str] = []
    base = 0
    for spec in schema.per_entity:
        if spec.name in RANK_FEATURES:
            rc = rank_cols[spec.name]
            branches.append(
                f"SELECT entity_id, {base} + {rc} AS fidx, 1.0 AS val "
                f"FROM feat WHERE {rc} IS NOT NULL"
            )
        else:
            exprs = pe_exprs[spec.name]
            assert len(exprs) == spec.vector_size, spec.name
            for i, e in enumerate(exprs):
                branches.append(
                    f"SELECT entity_id, {base + i} AS fidx, CAST({e} AS DOUBLE) AS val "
                    f"FROM feat WHERE ({e}) IS NOT NULL"
                )
        base += spec.vector_size
    for spec in schema.per_update:
        for u in range(schema.num_updates):
            for i in range(spec.vector_size):
                c = f"pu_{spec.name}_{u}_{i}"
                branches.append(
                    f"SELECT entity_id, {base + i} AS fidx, CAST({c} AS DOUBLE) AS val "
                    f"FROM feat WHERE {c} IS NOT NULL"
                )
            base += spec.vector_size
    for spec in schema.per_diff:
        for d in range(schema.num_diffs):
            c = f"pd_{spec.name}_{d}"
            branches.append(
                f"SELECT entity_id, {base} AS fidx, CAST({c} AS DOUBLE) AS val "
                f"FROM feat WHERE {c} IS NOT NULL"
            )
            base += spec.vector_size
    assert base == schema.total_width, (base, schema.total_width)
    coo_sql = "\n  UNION ALL\n  ".join(branches)

    tn_vals = ", ".join(f"('{k}', {i})" for i, k in enumerate(res.top_names))
    td_vals = ", ".join(f"('{k}', {i})" for i, k in enumerate(res.top_domains))
    udom = (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "trim(domain), '^http(s)?://', ''), '^www([0-9])?', ''), "
        r"'^\.', ''), '/$', '')"
    )

    return f"""
WITH src AS ({src}),
filt AS (SELECT *, {dec_chain} AS dec FROM src WHERE label BETWEEN 0 AND 3),
win AS (
  SELECT *,
         row_number() OVER w - 1 AS slot,
         row_number() OVER w AS rn,
         lag(value) OVER w AS prev_value,
         lag(expiry) OVER w AS prev_expiry,
         lag(http_only) OVER w AS prev_http_only,
         lag(secure) OVER w AS prev_secure,
         lag(same_site) OVER w AS prev_same_site,
         lag(session) OVER w AS prev_session,
         CAST(expiry - lag(expiry) OVER w AS DOUBLE) AS d_time_difference,
         CASE WHEN lag(value) OVER w IS NOT NULL
              THEN CAST(levenshtein(lag(value) OVER w, value) AS DOUBLE) END AS d_lev,
         CAST(strlen(value) AS DOUBLE) AS byte_len,
         CASE WHEN dec = '' THEN 0.0
              ELSE list_aggregate(string_split(dec, ''), 'entropy') END AS ent_val,
         lower(coalesce(regexp_extract(dec, '{REF_UUID}', 1), '')) AS uuid_ver
  FROM filt WINDOW w AS (PARTITION BY entity_id ORDER BY ts, update_idx)
),
ent AS (
  SELECT entity_id,
         min(name) AS name, min(domain) AS domain, min(path) AS path,
         min(label) AS label,
         CAST(count(*) AS DOUBLE) AS update_count,
         {chg("http_only")} AS chg_http_only,
         {chg("secure")} AS chg_secure,
         {chg("same_site")} AS chg_same_site,
         {chg("session")} AS chg_session,
         {chg("value")} AS chg_content,
         CASE WHEN max(CASE WHEN abs(expiry - prev_expiry) >= 86400 THEN 1 ELSE 0 END) = 1
              THEN 1.0 END AS chg_expiry,
         CASE WHEN max(CASE WHEN rn = 1 AND host_only THEN 1 ELSE 0 END) = 1
              THEN 1.0 END AS e_host_only,
         coalesce(avg(d_lev), -1.0) AS lev_mean,
         coalesce(stddev_samp(d_lev), -1.0) AS lev_std,
         coalesce(avg(byte_len), -1.0) AS cl_mean,
         coalesce(stddev_samp(byte_len), -1.0) AS cl_std,
         coalesce(avg(ent_val), -1.0) AS ent_mean,
         coalesce(stddev_samp(ent_val), -1.0) AS ent_std,
         {pivot_sql}
  FROM win GROUP BY entity_id
),
entu AS (SELECT *, {udom} AS udom FROM ent),
feat AS (
  SELECT e.*, tn.tn_rank, td.td_rank
  FROM entu e
  LEFT JOIN (VALUES {tn_vals}) AS tn(tn_name, tn_rank) ON e.name = tn.tn_name
  LEFT JOIN (VALUES {td_vals}) AS td(td_dom, td_rank) ON e.udom = td.td_dom
),
coo AS (
  {coo_sql}
),
wts AS (
  SELECT label, (SELECT count(*) FROM feat) * 1.0 / count(*) AS weight
  FROM feat GROUP BY label
)
SELECT c.entity_id,
       CAST(row_number() OVER (PARTITION BY c.entity_id ORDER BY c.fidx) - 1 AS INT) AS pos,
       CAST(c.fidx AS INT) AS fidx,
       round(c.val, 4) AS val,
       f.label,
       round(w.weight, 6) AS weight
FROM coo c
JOIN feat f ON f.entity_id = c.entity_id
JOIN wts w ON w.label = f.label
"""


@_q("cookie_feature_pipeline", _pipeline_oracle_sql())
def q_cookie_feature_pipeline(spark, sf_dir):
    """END-TO-END oracled pipeline: the real compile_features +
    assemble_sparse over compiler.native_schema (the SQL-expressible
    sub-schema — identical specs/builders/widths/assembly as the full
    schema, minus kernel/regex-list/difflib features) on the
    events-derived cookie table. The DuckDB twin replays every stage:
    label filter, per-update ±1 / expiry-bucket exprs, lag window,
    single-groupBy slot pivots + change flags + mean/std aggregates,
    uniform-domain normalization, top-name/top-domain rank joins,
    IAB-vendor membership, ordered sparse assembly, and
    inverse-class-frequency weights. Long-form output (posexplode)
    hash-pins the ORDER of the assembled (indices, values) arrays.
    Full-width extraction stays pinned by cookie_pipeline_fullwidth +
    golden parity (tests/test_golden_reference.py)."""
    from cookieblock_consent_classifier_spark.plans.compiler import (
        compile_features, native_schema,
    )
    from cookieblock_consent_classifier_spark.sources.readers import (
        cookie_updates_from_events,
    )
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

    res = fixture_resources()
    key = ("cookie_pipeline_native", id(spark), sf_dir)
    cached = _PLAN_CACHE.get(key)
    if cached is None:
        # fan out on the EXACT expression the adapter aliases to
        # entity_id (cast(user_id as string)): ProjectExec's alias-
        # aware output partitioning then rewrites the exchange's
        # partitioning to entity_id, so the compile_features window
        # adds no second exchange and the adapter's md5-derivation
        # projection plus every stage-0 expression runs post-shuffle
        # on all cores instead of inside the single scan task
        ev = _fanout(
            _t(spark, sf_dir, "events"), F.col("user_id").cast("string")
        )
        src = cookie_updates_from_events(ev)
        cached = compile_features(src, native_schema(res, num_updates=2, num_diffs=2), res)
        _PLAN_CACHE[key] = cached
    wide, _names = cached
    return wide.select(
        "entity_id", "label", F.round("weight", 6).alias("weight"),
        F.posexplode(F.arrays_zip("indices", "values")),
    ).select(
        "entity_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("col.indices").alias("fidx"),
        F.round(F.col("col.values"), 4).alias("val"),
        "label",
        "weight",
    )


# ---- hyperparameter search dataflow (train_xgb.py:460-476 analogue:
# GridSearchCV / RandomizedSearchCV over CV folds, with the pluggable
# deterministic scorer standing in for the GBDT) -----------------------

# integer weights → every FP op (float32→double, dot, /temp, +shift·c)
# is bit-identical in Spark and DuckDB, so argmax ties and accuracies
# compare value-exact
_SEARCH_W = [[((j * 31 + c * 17) % 7) - 3 for j in range(64)] for c in range(4)]
_SEARCH_GRID = {"temp": [1.0, 2.0], "shift": [0.0, 0.25]}


def _search_sql(combos: list[dict]) -> str:
    ws = {c: "[" + ",".join(str(x) for x in _SEARCH_W[c]) + "]" for c in range(4)}
    values = ", ".join(
        f"({i}, {c['temp']}, {c['shift']})" for i, c in enumerate(combos)
    )
    score = {c: f"(list_dot_product(embedding::DOUBLE[], {ws[c]}) / p.temp + p.shift * {c})"
             for c in range(4)}
    return f"""
    WITH base AS (
      SELECT label,
             CAST('0x' || substr(md5(vec_id::VARCHAR), 1, 15) AS BIGINT) % 5 AS fold,
             embedding
      FROM embeddings
    ), params(param_id, temp, shift) AS (VALUES {values}),
    scored AS (
      SELECT b.label, b.fold, p.param_id, p.temp, p.shift,
             CASE
               WHEN {score[0]} >= {score[1]} AND {score[0]} >= {score[2]} AND {score[0]} >= {score[3]} THEN 0
               WHEN {score[1]} >= {score[2]} AND {score[1]} >= {score[3]} THEN 1
               WHEN {score[2]} >= {score[3]} THEN 2
               ELSE 3
             END AS pred
      FROM base b CROSS JOIN params p
    )
    SELECT param_id, temp, shift, fold,
           count(*)::BIGINT AS n,
           round(avg(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END), 6) AS accuracy
    FROM scored GROUP BY param_id, temp, shift, fold
    """


def _search_scorer(params: dict) -> list:
    """Per-class margins: similarity.dot against the class weights,
    given as ONE SQL array literal per class. The Column-API array(lit,
    ...) marshalled each of the 64 weight literals through its own py4j
    round trip — profiled at 1.0s of the 1.45s grid_search_cv construct
    (5,871 round trips). Weights must be ints, so the D literals are
    exact and equal the DuckDB twin's; a fractional weight raises
    rather than being truncated on one side only."""
    out = []
    for c in range(4):
        if any(x != int(x) for x in _SEARCH_W[c]):
            raise ValueError(f"class {c} search weights are not integral")
        w = F.expr("array(" + ",".join(f"{int(x)}D" for x in _SEARCH_W[c]) + ")")
        out.append(
            similarity.dot(F.col("embedding"), w) / F.lit(params["temp"])
            + F.lit(params["shift"] * c)
        )
    return out


@_q("grid_search_cv", _search_sql(search_ops.expand_grid(_SEARCH_GRID)))
def q_grid_search_cv(spark, sf_dir):
    """Grid search over deterministic hash folds: one scan scores every
    parameter combination, one aggregation yields per-(combo, fold)
    accuracy (train_xgb.py:460-470 GridSearchCV dataflow)."""
    emb = _fanout(_t(spark, sf_dir, "embeddings"), "vec_id")
    res = search_ops.grid_search(
        emb, _search_scorer, _SEARCH_GRID, label_col="label",
        id_col="vec_id", num_folds=5,
    )
    return res.select("param_id", "temp", "shift", "fold", "n", "accuracy")


_SEARCH_GRID_BIG = {"temp": [0.5, 1.0, 2.0, 4.0], "shift": [0.0, 0.25, 0.5]}
_SEARCH_SAMPLED = search_ops.sample_grid(search_ops.expand_grid(_SEARCH_GRID_BIG), 4, seed=11)


@_q(
    "random_search_best",
    f"""
    WITH per_fold AS ({_search_sql(_SEARCH_SAMPLED)})
    SELECT param_id, temp, shift,
           round(avg(accuracy), 6) AS mean_accuracy,
           row_number() OVER (ORDER BY round(avg(accuracy), 6) DESC, param_id) AS rank
    FROM per_fold GROUP BY param_id, temp, shift
    """,
)
def q_random_search_best(spark, sf_dir):
    """Random search (deterministic md5-ranked subsample of a 12-combo
    grid, RandomizedSearchCV analogue) + best-parameter ranking by
    mean CV accuracy (train_xgb.py:472-476)."""
    emb = _fanout(_t(spark, sf_dir, "embeddings"), "vec_id")
    res = search_ops.grid_search(
        emb, _search_scorer, _SEARCH_GRID_BIG, label_col="label",
        id_col="vec_id", num_folds=5, n_iter=4, seed=11,
    )
    return search_ops.best_params(res, ["temp", "shift"]).select(
        "param_id", "temp", "shift", "mean_accuracy", "rank"
    )


@_q("ann_ivf_refined_topk")  # Lloyd-refined routing: approximate; rows-only
def q_ann_ivf_refined_topk(spark, sf_dir):
    """IVF ANN with Lloyd-refined centroids (similarity.ivf_refine):
    same nprobe probing, better-centered cells. Objective monotonicity
    and bit-determinism pinned in tests."""
    emb = _t(spark, sf_dir, "embeddings")
    base = similarity.deterministic_centroids(emb, 8)
    refined = similarity.ivf_refine(emb, base, dim=64, iters=1)
    return similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), refined,
                               k=5, nprobe=2)


@_q("cookie_pipeline_fullwidth")  # golden-parity surface: no SQL twin
def q_cookie_pipeline_fullwidth(spark, sf_dir):
    """Full-declared-width extraction: the reference's REAL
    features.json + resources (500/500/50/500/50 banks → 1,689 slots)
    through sources/config.load_features_config, over the synthetic
    cookie-update table. Values at this exact config are pinned
    numpy-allclose against the real reference extractor in
    tests/test_golden_reference.py; wall-cost vs fixture width in
    scripts/bench_fullwidth.py (0.92×)."""
    from cookieblock_consent_classifier_spark.plans.compiler import compile_features
    from cookieblock_consent_classifier_spark.sources.config import load_features_config
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    key = ("cookie_pipeline_fullwidth", id(spark))
    cached = _PLAN_CACHE.get(key)
    if cached is None:
        schema, res = load_features_config(
            "/root/reference/feature_extraction/features.json",
            base_dir="/root/reference",
        )
        df = synth_cookie_updates(spark, num_entities=500, updates_per_entity=3)
        cached = compile_features(df, schema, res)
        _PLAN_CACHE[key] = cached
    wide, names = cached
    return wide.select(
        "entity_id",
        F.size("indices").alias("nnz"),
        F.round(
            F.aggregate("values", F.lit(0.0), lambda a, v: a + F.abs(v)), 4
        ).alias("l1_norm"),
        "label",
        F.round("weight", 6).alias("weight"),
    )


@_q("ann_ivf_topk")  # IVF routing: approximate by design; rows-only
def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbors: deterministic centroid
    sample -> inverted-list assignment -> nprobe-cell probing (the
    partition-pruned scale path; exactness-vs-bruteforce pinned in
    tests with nprobe == num_cells)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.deterministic_centroids(emb, 8)
    out = similarity.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), cents,
                              k=5, nprobe=2)
    return out.select("query_id", "neighbor_id", "cos_sim", "rank")


@_q("audio_pipeline")  # synthesized binary payloads: no SQL twin
def q_audio_pipeline(spark, sf_dir):
    """Multimodal audio leg: deterministic PCM-16 WAV payloads (REAL
    RIFF container, stdlib codec) → Arrow-batched decode + quality
    features (duration/RMS/peak/zero-crossing/clip ratio) → quality
    filter. functions/audio.py; mirrors the image pipeline shape."""
    from cookieblock_consent_classifier_spark.functions import audio as A

    ids = spark.range(200).select(
        F.concat(F.lit("au"), F.col("id")).alias("audio_id")
    )
    waves = ids.withColumn("bytes", A.synth_wav_udf(F.col("audio_id")))
    feats = A.extract_audio_features(waves)
    return feats.filter(F.col("rms") > 0.1).select(
        "audio_id", F.round("duration_s", 6).alias("duration_s"),
        "sample_rate", "channels",
        F.round("rms", 6).alias("rms"), F.round("zcr", 6).alias("zcr"),
    )


@_q("image_pipeline")  # synthesized binary payloads: no SQL twin
def q_image_pipeline(spark, sf_dir):
    """north-rule image+caption pipeline on the synthesized table:
    decode (stub codec) → phash == stored phash check → per-entity
    phash delta + caption levenshtein delta + sessionization."""
    from cookieblock_consent_classifier_spark.functions import image as I
    from cookieblock_consent_classifier_spark.sources.synth import synth_image_updates

    im = synth_image_updates(spark, num_entities=40, updates_per_entity=4,
                             hot_entities=2, hot_updates=32)
    im = I.with_phash_delta(im)
    w = Window.partitionBy("image_id").orderBy("ts")
    im = im.withColumn("caption_lev", F.levenshtein(F.lag("caption").over(w), F.col("caption")))
    im = temporal.sessionize(im, "image_id", "ts", 1800)
    return im.select(
        "image_id",
        F.col("update_idx"),
        "phash_delta",
        "caption_lev",
        "session_id",
        (I.phash_from_bytes("bytes") == F.col("phash")).alias("phash_ok"),
    )


# =====================================================================
# driver contract
# =====================================================================

@_q(
    "session_window_agg",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6 >= 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id,
           min(epoch_us(ts)) AS session_start_us,
           count(*)::BIGINT AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def q_session_window_agg(spark, sf_dir):
    """F.session_window gap sessions (the streaming-native operator,
    streaming/sessionize.py, run in batch mode). NB session_window's
    window end is EXCLUSIVE: an event at exactly prev+gap starts a NEW
    session (>= in the oracle), unlike the lag-based batch sessionize
    (> gap keeps it in-session) — both semantics are oracle-pinned."""
    from cookieblock_consent_classifier_spark.streaming.sessionize import streaming_sessionize

    ev = _t(spark, sf_dir, "events")
    out = streaming_sessionize(ev, "user_id", "ts", 1800, watermark="365 days")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start")).alias("session_start_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_GBDT_DUMP_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "cookieblock_consent_classifier_spark", "data", "gbdt_dump_sf001.json",
)

# Oracles whose SQL embeds an artifact frozen at ONE scale factor.
# The driver's correctness gate always runs at sf0.01 (TESTDATA.md);
# local tooling (scripts/check_oracles.py) consults this map and
# treats such queries as rows-only at any OTHER sf_dir — live
# training on different data legitimately yields a different model,
# which would otherwise read as a spurious value mismatch.
ORACLE_SF_PINNED: dict[str, str] = {"gbdt_train_score": "sf0.01"}


def gbdt_train_rows_and_dump(spark, sf_dir):
    """The ONE training-input + params definition shared by the
    driver query, the freeze script (scripts/freeze_gbdt_dump.py),
    and the determinism pin (tests/test_gbdt.py) — so the frozen
    oracle artifact cannot drift from what the query trains."""
    from cookieblock_consent_classifier_spark.operators import gbdt

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    rows = emb.select(
        F.col("vec_id").alias("row_id"),
        F.sequence(F.lit(0), F.lit(dim - 1)).cast("array<int>").alias("indices"),
        F.col("embedding").cast("array<double>").alias("values"),
        F.pmod("label", F.lit(4)).cast("int").alias("label"),
    ).localCheckpoint(eager=True)
    dump = gbdt.train_gbdt(
        rows, gbdt.GBDTParams(num_rounds=2, max_depth=2, n_bins=8)
    )
    return rows, dump


def _gbdt_oracle_sql() -> str | None:
    """DuckDB twin for ``gbdt_train_score``: scores the FROZEN
    reference dump (scripts/freeze_gbdt_dump.py — the byte-exact
    artifact the deterministic trainer reproduces at sf0.01, pinned
    in tests/test_gbdt.py) through generated CASE trees
    (xgb.forest_margin_sql: same literals, same branch order), then
    replays the plain-exp softmax, the EQUAL_LOSS bayesian decision
    (left-to-right d-sums, <=-chain first-min — the proven
    predict_histogram pattern), and the 0..3-left-joined histogram.
    The oracle is INDEPENDENT of the live run: if training ever
    drifts from the frozen dump, predictions shift and the value
    hash catches it."""
    try:
        with open(_GBDT_DUMP_PATH, encoding="utf-8") as fd:
            dump = json.load(fd)
    except (FileNotFoundError, ValueError):
        # pre-freeze bootstrap OR a corrupt/truncated artifact: degrade
        # this one query to rows-only instead of failing the whole
        # driver module at import (the decorator arg runs at load).
        return None
    from cookieblock_consent_classifier_spark import xgb

    forests = xgb.class_forests_full(dump)
    margins = xgb.forest_margin_sql(
        forests, lambda i: f"CAST(embedding[{i + 1}] AS DOUBLE)"
    )
    m_cols = ",\n         ".join(f"{m} AS m{j}" for j, m in enumerate(margins))
    # first-max MARGIN argmax, not an exp-softmax bayes replay: under
    # EQUAL_LOSS the two are identical tie-for-tie (softmax is strictly
    # monotone; search.argmax_class breaks ties to the lowest class,
    # like the equal-loss argmin), and margins are exact
    # doubles in BOTH engines (identical literals, left-assoc sums)
    # while exp() may differ by 1 ulp across engines — the proven
    # bayes_decision/xgb_pred pattern.
    return f"""
WITH s AS (
  -- ((x % 4) + 4) % 4 mirrors Spark's F.pmod for negative labels
  -- (DuckDB's % keeps the dividend sign; pmod is always >= 0)
  SELECT CAST(((label % 4) + 4) % 4 AS INT) AS label, embedding
  FROM embeddings
), m AS (
  SELECT label,
         {m_cols}
  FROM s
), p AS (
  SELECT label,
         CASE WHEN m0 >= m1 AND m0 >= m2 AND m0 >= m3 THEN 0
              WHEN m1 >= m2 AND m1 >= m3 THEN 1
              WHEN m2 >= m3 THEN 2 ELSE 3 END AS predicted_label
  FROM m
), h AS (
  SELECT predicted_label, count(*)::BIGINT AS n,
         round(avg(CASE WHEN label = predicted_label THEN 1.0 ELSE 0.0 END), 6)
           AS class_precision
  FROM p GROUP BY predicted_label
)
SELECT l.predicted_label,
       coalesce(h.n, 0)::BIGINT AS n,
       coalesce(h.class_precision, -1.0) AS class_precision
FROM (VALUES (0), (1), (2), (3)) AS l(predicted_label)
LEFT JOIN h USING (predicted_label)
"""


@_q("gbdt_train_score", _gbdt_oracle_sql())
def q_gbdt_train_score(spark, sf_dir):
    """train → dump → score in one engine (operators/gbdt.py +
    xgb.py, no GBDT library): fit a small boosted forest on the
    embeddings table (components as sparse features, label % 4 as
    class), emit the reference-format dump, score it back with the
    native dump scorer, return the per-class prediction histogram
    with per-class accuracy. Training is RUN-DETERMINISTIC (decimal
    histogram sums + stable tie-break, gbdt.py; byte-equal dump
    pinned in tests/test_gbdt.py), so since round 5 the query is
    VALUE-GATED: the DuckDB twin (_gbdt_oracle_sql) independently
    scores the frozen sf0.01 dump artifact that this live training
    run must reproduce — any trainer drift breaks the hash. The
    output left-joins a literal 0..3 label frame so the 4-row shape
    is stable (a class absent from predictions shows n=0)."""
    from cookieblock_consent_classifier_spark import predict as P, xgb

    # sf_dir is part of the key: the training input (and so the
    # trained model) is sf-dependent, unlike the synthetic-input
    # pipelines below
    key = ("gbdt_train_score", id(spark), sf_dir)
    cached = _PLAN_CACHE.get(key)
    if cached is None:
        rows, dump = gbdt_train_rows_and_dump(spark, sf_dir)
        xgb.validate_full_dump(dump)
        scored = P.predict(rows, score_fn=xgb.dump_score_fn(dump), loss=P.EQUAL_LOSS)
        hist = scored.groupBy("predicted_label").agg(
            F.count("*").alias("n_pred"),
            F.round(
                F.avg((F.col("predicted_label") == F.col("label")).cast("double")), 6
            ).alias("class_precision"),
        )
        all_labels = spark.range(4).select(F.col("id").cast("int").alias("predicted_label"))
        cached = all_labels.join(F.broadcast(hist), "predicted_label", "left").select(
            "predicted_label",
            F.coalesce("n_pred", F.lit(0)).alias("n"),
            F.coalesce("class_precision", F.lit(-1.0)).alias("class_precision"),
        )
        _PLAN_CACHE[key] = cached
    return cached


@_q("predict_pipeline")  # synthetic input + fixture model: rows-only
def q_predict_pipeline(spark, sf_dir):
    """inference dataflow (predict_class.py analogue): no-filter
    extraction -> dump-compiled XGB scorer (xgb.py over the fixture
    tree dump; scorer semantics value-gated via the bayes_decision
    oracle and golden-pinned in tests/test_xgb.py) -> equal-loss
    bayesian decision (predict_class.py:135)."""
    from cookieblock_consent_classifier_spark import predict as P, xgb
    from cookieblock_consent_classifier_spark.plans.compiler import (
        compile_features, default_schema,
    )
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    res = fixture_resources()
    key = ("predict_pipeline", id(spark))
    cached = _PLAN_CACHE.get(key)
    if cached is None:
        df = synth_cookie_updates(spark, num_entities=300, updates_per_entity=3)
        wide, _ = compile_features(df, default_schema(res), res, training=False)
        cached = P.predict(
            wide, score_fn=xgb.dump_score_fn(xgb.fixture_dump()), loss=P.EQUAL_LOSS
        )
        _PLAN_CACHE[key] = cached
    return cached.select(
        "entity_id", "predicted_label",
        F.round(F.element_at("probs", 1), 6).alias("p0"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: composite per-entity feature extraction over
    sf0.001 events — sessionize + as-of order state + lag diffs +
    per-entity aggregates, one shared (entity, ts) shuffle."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")

    enriched = asof.asof_join(
        ev, orders, on="user_id", fact_ts="ts", dim_ts="o_orderdate",
        payload=["o_orderkey"], dim_order=["o_orderkey"],
    )
    enriched = temporal.sessionize(enriched, "user_id", "ts", 1800, order_tiebreak=["event_id"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    enriched = enriched.withColumn("lev", F.levenshtein(F.lag("props").over(w), F.col("props")))
    gap = (_us("ts") - F.lag(_us("ts")).over(w)) / F.lit(1e6)
    enriched = enriched.withColumn("gap_s", gap)

    return enriched.groupBy("user_id").agg(
        F.count("*").alias("n_updates"),
        (F.max("session_id") + 1).alias("n_sessions"),
        F.round(F.coalesce(F.avg("gap_s"), F.lit(-1.0)), 4).alias("gap_mean"),
        F.round(F.coalesce(F.avg("lev"), F.lit(-1.0)), 4).alias("lev_mean"),
        F.coalesce(temporal.flag_changed("event_type", "user_id", ["ts"]), F.lit(0.0)).alias("type_changed"),
        F.max("o_orderkey_asof").alias("last_orderkey_asof"),
    )


# Rows-only pipelines that must land inside the driver's 50-entry
# correctness snapshot (it records the FIRST 50 queries): the flagship
# feature pipelines and the north-rule image+caption pipeline.
_PINNED_ROWS_ONLY = (
    # cookie_feature_pipeline moved OUT of this list in round 5: it is
    # now oracle-bearing (native sub-schema + full DuckDB twin), so it
    # rides the oracle block of the snapshot instead (VERDICT r4 item 1
    # — swap the pin, don't add a 51st entry).
    "cookie_pipeline_fullwidth",
    "image_pipeline",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order decides which queries the driver snapshots
    # (first 50): every oracle-bearing query first (value-exact gate),
    # then the pinned rows-only pipelines, then the remaining
    # rows-only surfaces (their semantics are pinned by pytest units /
    # golden parity instead).
    ordered = [n for n in _QUERIES if n in _ORACLES]
    ordered += [n for n in _PINNED_ROWS_ONLY if n in _QUERIES and n not in ordered]
    # HARD invariant (tested): every oracle-bearing query AND every
    # pinned pipeline must fit the snapshot — adding a 48th oracle
    # query would silently evict a pinned pipeline otherwise
    assert len(ordered) <= 50, (
        f"{len(ordered)} oracle+pinned queries exceed the driver's "
        "50-entry correctness snapshot: fold an oracle surface before "
        "registering a new one (see VERDICT round-2 item 1)"
    )
    ordered += [n for n in _QUERIES if n not in set(ordered)]
    return {n: _QUERIES[n] for n in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for queries(). Contract for external gates: any
    query named in ``ORACLE_SF_PINNED`` embeds an artifact frozen at
    that one scale factor (the driver gate's sf0.01) — when comparing
    at a DIFFERENT sf_dir, treat it as rows-only the way
    scripts/check_oracles.py does, or the legitimately different
    live-trained model reads as a spurious value mismatch."""
    return dict(_ORACLES)
