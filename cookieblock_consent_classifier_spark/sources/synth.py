"""Deterministic synthetic north-rule tables (FIXTURES.md §2-3).

Generated DISTRIBUTED (spark.range → native expressions + the codec
pandas UDF), never driver-side loops — the same generator scales from
the 1k-row test fixture to a 10^9-row bench corpus by changing one
parameter. Fixed seed, no wall clock, no randomness outside
hash-derived pseudo-randoms → byte-identical across runs and cluster
sizes (resumability requirement).

Shape per BASELINE.json input_hint:
  images(image_id string, ts timestamp, bytes binary, w int, h int,
         fmt string, caption string, phash int64)
  labels(image_id string, effective_ts timestamp, label int)
Includes hot entities (skew), session-gap boundaries, and label
changes before/between/after update windows (leakage probes).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from cookieblock_consent_classifier_spark.functions.image import (
    average_phash,
    decode_image,
    encode_image,
    synth_pixels,
)

EPOCH0 = 1700000000  # fixed anchor (2023-11-14 UTC); no wall clock
GAP_SECONDS = 1800  # sessionization gap used by fixtures/tests

_CAPTION_WORDS = [
    "sunset", "harbor", "with", "boats", "red", "sky", "over", "the",
    "mountain", "lake", "forest", "bridge", "city", "night", "lights",
]


@pandas_udf(T.StructType([T.StructField("bytes", T.BinaryType()), T.StructField("phash", T.LongType())]))
def _image_udf(image_id: pd.Series, update_idx: pd.Series, w: pd.Series,
               h: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    # phash of the DECODED pixels (post-codec), so the stored column
    # satisfies the input_hint invariant phash == phash(decode(bytes))
    # for lossy formats too.
    encs = [
        encode_image(synth_pixels(iid, int(ui), int(ww), int(hh)), f)
        for iid, ui, ww, hh, f in zip(image_id, update_idx, w, h, fmt)
    ]
    return pd.DataFrame({"bytes": encs, "phash": [average_phash(decode_image(e)) for e in encs]})


def synth_image_updates(
    spark: SparkSession,
    num_entities: int = 100,
    updates_per_entity: int = 4,
    hot_entities: int = 2,
    hot_updates: int = 64,
) -> DataFrame:
    """One row per (image_id, update) of a 32x32 image, with its
    encoded ``bytes``. Entity i<hot_entities gets
    ``hot_updates`` updates (skew probe). Timestamps: base spacing 600s
    with every 3rd gap pushed past GAP_SECONDS (session boundaries,
    including one EXACTLY at the gap → must stay in-session)."""
    n_normal = num_entities * updates_per_entity
    n_hot = hot_entities * hot_updates
    rows = spark.range(n_normal + n_hot)
    is_hot = F.col("id") >= n_normal
    ent = F.when(is_hot, (F.col("id") - n_normal) / hot_updates + num_entities).otherwise(
        F.col("id") / updates_per_entity
    ).cast("long")
    upd = F.when(is_hot, (F.col("id") - n_normal) % hot_updates).otherwise(
        F.col("id") % updates_per_entity
    ).cast("int")

    # deterministic per-update timestamp offsets: 600s steps; every 3rd
    # step widened — one to exactly GAP_SECONDS (boundary: same
    # session), others to GAP_SECONDS+60 (new session).
    step = (
        F.when(upd == 0, F.lit(0))
        .when(upd % 3 == 0, F.lit(GAP_SECONDS + 60))
        .when(upd % 7 == 2, F.lit(GAP_SECONDS))  # exact-gap boundary case
        .otherwise(F.lit(600))
    )
    # cumulative offset per update index is deterministic in upd alone
    # for the fixed pattern; compute via a small closed-form sum using
    # sequence+aggregate (native, no window shuffle needed).
    offs = F.aggregate(
        F.sequence(F.lit(0), upd),
        F.lit(0),
        lambda acc, i: acc
        + F.when(i == 0, 0)
        .when(i % 3 == 0, GAP_SECONDS + 60)
        .when(i % 7 == 2, GAP_SECONDS)
        .otherwise(600),
    )
    ts = F.timestamp_seconds(F.lit(EPOCH0) + ent * 86400 + offs)

    cap_idx = F.pmod(F.xxhash64(ent.cast("string"), upd.cast("string")), F.lit(len(_CAPTION_WORDS)))
    words = F.array(*[F.lit(w) for w in _CAPTION_WORDS])
    caption = F.concat_ws(
        " ",
        F.element_at(words, (F.pmod(ent, F.lit(len(_CAPTION_WORDS))) + 1).cast("int")),
        F.element_at(words, (cap_idx + 1).cast("int")),
        F.element_at(words, (F.pmod(cap_idx + upd.cast("long"), F.lit(len(_CAPTION_WORDS))) + 1).cast("int")),
    )
    fmt = F.when(F.pmod(ent, F.lit(2)) == 0, F.lit("png")).otherwise(F.lit("jpeg"))

    df = (
        rows.select(
            F.concat(F.lit("img_"), F.lpad(ent.cast("string"), 8, "0")).alias("image_id"),
            ts.alias("ts"),
            F.lit(32).alias("w"),
            F.lit(32).alias("h"),
            fmt.alias("fmt"),
            caption.alias("caption"),
            upd.alias("update_idx"),
        )
    )
    df = df.withColumn("__img", _image_udf("image_id", "update_idx", "w", "h", "fmt"))
    return df.select(
        "image_id", "ts", "__img.bytes", "w", "h", "fmt", "caption", "__img.phash", "update_idx"
    )


def synth_cookie_updates(
    spark: SparkSession,
    num_entities: int = 1000,
    updates_per_entity: int = 3,
) -> DataFrame:
    """Deterministic long-format cookie-update table
    (COOKIE_UPDATE_SCHEMA shape) generated distributed via
    spark.range + native expressions — value payloads cycle through
    the content kinds the feature extractor must discriminate (JSON,
    base64-ish, CSV, hex, uuid-shaped, url-encoded, plain, empty)."""
    n = num_entities * updates_per_entity
    rows = spark.range(n)
    ent = (F.col("id") / updates_per_entity).cast("long")
    upd = F.pmod(F.col("id"), F.lit(updates_per_entity)).cast("int")
    h = F.md5(F.concat(ent.cast("string"), F.lit(":"), upd.cast("string")))
    kind = F.pmod(F.xxhash64(h), F.lit(8))

    value = (
        F.when(kind == 0, F.concat(F.lit('{"uid": '), F.pmod(F.xxhash64(ent), F.lit(10000)).cast("string"),
                                   F.lit(', "consent": true}')))
        .when(kind == 1, F.base64(F.encode(h, "utf-8")))
        .when(kind == 2, F.concat_ws(",", F.substring(h, 1, 4), F.substring(h, 5, 4),
                                     F.substring(h, 9, 4), F.substring(h, 13, 4)))
        .when(kind == 3, F.substring(h, 1, 16))  # hex
        .when(kind == 4, F.concat_ws("-", F.substring(h, 1, 8), F.substring(h, 9, 4),
                                     F.substring(h, 13, 4), F.substring(h, 17, 4), F.substring(h, 21, 12)))
        .when(kind == 5, F.concat(F.lit("value%20"), F.substring(h, 1, 6)))
        .when(kind == 6, F.lit(""))
        .otherwise(F.concat(F.lit("plain "), F.substring(h, 1, 10)))
    )
    expiry = F.pmod(F.xxhash64(h, F.lit(1)), F.lit(60000000)).cast("long")
    flag = lambda salt: F.pmod(F.xxhash64(h, F.lit(salt)), F.lit(2)) == 0  # noqa: E731
    same_site = (
        F.when(F.pmod(F.xxhash64(h, F.lit(9)), F.lit(3)) == 0, F.lit("no_restriction"))
        .when(F.pmod(F.xxhash64(h, F.lit(9)), F.lit(3)) == 1, F.lit("lax"))
        .otherwise(F.lit("strict"))
    )
    name = F.concat(F.lit("cookie_"), F.pmod(ent, F.lit(37)).cast("string"))
    domain = F.concat(F.lit("cdn"), F.pmod(ent, F.lit(11)).cast("string"), F.lit(".example-ads.com"))

    return rows.select(
        F.concat(F.lit("ck_"), F.lpad(ent.cast("string"), 10, "0")).alias("entity_id"),
        F.timestamp_seconds(F.lit(EPOCH0) + ent * 3600 + upd.cast("long") * 600).alias("ts"),
        name.alias("name"),
        domain.alias("domain"),
        F.when(F.pmod(ent, F.lit(5)) == 0, F.lit("/app")).otherwise(F.lit("/")).alias("path"),
        F.lit("shop.example.com").alias("first_party_domain"),
        F.pmod(ent, F.lit(5)).cast("int").alias("label"),  # label 4 rows get filtered
        F.lit(0).alias("cmp_origin"),
        upd.alias("update_idx"),
        value.alias("value"),
        expiry.alias("expiry"),
        flag(2).alias("session"),
        flag(3).alias("http_only"),
        flag(4).alias("host_only"),
        flag(5).alias("secure"),
        same_site.alias("same_site"),
    )


def synth_label_dim(spark: SparkSession, num_entities: int = 102) -> DataFrame:
    """As-of label dimension with leakage probes: per entity, labels
    effective before its first update, mid-window, and AFTER its last
    update (the last must never be attached)."""
    base = spark.range(num_entities)
    ent_id = F.concat(F.lit("img_"), F.lpad(F.col("id").cast("string"), 8, "0"))
    day0 = F.lit(EPOCH0) + F.col("id") * 86400
    rows = base.select(
        ent_id.alias("image_id"),
        F.array(
            F.struct(F.timestamp_seconds(day0 - 3600).alias("effective_ts"),
                     F.pmod(F.col("id"), F.lit(4)).cast("int").alias("label")),
            F.struct(F.timestamp_seconds(day0 + 1200).alias("effective_ts"),
                     F.pmod(F.col("id") + 1, F.lit(4)).cast("int").alias("label")),
            F.struct(F.timestamp_seconds(day0 + 10 * 86400).alias("effective_ts"),
                     F.lit(99).cast("int").alias("label")),  # future: must never leak
        ).alias("updates"),
    )
    return rows.select(
        "image_id", F.explode("updates").alias("u")
    ).select("image_id", F.col("u.effective_ts").alias("effective_ts"), F.col("u.label").alias("label"))
