"""Readers: parquet/JSON entity-update tables + the driver testdata
star schema.

The reference loads N JSON files into one dict where later files win
on key collision (prepare_training_data.py:64-80). Our analogue is a
multi-path union + last-writer-wins dedupe (`union_latest_wins`) —
distributed, no driver-side dict.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# ---------------------------------------------------------------------------
# events → cookie-update adapter (engine-portable derivations)
# ---------------------------------------------------------------------------
# Shared constant maps: the Spark adapter below and the DuckDB oracle
# twin (__spark_entry__._pipeline_oracle_sql) are BOTH generated from
# these dicts, so the two sides cannot drift. Every derived column uses
# only the repo's cross-engine determinism conventions (md5 hex, CASE
# maps, hex→int64 via conv / CAST('0x'||h)).

# name is constant per entity (keyed on user_id % 7); the four named
# branches are members of fixture_resources().top_names so the
# broadcast rank join has real hits.
EVENTS_NAME_CASES: dict[int, str] = {
    0: "session-id", 1: "ga_visitor", 2: "track_cookie_3", 3: "consent-pref",
}
# domain (user_id % 5) exercises every uniform_domain rule: scheme
# strip, wwwN strip, leading-dot strip, trailing-slash strip — plus
# IAB-vendor membership, top-domain rank hits, and first/third party.
EVENTS_DOMAIN_CASES: dict[int, str] = {
    0: "www.example-ads.com",            # iab vendor after uniform
    1: "analytics.example.org",          # vendor + top_domains rank
    2: ".shop.example.com",              # domain_period + first-party
    3: "cdn5.example-ads.com",           # top_domains rank, third-party
    4: "https://www2.social-widgets.io/",  # full uniform_domain chain
}
# expiry keyed on md5 nibble 6: the eight named values sit EXACTLY on
# the reference's bucket boundaries (native.EXPIRY_BUCKETS) so the
# overlapping-boundary quirk (processor.py:1036-1050) is exercised on
# real pipeline rows; the other eight nibbles draw a pseudo-random
# expiry from 12 more md5 hex chars.
EVENTS_EXPIRY_CASES: dict[str, int] = {
    "0": 1800, "1": 3600, "2": 43200, "3": 86400,
    "4": 604800, "5": 2592000, "6": 15552000, "7": 46656000,
}
_HALF_NIBBLES = ("0", "1", "2", "3", "4", "5", "6", "7")

# value branches keyed on md5 nibble 19: the adapter's value domain
# exercises every decoded-content feature of native_schema on real
# pipeline rows — url-encoded JSON (py_unquote does real work;
# url_encoding fires +1), a unix-epoch 16xxxxxxxx string
# (timestamp_content), a canonical UUID with an md5-driven version
# nibble 0-7 (all six contains_uuid one-hot slots incl. "other"), an
# https URL (url_content), an ISO date (date_content), and — round 6,
# when hex_content/empty_content went native — a letter-bearing
# mixed-case hex string, a space/tab/newline run, and the empty
# string; the remaining eight nibbles (0–7) fall through to raw props
# (all of the above −1 / miss).
# ESCAPES covers every non-alphanumeric char of the props domain
# ('{"k": N}'); targets and replacements never overlap, so the
# encode (char→escape) and decode (escape→char) replace chains are
# order-independent and BOTH engines generate them from this list.
EVENTS_VALUE_ESCAPES: list[tuple[str, str]] = [
    ("{", "%7B"), ('"', "%22"), (":", "%3A"), (" ", "%20"), ("}", "%7D"),
]


def cookie_updates_from_events(events: DataFrame) -> DataFrame:
    """Deterministic adapter: the driver's ``events`` table →
    COOKIE_UPDATE_SCHEMA long rows (one cookie update per event,
    entity = user). Used by the oracled end-to-end pipeline query:
    unlike ``synth.synth_cookie_updates`` (xxhash64-based, Spark-only),
    every derivation here is reproducible in ANSI SQL, so the full
    compile_features composition over it can be value-pinned against
    DuckDB. Flags/expiry come from md5(event_id) hex nibbles; name /
    domain / path / label are constant per entity (user_id-keyed CASE
    maps above)."""
    uid, eid = F.col("user_id"), F.col("event_id")
    h = F.md5(eid.cast("string"))
    nib = lambda i: F.substring(h, i, 1)  # noqa: E731
    flag = lambda i: nib(i).isin(*_HALF_NIBBLES)  # noqa: E731

    name = F
    for k, v in EVENTS_NAME_CASES.items():
        name = name.when(F.pmod(uid, F.lit(7)) == k, F.lit(v))
    name = name.otherwise(F.concat(F.lit("misc_"), uid.cast("string")))
    domain = F
    for k, v in EVENTS_DOMAIN_CASES.items():
        domain = domain.when(F.pmod(uid, F.lit(5)) == k, F.lit(v))
    domain = domain.otherwise(F.lit(None).cast("string"))
    expiry = F
    for k, v in EVENTS_EXPIRY_CASES.items():
        expiry = expiry.when(nib(6) == k, F.lit(v).cast("long"))
    expiry = expiry.otherwise(
        F.pmod(F.conv(F.substring(h, 7, 12), 16, 10).cast("long"), F.lit(60_000_000))
    )
    label = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("l"), uid.cast("string"))), 1, 2), 16, 10)
        .cast("long"),
        F.lit(5),
    ).cast("int")
    same_site = (
        F.when(nib(5).isin("0", "1", "2", "3", "4"), F.lit("no_restriction"))
        .when(nib(5).isin("5", "6", "7", "8", "9"), F.lit("lax"))
        .otherwise(F.lit("strict"))
    )
    enc = F.col("props")
    for ch, esc in EVENTS_VALUE_ESCAPES:
        enc = F.replace(enc, F.lit(ch), F.lit(esc))
    ts_val = F.concat(
        F.lit("16"),
        F.lpad(F.conv(F.substring(h, 20, 6), 16, 10), 8, "0"),
    )
    uuid_ver = F.pmod(F.conv(F.substring(h, 13, 1), 16, 10).cast("long"), F.lit(8))
    uuid_val = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(uuid_ver.cast("string"), F.substring(h, 14, 3)),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    url_val = F.concat(F.lit("https://www."), F.substring(h, 20, 6), F.lit(".example.com/t"))
    month = F.pmod(F.conv(F.substring(h, 26, 2), 16, 10).cast("long"), F.lit(12)) + 1
    day = F.pmod(F.conv(F.substring(h, 28, 2), 16, 10).cast("long"), F.lit(28)) + 1
    date_val = F.concat(
        F.lit("2021-"), F.lpad(month.cast("string"), 2, "0"),
        F.lit("-"), F.lpad(day.cast("string"), 2, "0"),
    )
    # round-6 branches (hex_content / empty_content went native):
    # 'd' — mixed-case hex with a guaranteed letter ('f'), so
    # hex_content fires +1 (the ts branch '9' is pure-decimal and
    # already exercises the hex-regex-pass/isnumeric-reject polarity);
    # 'e' — a varied space/tab/newline run (empty_content +1 via
    # isspace); 'f' — the empty string (empty_content +1 via `not v`,
    # plus the content_length=0 / entropy=0 edge on live rows).
    hex_val = F.concat(
        F.upper(F.substring(h, 3, 4)), F.lit("f"), F.substring(h, 7, 4)
    )
    ws_val = F.concat(
        F.repeat(
            F.lit(" "),
            (F.pmod(F.conv(F.substring(h, 21, 1), 16, 10).cast("long"), F.lit(3)) + 1)
            .cast("int"),
        ),
        F.lit("\t"),
        F.repeat(
            F.lit("\n"),
            F.pmod(F.conv(F.substring(h, 22, 1), 16, 10).cast("long"), F.lit(2))
            .cast("int"),
        ),
    )
    value = (
        F.when(nib(19) == "8", enc)
        .when(nib(19) == "9", ts_val)
        .when(nib(19) == "a", uuid_val)
        .when(nib(19) == "b", url_val)
        .when(nib(19) == "c", date_val)
        .when(nib(19) == "d", hex_val)
        .when(nib(19) == "e", ws_val)
        .when(nib(19) == "f", F.lit(""))
        .otherwise(F.col("props"))
    )
    return events.select(
        uid.cast("string").alias("entity_id"),
        F.col("ts"),
        name.alias("name"),
        domain.alias("domain"),
        F.when(F.pmod(uid, F.lit(3)) == 0, F.lit("/app")).otherwise(F.lit("/")).alias("path"),
        F.lit("shop.example.com").alias("first_party_domain"),
        label.alias("label"),
        F.lit(0).alias("cmp_origin"),
        eid.cast("int").alias("update_idx"),
        value.alias("value"),
        expiry.alias("expiry"),
        flag(3).alias("session"),
        flag(1).alias("http_only"),
        flag(4).alias("host_only"),
        flag(2).alias("secure"),
        same_site.alias("same_site"),
    )


def read_entity_updates(spark: SparkSession, paths: Sequence[str], fmt: str = "parquet") -> DataFrame:
    """Multi-path scan; format 'parquet' | 'json' | 'iceberg'.

    Iceberg requires the iceberg-spark-runtime jar on the classpath
    plus a configured catalog (north rule names Iceberg as the target
    table format; this TEST CONTAINER ships parquet-only, so the
    branch is exercised by tests/test_sinks.py only up to the clean
    unavailability error — see README 'container limits')."""
    if fmt == "iceberg":
        if len(paths) != 1:
            raise ValueError("iceberg reads take exactly one table identifier")
        try:
            return spark.read.format("iceberg").load(paths[0])
        except Exception as e:  # AnalysisException lacks a stable subclass for this
            if "Failed to find data source" in str(e) or "DATA_SOURCE_NOT_FOUND" in str(e):
                raise RuntimeError(
                    "Iceberg runtime is not on the classpath: submit with "
                    "--packages org.apache.iceberg:iceberg-spark-runtime-"
                    "<spark_ver>_<scala_ver>:<iceberg_ver> and configure a "
                    "catalog (spark.sql.catalog.*). This container is "
                    "parquet-only."
                ) from e
            raise
    reader = spark.read.format(fmt)
    if fmt == "json":
        reader = reader.option("multiLine", "true")
    return reader.load(list(paths))


def read_libsvm(spark: SparkSession, path: str, num_features: int | None = None) -> DataFrame:
    """LibSVM matrix load (classifiers/utils.py:39-82 load_data path
    for .libsvm inputs): returns (label double, features mllib
    SparseVector). numFeatures pins the width so partial files stay
    schema-stable."""
    reader = spark.read.format("libsvm")
    if num_features:
        reader = reader.option("numFeatures", str(num_features))
    return reader.load(path)


def cookie_json_to_rows(data: dict) -> list[tuple]:
    """Flatten the reference's training-data JSON shape
    ({cookie_key -> {name, domain, path, first_party_domain, label,
    cmp_origin, variable_data: [update...]}}; README.md:40-63 /
    training_data/test_case.json) into COOKIE_UPDATE_SCHEMA rows.
    Update order becomes (ts, update_idx) with a synthetic 60s cadence —
    the reference's positional ordering contract (processor.py:25)
    made explicit as event time."""
    from datetime import datetime, timedelta

    t0 = datetime(2021, 1, 1)
    rows: list[tuple] = []
    for key, entry in data.items():
        for i, u in enumerate(entry["variable_data"]):
            rows.append((
                key,
                t0 + timedelta(seconds=60 * i),
                entry["name"],
                entry["domain"],
                entry["path"],
                entry["first_party_domain"],
                int(entry.get("label", -1)),
                int(entry.get("cmp_origin", -1)),
                i,
                u["value"],
                int(u["expiry"]),
                bool(u["session"]),
                bool(u["http_only"]),
                bool(u["host_only"]),
                bool(u["secure"]),
                u["same_site"],
            ))
    return rows


def union_latest_wins(dfs: Sequence[DataFrame], key_cols: Sequence[str]) -> DataFrame:
    """Union N inputs; on key collision the row from the LATEST input
    wins (reference dict-merge semantics,
    prepare_training_data.py:79). Each df is tagged with its position;
    row_number over (key) ordered by tag desc keeps the winner."""
    tagged = [df.withColumn("__src_rank", F.lit(i)) for i, df in enumerate(dfs)]
    unioned = tagged[0]
    for t in tagged[1:]:
        unioned = unioned.unionByName(t)
    w = Window.partitionBy(*key_cols).orderBy(F.desc("__src_rank"))
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src_rank")
    )
