"""Small driver-side tables enter plans as JVM ``LocalRelation``s
(``resources.local_table``): rank lookups, the IAB-vendor ``IN``
probe and the grid-search parameter table share one hex string
literal, so keys round-trip byte-exact whatever characters they hold
and whichever string-literal parser mode the session runs."""

from __future__ import annotations

import math

import pytest

from cookieblock_consent_classifier_spark.plans.compiler import _sql_in_set
from cookieblock_consent_classifier_spark.sources.resources import local_table, rank_df

# quotes, backslash escapes (that a quoted literal would decode), URL
# %-escapes, edge spaces, non-ASCII, and the reference's blank key
KEYS = [
    "it's", 'say "hi"', "back\\slash", "tab\\t\\n", "\\'", "%41%25%", "  padded  ",
    "naïve·日本語", "", "plain",
]

ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"


@pytest.fixture(params=["false", "true"])
def parse_mode(spark, request):
    old = spark.conf.get(ESCAPED_LITERALS)
    spark.conf.set(ESCAPED_LITERALS, request.param)
    yield request.param
    spark.conf.set(ESCAPED_LITERALS, old)


def test_rank_df_keys_exact_last_rank_local_leaf(spark, parse_mode):
    keys = KEYS + ["it's", "plain"]  # duplicates: the LAST rank wins
    df = rank_df(spark, keys, "name")
    assert df.schema.simpleString() == "struct<name:string,rank:bigint>"
    rows = df.collect()
    assert len(rows) == len(KEYS), "duplicate keys must collapse (1:1 joins)"
    assert {r.name: r.rank for r in rows} == {k: i for i, k in enumerate(keys)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_sql_in_set_matches_exact_members(spark, parse_mode):
    near = ["its", "back\\\\slash", "tab\t\n", "'", "A%", "padded", "naive", " "]
    probe = spark.createDataFrame([(v,) for v in KEYS + near], "v string")
    hits = probe.filter(_sql_in_set("v", frozenset(KEYS))).collect()
    assert sorted(r.v for r in hits) == sorted(KEYS)


def test_local_table_numeric_literals_round_trip(spark):
    vals = [0.1, 1 / 3, 1e-05, -0.5, 2.0**60, math.inf, -math.inf, math.nan]
    df = local_table(spark, [(i, v) for i, v in enumerate(vals)], ["param_id", "eta"])
    assert df.schema.simpleString() == "struct<param_id:bigint,eta:double>"
    rows = df.orderBy("param_id").collect()
    assert [r.param_id for r in rows] == list(range(len(vals)))
    got = [r.eta for r in rows]
    assert got[:-1] == vals[:-1] and math.isnan(got[-1])
