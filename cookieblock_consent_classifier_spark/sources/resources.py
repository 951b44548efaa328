"""Lookup resources for the broadcast-join / pattern-list features.

The reference loads pre-sorted CSV/TXT resources into dicts and
compiled-pattern lists at setup (load_lookup_from_csv utils.py:33-56;
setup_* processor.py:594-682). Our analogue:

- rank tables (top names / top domains) → small JVM-local tables
  (``local_table``: one VALUES parse, no Python RDD), consumed via
  broadcast hash join;
- regex lists (name patterns, name tokens, content terms) → Python
  lists captured in vectorized pandas UDF closures;
- vendor domains → broadcast left-semi join (or set closure).

File format matches the reference's: one entry per line, CSV with the
lookup key in the LAST field, '#' comments skipped, top-k truncation
at load (utils.py:43-54).

``fixture_resources()`` synthesizes a small deterministic resource
bundle (our own data, for tests/bench) — the production path loads
real crawl-derived files through the same loaders.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Resources:
    top_names: list[str]
    top_domains: list[str]
    name_patterns: list[str]  # anchored .match semantics
    name_tokens: list[str]    # .search semantics
    content_terms: list[str]  # .search on URL-decoded value
    iab_vendors: frozenset[str]


def py_uniform_domain(url: str) -> str:
    """url_to_uniform_domain (utils.py:19-30), reference-exact Python
    twin (the native Column version is functions/native.uniform_domain;
    this one runs at resource-load time and in test oracles)."""
    u = url.strip()
    u = re.sub(r"^http(s)?://", "", u)
    u = re.sub(r"^www([0-9])?", "", u)
    u = re.sub(r"^\.", "", u)
    u = re.sub(r"/$", "", u)
    return u


def load_rank_csv(path: str, count: int) -> list[str]:
    """load_lookup_from_csv (utils.py:33-56), reference-exact: last
    comma-field of each line is the key; '#'-prefixed lines skipped
    (blank lines are NOT — the reference keeps them as empty keys);
    exactly ``count`` entries in file order; raises if the file runs
    out first."""
    out: list[str] = []
    with open(path, encoding="utf-8") as fd:
        for line in fd:
            if line.startswith("#"):
                continue
            out.append(line.strip().split(",")[-1])
            if len(out) == count:
                return out
    raise RuntimeError(f"Not enough entries in {path}: wanted {count}, got {len(out)}")


def load_pattern_csv(path: str, count: int) -> list[str]:
    """setup_pattern_names / setup_name_features / setup_content_terms
    (processor.py:611-682), reference-exact: last comma-field is the
    pattern; NO comment skipping (unlike load_rank_csv); exactly
    ``count`` patterns in file order."""
    out: list[str] = []
    with open(path, encoding="utf-8") as fd:
        for line in fd:
            out.append(line.strip().split(",")[-1])
            if len(out) == count:
                return out
    raise RuntimeError(f"Not enough patterns in {path}: wanted {count}, got {len(out)}")


def load_vendor_txt(path: str) -> frozenset[str]:
    """setup_iabeurope_vendors (processor.py:653-663): one domain per
    line, normalized through url_to_uniform_domain at load."""
    with open(path, encoding="utf-8") as fd:
        return frozenset(py_uniform_domain(line.strip()) for line in fd)


def sql_literal(v: str | int | float) -> str:
    """One Python value as Spark SQL literal text. Strings travel as
    hex UTF-8 bytes cast back to STRING, so no quote, backslash or
    non-ASCII character needs escaping and the text parses the same
    under either ``spark.sql.parser.escapedStringLiterals`` setting.
    Ints become BIGINT, floats DOUBLE (``repr`` round-trips exactly;
    non-finite ones go through a string cast)."""
    if isinstance(v, str):
        return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"
    if isinstance(v, float):
        return f"{v!r}D" if math.isfinite(v) else f"CAST({sql_literal(repr(v))} AS DOUBLE)"
    if isinstance(v, int):
        return f"{v}L"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def local_table(spark: SparkSession, rows: list[tuple], names: list[str]) -> DataFrame:
    """A small driver-side table as ONE ``VALUES`` parse: the plan leaf
    is a JVM ``LocalRelation`` (physical ``LocalTableScan``), so
    broadcasting it collects rows on the driver without a Spark job
    and without Python workers — unlike ``createDataFrame(list)``,
    whose pickled Python RDD (``Scan ExistingRDD``) is deserialised by
    a Python worker per task on every job. For fixed-size lookup and
    parameter tables only: the text grows with the rows."""
    if not rows:
        raise ValueError("local_table needs at least one row")
    values = ", ".join("(" + ", ".join(map(sql_literal, r)) + ")" for r in rows)
    cols = ", ".join("`" + n.replace("`", "``") + "`" for n in names)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")


def rank_df(spark: SparkSession, keys: list[str], key_col: str) -> DataFrame:
    """(``key_col`` string, rank bigint) table for broadcast hash joins
    (rank = position, 0-based) as a ``local_table``. Mirrors the
    reference's dict construction (utils.py:43-54): a duplicate key
    keeps its LAST rank — critical for join correctness too, since a
    duplicate key in the build side would fan out the probe rows."""
    last_wins = {k: i for i, k in enumerate(keys)}
    return local_table(spark, list(last_wins.items()), [key_col, "rank"])


def fixture_resources() -> Resources:
    """Deterministic synthetic resource bundle shaped like the
    reference's resources/ directory contents (smaller lists: 20 top
    names and domains, 10 name patterns, 15 name tokens, 10 content
    terms)."""
    top_names = [f"track_cookie_{i}" for i in range(16)] + [
        "session-id", "consent-pref", "ga_visitor", "ab_bucket",
    ]
    top_domains = [f"cdn{i}.example-ads.com" for i in range(17)] + [
        "analytics.example.org", "example-cmp.net", "social-widgets.io",
    ]
    name_patterns = [
        r"^ga_", r"^_?utm", r"^sess(ion)?[-_]", r"^consent", r"^ab[-_]test",
        r"^track_cookie_[0-9]+$", r"^cf[a-z]+$", r"^id_[0-9a-f]+", r"^pref", r"^opt(in|out)",
    ]
    name_tokens = [
        "id", "sess", "track", "consent", "pref", "visitor", "bucket",
        "ga", "utm", "ab", "opt", "cf", "uid", "token", "cart",
    ]
    content_terms = [
        "consent", "true", "false", "preferences", "analytics",
        "advertising", "necessary", "functional", "userid", "timestamp",
    ]
    iab_vendors = frozenset(
        {"example-ads.com", "analytics.example.org", "bigsspvendor.com"}
    )
    return Resources(
        top_names=top_names,
        top_domains=top_domains,
        name_patterns=name_patterns,
        name_tokens=name_tokens,
        content_terms=content_terms,
        iab_vendors=iab_vendors,
    )
