"""End-to-end parity: plan compiler + sparse assembly vs an
independent pure-Python re-implementation of the reference's
extraction semantics (the reference itself can't run here — its deps
are absent — so the twin below serves as the golden oracle, built
from the documented semantics in SURVEY.md §2 and verified per-kernel
in test_functions.py)."""

from __future__ import annotations

import base64
import difflib
import json
import math
import statistics
import zlib
from collections import Counter
from datetime import datetime, timedelta
from urllib.parse import unquote

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark.functions.vectorized import (
    _py_csv_content_flags,
    _py_js_content,
    _py_split_delimited,
)
from cookieblock_consent_classifier_spark.plans.compiler import compile_features, default_schema
from cookieblock_consent_classifier_spark.schema import COOKIE_UPDATE_SCHEMA
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

T0 = datetime(2024, 1, 1)

# fixture: (entity, name, domain, path, fpd, label, updates[(value, expiry, session, http_only, host_only, secure, same_site)])
FIXTURE = [
    ("c1", "session-id", ".example-ads.com", "/", "shop.com", 0, [
        ("hello%20world", 3600, True, False, True, False, "lax"),
        ("%7B%22uid%22%3A%20123%2C%20%22ok%22%3A%20true%7D", 90000, False, True, True, True, "strict"),
        ("a,b,c,d", 90000 + 200000, False, True, True, True, "strict"),
    ]),
    ("c2", "track_cookie_3", "analytics.example.org", "/app", "analytics.example.org", 3, [
        ("dGVzdHN0cmluZzE23w==", 100, False, False, False, False, "no_restriction"),
    ]),
    ("c3", "ga_visitor", "sub.shop.com", "/", "shop.com", 2, [
        ("deadbeef01", 50000000, False, False, False, False, "weird_value"),
        ("deadbeef02", 50000000, False, False, False, False, "no_restriction"),
    ]),
    ("c4", "unknown_name", "shop.com", "/", "shop.com", 9, [   # label out of range -> filtered
        ("x", 1, False, False, False, False, "lax"),
    ]),
    ("c5", "consent-pref", "example-cmp.net", "/", "", 1, [
        ("f81d4fae-7dec-41d0-a765-00a0c91e6bf6", 1609459200, True, True, False, True, "lax"),
        ("", 1609459200, True, True, False, True, "lax"),
    ]),
]

RES = fixture_resources()
GAP = 600


def _rows(entities):
    rows = []
    for ent, name, dom, path, fpd, label, ups in entities:
        for i, (val, exp, sess, ho, hso, sec, ss) in enumerate(ups):
            rows.append(
                (ent, T0 + timedelta(seconds=i * GAP), name, dom, path, fpd, label, 0,
                 i, val, exp, sess, ho, hso, sec, ss)
            )
    return rows


# --------------------------------------------------------------------
# pure-python twin (independent of the Spark code paths; kernel
# helpers shared only where test_functions.py already pins them to
# stdlib behavior)
# --------------------------------------------------------------------

def _entropy(s):
    v = unquote(s)
    if not v:
        return 0.0
    c = Counter(v)
    n = len(v)
    return -sum((k / n) * math.log2(k / n) for k in c.values())


def _uniform_domain(d):
    # url_to_uniform_domain (utils.py:19-30), reference-exact
    import re

    d = d.strip()
    d = re.sub(r"^http(s)?://", "", d)
    d = re.sub(r"^www([0-9])?", "", d)
    d = re.sub(r"^\.", "", d)
    d = re.sub(r"/$", "", d)
    return d


def _try_decode_base64(s):
    # try_decode_base64 (utils.py:81-94)
    if not isinstance(s, str) or len(s) < 8:
        return None
    try:
        return base64.b64decode(s).decode("utf-8")
    except Exception:
        return None


def twin_extract(schema, res, entities):
    """dense {feature_name: value} per entity of ``entities`` (shaped
    like FIXTURE), skipping absent slots (so: exactly the stored CSR
    content)."""
    import re

    names = schema.feature_names()
    out = {}
    for ent, name, dom, path, fpd, label, ups in entities:
        if not (0 <= label <= 3):
            continue
        vals: dict[str, float] = {}

        def put(key, v):
            if key not in names:  # width-1 blocks carry a -0 suffix
                key = f"{key}-0"
            assert key in names, key
            if v is not None:
                vals[key] = float(v)

        def pm(b):
            return 1.0 if b else -1.0

        udom = _uniform_domain(dom)
        # per-entity lookups
        if name in res.top_names:
            put(f"top_names-{res.top_names.index(name)}", 1.0)
        if udom in res.top_domains:
            put(f"top_domains-{res.top_domains.index(udom)}", 1.0)
        for i, p in enumerate(res.name_patterns):
            if re.match(p, name):
                put(f"pattern_names-{i}", 1.0)
        for i, t in enumerate(res.name_tokens):
            if re.search(t, name):
                put(f"name_tokens-{i}", 1.0)
        if udom in res.iab_vendors:
            put("iab_vendor", 1.0)
        if dom.startswith("."):
            put("domain_period", 1.0)
        if ups[0][4]:
            put("host_only", 1.0)
        if udom not in _uniform_domain(fpd):
            put("third_party", 1.0)
        if path.strip() != "/":
            put("non_root_path", 1.0)
        put("update_count", len(ups))

        seq = lambda idx: [u[idx] for u in ups]  # noqa: E731
        for key, idx in [("http_only_changed", 3), ("secure_changed", 5),
                         ("same_site_changed", 6), ("session_changed", 2)]:
            if len(set(seq(idx))) > 1:
                put(key, 1.0)
        values = seq(0)
        if any(a != b for a, b in zip(values, values[1:])):
            put("content_changed", 1.0)
        exps = seq(1)
        if any(abs(b - a) >= 86400 for a, b in zip(exps, exps[1:])):
            put("expiry_changed", 1.0)

        def mean_std(key, samples):
            put(f"{key}-0", statistics.mean(samples) if samples else -1.0)
            put(f"{key}-1", statistics.stdev(samples) if len(samples) > 1 else -1.0)

        gest = [difflib.SequenceMatcher(None, a, b).ratio() for a, b in zip(values, values[1:])]
        mean_std("gestalt_total", gest)
        lev = [_levenshtein(a, b) for a, b in zip(values, values[1:])]
        mean_std("levenshtein_total", lev)
        mean_std("contlength_total", [len(v.encode()) for v in values])
        mean_std("complength_total", [len(zlib.compress(unquote(v).encode(), 9)) for v in values])
        mean_std("entropy_total", [_entropy(v) for v in values])

        # per-update block (num_updates slots, feature-major)
        for u in range(schema.num_updates):
            if u >= len(ups):
                continue  # absent slots
            val, exp, sess, ho, hso, sec, ss = ups[u]
            dec = unquote(val)
            put(f"update_{u}_http_only", pm(ho))
            put(f"update_{u}_secure", pm(sec))
            put(f"update_{u}_session", pm(sess))
            for i, cat in enumerate(["no_restriction", "lax", "strict"]):
                put(f"update_{u}_same_site-{i}", pm(ss == cat))
            put(f"update_{u}_expiry", exp)
            # feature_expiry_extra (processor.py:1029-1050): dense ±1,
            # bucket 0 strict upper (< 3600), others inclusive both ends
            bounds = [(None, 3600), (3600, 43200), (43200, 86400), (86400, 604800),
                      (604800, 2592000), (2592000, 15552000), (15552000, 46656000), (46656000, None)]
            for i, (lo, hi) in enumerate(bounds):
                if lo is None:
                    fire = exp < hi
                elif hi is None:
                    fire = exp >= lo
                else:
                    fire = lo <= exp <= hi
                put(f"update_{u}_expiry_extra-{i}", pm(fire))
            put(f"update_{u}_content_length", len(dec.encode()))
            z = len(zlib.compress(dec.encode(), 9))
            put(f"update_{u}_compressed_length-0", z)
            put(f"update_{u}_compressed_length-1", len(dec.encode()) - z)
            put(f"update_{u}_shannon_entropy", _entropy(val))
            put(f"update_{u}_url_encoding", pm(dec != val))
            toks, d = _py_split_delimited(dec, 1)
            delims = ",|#:;&_.-"
            for i, dd in enumerate(delims):
                put(f"update_{u}_delimiter_sep-{i}",
                    float(len(toks)) if (toks and dd == d) else -1.0)
            # feature_base64_encoded (processor.py:1133-1146): lenient
            # b64decode (no validate) of the URL-DECODED content
            try:
                base64.b64decode(dec)
                b64ok = True
            except Exception:
                b64ok = False
            put(f"update_{u}_base64_encoded", pm(b64ok))
            # feature_contains_javascript_object (processor.py:1148-1162):
            # shape regex on dec, else base64-decode and re-check
            jso = re.search(r"^\{.*\}$", dec) is not None
            if not jso:
                mb = _try_decode_base64(dec)
                jso = bool(mb and re.search(r"^\{.*\}$", mb))
            put(f"update_{u}_contains_js_obj", pm(jso))
            for i, term in enumerate(res.content_terms):
                if re.search(term, dec):
                    put(f"update_{u}_content_eng_terms-{i}", 1.0)
            csvf = _py_csv_content_flags(val, 2)
            for i, v2 in enumerate(csvf):
                put(f"update_{u}_csv_contents-{i}", v2)
            jsf = _py_js_content(val)
            for i, v2 in enumerate(jsf):
                put(f"update_{u}_js_contents-{i}", v2)
            put(f"update_{u}_numerical_content", pm(dec.isnumeric()))
            put(f"update_{u}_hex_content",
                pm(re.match("^[0-9a-f]+$", dec, re.IGNORECASE) is not None and not dec.isnumeric()))
            put(f"update_{u}_alpha_content", pm(dec.isalpha()))
            put(f"update_{u}_is_identifier",
                pm(dec.isidentifier() and not dec.isalpha() and not dec.isnumeric()))
            put(f"update_{u}_all_uppercase", pm(dec.isupper()))
            put(f"update_{u}_all_lowercase", pm(dec.islower()))
            # feature_empty_content (processor.py:1376-1384): raw value
            put(f"update_{u}_empty_content", pm(not val or val.isspace()))
            put(f"update_{u}_boolean_content",
                pm(re.search(r"\b(true|false|yes|no|0|1|on|off)\b", dec, re.IGNORECASE) is not None))
            put(f"update_{u}_timestamp_content", pm(re.search("16[0-9]{8}([0-9]{3})?", dec) is not None))
            date = (
                re.search("(19[7-9][0-9]|20[0-3][0-9]|[0-9][0-9])-[01][0-9]-[0-3][0-9]", dec)
                or re.search("[0-3][0-9]-[01][0-9]-(19[7-9][0-9]|20[0-3][0-9]|[0-9][0-9])", dec)
                or re.search("[01][0-9]-[0-3][0-9]-(19[7-9][0-9]|20[0-3][0-9])", dec)
                or (re.search("(Mon|Tue|Wed|Thu|Fri|Sat|Sun)", dec, re.I)
                    and re.search("(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)", dec, re.I))
            )
            put(f"update_{u}_date_content", pm(bool(date)))
            m = re.search(
                "[0-9a-f]{8}-[0-9a-f]{4}-([0-9a-f])[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}",
                dec, re.IGNORECASE)
            ver = m.group(1).lower() if m else None
            for i, vv in enumerate(["1", "2", "3", "4", "5"]):
                put(f"update_{u}_contains_uuid-{i}", pm(ver == vv))
            put(f"update_{u}_contains_uuid-5", pm(ver is not None and ver not in "12345"))
            put(f"update_{u}_url_content",
                pm(bool(re.search(r"http(s)?://.*\.", dec) or re.search(r"www(2-9)?\..*\.", dec))))

        # per-diff block
        for d in range(schema.num_diffs):
            if d + 1 >= len(ups):
                continue
            a, b = ups[d], ups[d + 1]
            put(f"diff_{d}_time_difference", b[1] - a[1])
            put(f"diff_{d}_gestalt_similarity", difflib.SequenceMatcher(None, a[0], b[0]).ratio())
            put(f"diff_{d}_lev_distance", _levenshtein(a[0], b[0]))

        out[ent] = vals
    return out


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.fixture(scope="module")
def compiled(spark):
    df = spark.createDataFrame(_rows(FIXTURE), COOKIE_UPDATE_SCHEMA)
    schema = default_schema(RES, num_updates=2, num_diffs=1)
    wide, names = compile_features(df, schema, RES, training=True)
    return wide.collect(), names, schema


def test_width_and_names(compiled):
    rows, names, schema = compiled
    assert len(names) == schema.total_width
    assert len(set(names)) == len(names)


def test_label_filter(compiled):
    rows, _, _ = compiled
    ents = {r["entity_id"] for r in rows}
    assert ents == {"c1", "c2", "c3", "c5"}  # c4 label=9 filtered


def test_indices_sorted_and_in_range(compiled):
    rows, names, _ = compiled
    for r in rows:
        idx = r["indices"]
        assert idx == sorted(idx)
        assert all(0 <= i < len(names) for i in idx)
        assert len(idx) == len(set(idx)), "duplicate indices"
        assert len(idx) == len(r["values"])


def test_values_match_python_twin(compiled):
    rows, names, schema = compiled
    expected = twin_extract(schema, RES, FIXTURE)
    for r in rows:
        got = {names[i]: v for i, v in zip(r["indices"], r["values"])}
        exp = expected[r["entity_id"]]
        missing = set(exp) - set(got)
        extra = set(got) - set(exp)
        assert not missing, (r["entity_id"], sorted(missing)[:10])
        assert not extra, (r["entity_id"], sorted(extra)[:10])
        for k in exp:
            assert got[k] == pytest.approx(exp[k], abs=1e-9), (r["entity_id"], k, got[k], exp[k])


def _js_literal(d):
    # a JS object literal: unquoted keys, single-quoted strings
    def lit(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        return "null" if v is None else repr(v)

    return "{" + ", ".join(f"{k}: {lit(v)}" for k, v in d.items()) + "}"


_SCALARS = st.one_of(st.integers(-99, 99), st.booleans(), st.none(), st.text("ab01", max_size=4))
_KEYS = st.text("abdi_", min_size=1, max_size=4)
# one drawn piece of a cookie value; a value joins one or two pieces
_PIECES = st.one_of(
    st.text(st.characters(codec="utf-8"), max_size=10),          # unicode
    st.text("٣٤٥߂0129", min_size=1, max_size=5),                # unicode + ASCII digits
    st.text("\"'\\ab", max_size=6),                              # quotes, backslashes
    st.builds("%{}{}".format, st.text("09afAF%gz", max_size=2), st.text("ab", max_size=2)),
    st.binary(min_size=6, max_size=18).map(lambda b: base64.b64encode(b).decode()),
    st.dictionaries(_KEYS, _SCALARS, max_size=3).map(json.dumps),
    st.dictionaries(_KEYS, _SCALARS, max_size=3).map(_js_literal),
    st.builds(str.join, st.sampled_from(",|;:&"),
              st.lists(st.text("ab12", max_size=3), min_size=2, max_size=5)),   # CSV-like
    st.sampled_from(["", " ", "\t", "\n", "\t\n", "　", " 　\t"]),
    st.text("abc xyz", min_size=130, max_size=180),   # two make a pair of > 256 chars
)
_VALUES = st.lists(_PIECES, min_size=1, max_size=2).map("".join)


@st.composite
def _entities(draw):
    """≤ 8 FIXTURE-shaped entities whose update values come from one
    small drawn pool, so values repeat within and across entities."""
    pool = draw(st.lists(_VALUES, min_size=1, max_size=6))
    out = []
    for i in range(draw(st.integers(1, 8))):
        _, name, dom, path, fpd, _, ups = FIXTURE[i % len(FIXTURE)]
        picks = draw(st.lists(st.sampled_from(pool), min_size=1, max_size=4))
        out.append((f"h{i}", name, dom, path, fpd, i % 4,
                    [(v, *ups[j % len(ups)][1:]) for j, v in enumerate(picks)]))
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(entities=_entities())
def test_drawn_values_match_python_twin(spark, entities):
    """Differential test: every slot of the full default schema, on
    drawn cookie values, equals the pure-Python twin (absent slots
    included, as NaN)."""
    schema = default_schema(RES, num_updates=2, num_diffs=2)
    df = spark.createDataFrame(_rows(entities), COOKIE_UPDATE_SCHEMA)
    wide, names = compile_features(df, schema, RES, training=False)
    got = {}
    for r in wide.collect():
        got[r["entity_id"]] = vec = np.full(len(names), np.nan)
        vec[list(r["indices"])] = list(r["values"])
    expected = twin_extract(schema, RES, entities)
    assert got.keys() == expected.keys()
    for ent, vals in expected.items():
        want = np.full(len(names), np.nan)
        for k, v in vals.items():
            want[names.index(k)] = v
        close = np.isclose(got[ent], want, rtol=1e-12, atol=1e-9, equal_nan=True)
        assert close.all(), [(names[i], got[ent][i], want[i]) for i in np.flatnonzero(~close)]


def test_weights_inverse_class_frequency(compiled):
    rows, _, _ = compiled
    n = len(rows)
    by_label = Counter(r["label"] for r in rows)
    for r in rows:
        assert r["weight"] == pytest.approx(n / by_label[r["label"]])


def test_single_entity_shuffle(spark):
    """The compiled plan must hash-exchange on entity exactly once
    (window + groupBy share the partitioning); broadcasts excluded."""
    df = spark.createDataFrame(_rows(FIXTURE), COOKIE_UPDATE_SCHEMA)
    schema = default_schema(RES)
    # training weights add a second (label-keyed) branch that re-reads
    # the same subtree; AQE reuses that exchange at runtime. The
    # invariant we pin here: the CORE pipeline needs exactly one entity
    # shuffle.
    wide, _ = compile_features(df, schema, RES, training=False)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    n_hash_exchanges = plan.count("Exchange hashpartitioning(entity_id")
    assert n_hash_exchanges == 1, plan[:2000]


def test_weight_counts_source_matches_output_under_duplicate_rank_keys(spark, monkeypatch):
    """The class weights count labels over compile_features' pre-join
    aggregate (assemble_sparse's ``counts_src``), not over the
    assembled output. That is right only while every broadcast rank
    join stays 1:1, which rank_df guarantees by keeping the LAST rank
    of a duplicate key. Resources with duplicate top_names and
    top_domains keys would otherwise fan the joined rows out."""
    import dataclasses

    from cookieblock_consent_classifier_spark.plans import assemble
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    seen = []
    real = assemble.assemble_sparse

    def spy(wide, blocks, counts_src, with_weights=True):
        seen.append(counts_src)
        return real(wide, blocks, counts_src, with_weights)

    monkeypatch.setattr(assemble, "assemble_sparse", spy)
    # synth names are cookie_<ent % 37>, domains cdn<ent % 11>.example-ads.com
    res = dataclasses.replace(
        RES,
        top_names=[*RES.top_names, "cookie_5", "cookie_5"],
        top_domains=[*RES.top_domains, "cdn3.example-ads.com", "cdn3.example-ads.com"],
    )
    df = synth_cookie_updates(spark, num_entities=60, updates_per_entity=2)
    wide, _ = compile_features(df, default_schema(res), res)
    rows = wide.collect()

    def label_counts(d):
        return sorted(tuple(r) for r in d.groupBy("label").count().collect())

    assert label_counts(seen[0]) == label_counts(wide)
    assert len(rows) == len({r["entity_id"] for r in rows})
    by_label = Counter(r["label"] for r in rows)
    for r in rows:
        assert r["weight"] == pytest.approx(len(rows) / by_label[r["label"]])
    # the duplicate keys fired, at their last rank only
    names = {r["entity_id"]: r["name"] for r in df.select("entity_id", "name").collect()}
    last_name = len(res.top_names) - 1
    hits = [r for r in rows if names[r["entity_id"]] == "cookie_5"]
    assert hits and all(
        last_name in r["indices"] and last_name - 1 not in r["indices"] for r in hits
    )
