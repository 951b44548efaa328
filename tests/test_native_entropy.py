"""Native Python-unquote + Shannon entropy (functions/native.py:
py_unquote / char_entropy) — the pure-Catalyst
form of feature_shannon_entropy (processor.py:1083-1098) that lets
compiler.native_schema carry the entropy slots with zero Python nodes.
Pins:

1. py_unquote == urllib.parse.unquote byte-for-byte on edge cases AND
   a seeded fuzz corpus biased toward %-escapes / invalid UTF-8 (the
   make_valid_utf8 substitution-policy parity the docstring claims).
2. char entropy == the reference formula (test_pipeline._entropy, the
   pure-Python twin's direct transcription of processor.py:1090-1096)
   within 1e-9.
3. Native == kernel on every update value in BOTH shipped reference
   fixtures (real cookie data, %-encoded content included) — the
   golden-level evidence that the two physical strategies agree.
4. compile_features runs the kernel exactly when a kernel-only
   feature is enabled, and the native_schema plan stays zero-Python
   (plan shape re-pinned in test_pipeline_oracle too).
5. native_schema and default_schema agree on every slot they share
   over synthetic, edge-case, fuzz and NULL values.
"""

from __future__ import annotations

import json
import math
import random
import urllib.parse

import pytest
from pyspark.sql import Window, functions as F

from cookieblock_consent_classifier_spark.functions import native
from test_pipeline import _entropy

REF = "/root/reference"
FIXTURES = [
    f"{REF}/training_data/test_case.json",
    f"{REF}/training_data/example_crawl_20210213_153228.json",
]

EDGE_CASES = [
    "abc", "", "a%20b", "%e2%82%ac", "%E2%82", "%FF%FEtail", "100%",
    "%", "%%41", "%4", "%4g", "a+b%2Bc", "%ff", "%41%42", "unié%c3%a9",
    "%E2%82%ACx%ZZ", '{"k": 69}', "a%c3%28b", "%c3%a9%c3", "aaaa",
    "%00", "%0a%0d", "%e0%a4%b9", "%f0%90%8d%88", "%c0%af",  # overlong
    "%ed%a0%80", "%25", "%2525", "a%", "%gg%41%",
]


def _fuzz_corpus(n: int = 400) -> list[str]:
    """Seeded corpus biased toward the hard regions: %-escapes (valid,
    truncated, non-hex), bytes forming invalid / overlong / surrogate
    UTF-8, multibyte codepoints split across escapes, and plain text."""
    rng = random.Random(0xC00C1E)
    hexd = "0123456789abcdefABCDEF"
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(0, 8)):
            kind = rng.randrange(6)
            if kind == 0:  # valid ascii escape
                parts.append("%%%02x" % rng.randrange(128))
            elif kind == 1:  # arbitrary byte escape (often invalid UTF-8)
                parts.append("%" + rng.choice(hexd) + rng.choice(hexd))
            elif kind == 2:  # broken escape
                parts.append(rng.choice(["%", "%g", "%4", "%zz", "%%"]))
            elif kind == 3:  # literal text, ascii
                parts.append("".join(chr(rng.randrange(32, 127)) for _ in range(rng.randint(0, 6))))
            elif kind == 4:  # literal text, non-ascii
                parts.append(rng.choice(["é", "€", "ü", "日本", "𐍈", "ß"]))
            else:  # a full multibyte codepoint as escapes
                ch = rng.choice(["é", "€", "𐍈", "ह"])
                parts.append("".join("%%%02x" % b for b in ch.encode()))
        out.append("".join(parts))
    return out


def _ws_hex_fuzz(n: int = 250) -> list[str]:
    """Corpus biased at the empty_content / hex_content decision
    boundaries: every PY_WS codepoint, hex-ish strings with and
    without letters / mixed case / %-escapes, and Unicode numerics
    (isnumeric true, hex regex false — the guard's hard case)."""
    rng = random.Random(0x5AFE)
    ws = [chr(c) for c in native.PY_WS_CODEPOINTS]
    pool = ws + list("0123456789abcdefABCDEF") + ["g", ".", "é", "%20", "%41"]
    out = [
        "", " ", "\t", "\n", "\x0b\x0c\r", "\x1c\x1d\x1e\x1f", "\x85",
        "\xa0", " ", "  ", "  ", "  ",
        "　", " \t\r\n ", " a ", ".", "deadbeef", "DEADBEEF", "DeAdF00d",
        "123", "0", "12f", "f", "0x1f", "béef", "123 ", " 123",
        "１２３",  # fullwidth digits: isnumeric, NOT hex
        "Ⅻ", "٤٥٦",  # roman numeral / arabic-indic digits: isnumeric
        "%34%35", "%64%65",  # decode to "45" (numeric) / "de" (hex)
    ]
    for _ in range(n):
        out.append("".join(rng.choice(pool) for _ in range(rng.randint(1, 10))))
    return out


def test_empty_hex_native_match_python(spark):
    """empty_content == raw-value `not v or v.isspace()` and
    hex_content(py_unquote) == THE REFERENCE's own predicate —
    `re.compile("^[0-9a-f]+$", re.IGNORECASE).match(dec) and not
    dec.isnumeric()` (processor.py:174,1317-1326, with CPython's
    '$'-before-one-trailing-newline semantics) — across the unquote
    fuzz corpus, the boundary-biased ws/hex corpus, and the edge
    cases. The Spark side uses native.HEX_PAT's \\A...\\n?\\z form
    (CPython-'$' encoded portably for Java/RE2); this test proves the
    two agree, including on terminator-bearing inputs like "123\\n"
    and "12f\\r" where Java's and RE2's own '$' would diverge."""
    import re

    ref_hex = re.compile("^[0-9a-f]+$", re.IGNORECASE)  # processor.py:174
    corpus = sorted(set(
        EDGE_CASES + _fuzz_corpus(150) + _ws_hex_fuzz()
        + ["123\n", "12f\n", "123\r", "12f\r", "123\r\n", "12f ",
           "abc\n\n", "ABC\n", "1%0A", "12f%0D", "%31%32%33%0a"]
    ))
    df = spark.createDataFrame([(s,) for s in corpus], "v string")
    rows = df.select(
        "v",
        native.empty_content("v").alias("emp"),
        native.hex_content(native.py_unquote("v")).alias("hx"),
    ).collect()
    for r in rows:
        dec = urllib.parse.unquote(r.v)
        exp_emp = 1.0 if (not r.v or r.v.isspace()) else -1.0
        exp_hex = 1.0 if (ref_hex.match(dec) and not dec.isnumeric()) else -1.0
        assert r.emp == exp_emp, (r.v, r.emp, exp_emp)
        assert r.hx == exp_hex, (r.v, dec, r.hx, exp_hex)


def test_py_unquote_matches_cpython(spark):
    corpus = EDGE_CASES + _fuzz_corpus()
    df = spark.createDataFrame([(s,) for s in corpus], "v string")
    got = {r.v: r.dec for r in df.select("v", native.py_unquote("v").alias("dec")).collect()}
    bad = [
        (s, got[s], urllib.parse.unquote(s))
        for s in corpus
        if got[s] != urllib.parse.unquote(s)
    ]
    assert not bad, bad[:5]


def test_char_entropy_matches_reference_formula(spark):
    corpus = EDGE_CASES + _fuzz_corpus(150)
    df = spark.createDataFrame([(s,) for s in corpus] + [(None,)], "v string")
    rows = df.select("v", native.char_entropy(native.py_unquote("v")).alias("ent")).collect()
    for r in rows:
        if r.v is None:
            assert r.ent is None
        else:
            exp = _entropy(r.v)
            assert r.ent is not None and math.isclose(r.ent, exp, abs_tol=1e-9), (
                r.v, r.ent, exp)


def test_native_matches_kernel_on_real_fixtures(spark):
    """Every update value in both shipped reference fixtures: the
    native expression equals the reference formula (the kernel's
    entropy field computes the same one; the golden suite pins it
    against the real reference extractor).
    Real data includes %-encoded and unicode content."""
    values: set[str] = set()
    for path in FIXTURES:
        with open(path, encoding="utf-8") as fd:
            data = json.load(fd)
        for entry in data.values():
            for upd in entry["variable_data"]:
                values.add(upd["value"])
    assert len(values) > 500
    assert any("%" in v for v in values), "fixtures must exercise unquote"
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select("v", native.char_entropy(native.py_unquote("v")).alias("ent")).collect()
    worst = 0.0
    for r in rows:
        exp = _entropy(r.v)
        assert r.ent is not None
        worst = max(worst, abs(r.ent - exp))
    assert worst < 1e-9, worst


def test_builder_selection(spark):
    """The kernel/native fork decides only where ``dec`` and
    ``entropy`` come from: every per-update feature has one builder,
    and a native-only schema compiles without the kernel while one
    kernel-only feature brings it in."""
    from cookieblock_consent_classifier_spark.plans.compiler import (
        _per_update_builders,
        compile_features,
        default_schema,
        native_schema,
    )
    from cookieblock_consent_classifier_spark.schema import FEATURES, FeatureSchema
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    res = fixture_resources()
    full = default_schema(res)
    assert set(_per_update_builders()) == {s.name for s in full.per_update}
    kernel_only = {f.name for f in FEATURES if f.path == "kernel" and f.family == "update"}
    assert kernel_only < set(_per_update_builders())
    nat = native_schema(res)
    assert not any(s.name in kernel_only for s in nat.per_update)
    src = synth_cookie_updates(spark, num_entities=4, updates_per_entity=2)

    def python_nodes(schema):
        wide, _ = compile_features(src, schema, res, training=False)
        return wide._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")

    assert python_nodes(nat) == 0
    one_kernel = FeatureSchema(
        num_updates=nat.num_updates, num_diffs=nat.num_diffs, per_entity=nat.per_entity,
        per_update=nat.per_update + (next(s for s in full.per_update if s.name == "base64_encoded"),),
        per_diff=nat.per_diff,
    )
    assert python_nodes(one_kernel) == 1


def _parity_input(spark):
    """synth_cookie_updates rows whose values are replaced, two per
    entity, by the unquote edge cases, both fuzz corpora and NULLs
    (whole entities of NULL values included)."""
    from cookieblock_consent_classifier_spark.schema import COOKIE_UPDATE_SCHEMA
    from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

    extras = EDGE_CASES + _fuzz_corpus(150) + _ws_hex_fuzz(100) + [None] * 8
    n_base = 60
    rows = synth_cookie_updates(
        spark, num_entities=n_base + (len(extras) + 1) // 2, updates_per_entity=2
    ).orderBy("entity_id", "update_idx").collect()
    out = [r.asDict() for r in rows]
    for i, v in enumerate(extras):
        out[2 * n_base + i]["value"] = v
    return spark.createDataFrame(out, COOKIE_UPDATE_SCHEMA)


def _dense(wide, width):
    """entity_id → dense vector, NaN where the slot is absent."""
    import numpy as np

    out = {}
    for r in wide.select("entity_id", "indices", "values").collect():
        vec = np.full(width, np.nan)
        vec[list(r.indices)] = list(r.values)
        out[r.entity_id] = vec
    return out


def test_native_schema_slots_match_default_schema(spark):
    """Native vs. kernel parity: native_schema compiles without the
    Arrow kernel, default_schema through it. Over the same input, every
    slot both schemas name carries the same value (absent included) on
    every entity — the two paths differ only in where ``dec`` and
    ``entropy`` come from."""
    import numpy as np

    from cookieblock_consent_classifier_spark.plans.compiler import (
        compile_features, default_schema, native_schema,
    )
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

    res = fixture_resources()
    src = _parity_input(spark).cache()
    full, nat = default_schema(res, 2, 2), native_schema(res, 2, 2)
    full_names, nat_names = full.feature_names(), nat.feature_names()
    shared = [n for n in nat_names if n in set(full_names)]
    assert len(shared) == len(nat_names) == 120
    fi = np.array([full_names.index(n) for n in shared])
    ni = np.array([nat_names.index(n) for n in shared])
    kernel_rows = _dense(compile_features(src, full, res, training=False)[0], len(full_names))
    native_rows = _dense(compile_features(src, nat, res, training=False)[0], len(nat_names))
    assert kernel_rows.keys() == native_rows.keys() and len(kernel_rows) > 200
    bad = set()
    for eid, kv in kernel_rows.items():
        a, b = kv[fi], native_rows[eid][ni]
        if not np.allclose(a, b, rtol=0, atol=1e-9, equal_nan=True):
            close = np.isclose(a, b, rtol=0, atol=1e-9, equal_nan=True)
            bad.update(shared[j] for j in np.flatnonzero(~close))
    assert not bad, sorted(bad)


def test_native_schema_pipeline_entropy_values(spark, events):
    """End-to-end through compile_features over native_schema: the
    pivoted first-update entropy slot equals the twin's _entropy of the
    first-update value (the DuckDB twin re-pins this via the driver
    gate; this is the in-repo unit)."""
    from cookieblock_consent_classifier_spark.plans.compiler import (
        compile_features, native_schema,
    )
    from cookieblock_consent_classifier_spark.sources.readers import (
        cookie_updates_from_events,
    )
    from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

    res = fixture_resources()
    src = cookie_updates_from_events(events).limit(500)
    wide, names = compile_features(src, native_schema(res, num_updates=2, num_diffs=2), res)
    assert any("shannon" in nm for nm in names), names
    slot = next(i for i, nm in enumerate(names) if "shannon" in nm)
    got = {
        r.entity_id: dict(zip(r.indices, r.values)).get(slot)
        for r in wide.select("entity_id", "indices", "values").limit(50).collect()
    }
    w = Window.partitionBy("entity_id").orderBy("ts", "update_idx")
    first_vals = {
        r.entity_id: r.value
        for r in src.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").select("entity_id", "value").collect()
    }
    checked = 0
    for eid, ent in got.items():
        if eid in first_vals and ent is not None:
            assert math.isclose(ent, _entropy(first_vals[eid]), abs_tol=1e-9)
            checked += 1
    assert checked > 10
