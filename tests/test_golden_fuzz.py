"""Golden FUZZ parity: seeded-random adversarial cookie data through
BOTH the real reference extractor (shimmed, tests/ref_shims.py) and
the engine at full declared width. Complements the fixture-based
golden tests with the nasty value space: '+' vs %-encoding, malformed
escapes, unicode digits/whitespace, JS literals, base64-wrapped JSON,
CSV soup, empty/whitespace, long-randoms, www-prefix quirks."""

from __future__ import annotations

import base64
import json
import random

import numpy as np
import pytest

import ref_shims
from cookieblock_consent_classifier_spark.plans.compiler import compile_features
from cookieblock_consent_classifier_spark.schema import COOKIE_UPDATE_SCHEMA
from cookieblock_consent_classifier_spark.sources.config import load_features_config
from cookieblock_consent_classifier_spark.sources.readers import cookie_json_to_rows

REF = "/root/reference"


def _value_pool(rng: random.Random) -> str:
    def rand_word(n):
        return "".join(rng.choice("abcdefghij0123456789") for _ in range(n))

    makers = [
        lambda: json.dumps({"uid": rng.randrange(10**6), "ok": rng.random() < 0.5,
                            "tags": [rand_word(3)], "sub": {"a": None}}),
        lambda: "{stamp:'%s',necessary:true,ver:%d,region:'nl'}" % (rand_word(12), rng.randrange(9)),
        lambda: base64.b64encode(json.dumps({"idx": rng.randrange(99)}).encode()).decode(),
        lambda: base64.b64encode(rand_word(rng.randrange(4, 40)).encode()).decode(),
        lambda: ",".join(rand_word(rng.randrange(1, 6)) for _ in range(rng.randrange(2, 8))),
        lambda: "|".join(str(rng.randrange(999)) for _ in range(rng.randrange(3, 7))),
        lambda: rand_word(rng.randrange(0, 60)),
        lambda: "deadbeef" + rand_word(4),
        lambda: str(rng.randrange(10**12)),
        lambda: "٣٤٥٦" if rng.random() < 0.5 else "Ⅷ",  # unicode numerics
        lambda: "f81d4fae-7dec-%d1d0-a765-00a0c91e6bf6" % rng.randrange(9),
        lambda: "Mon, 0%d Jan 2024 16%09d" % (rng.randrange(9), rng.randrange(10**8)),
        lambda: "https://www%d.example.com/x?a=b" % rng.randrange(9),
        lambda: "a+b+c%20d",              # '+' must NOT decode to space
        lambda: "100%zz" + rand_word(3),  # malformed escape stays as-is
        lambda: "%41%42%43",              # valid escapes decode
        lambda: "",
        lambda: "   ",
        lambda: "\t\n",
        lambda: "true|FALSE|on,off;yes",
        lambda: "2021-03-0%d and 31-12-99" % (rng.randrange(9) + 1),
        lambda: "{broken json",
        lambda: '[{"x": 1}, {"y": 2}]',
        lambda: "name=%s&id=%d&t=1609459200" % (rand_word(5), rng.randrange(999)),
        lambda: "UPPER lower MiXeD",
        lambda: "_ident_%s" % rand_word(4),
        lambda: "🙂" * rng.randrange(1, 5),
        lambda: rand_word(3) + " " + rand_word(3),  # NBSP
    ]
    return rng.choice(makers)()


def _fuzz_corpus(seed: int, n_entities: int) -> dict:
    rng = random.Random(seed)
    same_sites = ["no_restriction", "lax", "strict", "unspecified"]
    names = ["_ga", "_gid", "session-id", "OptanonConsent", "test_cookie",
             "gat_tracker", "_gat_gtag_UA_12_3", "id_deadbeef"]
    domains = [".example.com", "www2.ads.net", "epfister.pfisterfaucets.com",
               "wwwtracker.io", "https://spaced.org/", "doubleclick.net"]
    out = {}
    for i in range(n_entities):
        ups = []
        for u in range(rng.randrange(1, 5)):
            ups.append({
                "value": _value_pool(rng),
                "expiry": rng.choice([0, 1, 3599, 3600, 86400, 10**9, -5,
                                      rng.randrange(10**8)]),
                "session": rng.random() < 0.5,
                "http_only": rng.random() < 0.5,
                "host_only": rng.random() < 0.5,
                "secure": rng.random() < 0.5,
                "same_site": rng.choice(same_sites),
            })
        out[f"fuzz{i}"] = {
            "visit_id": i,
            "name": rng.choice(names) + (rand := str(rng.randrange(100))),
            "domain": rng.choice(domains),
            "path": rng.choice(["/", "/app", " / ", "/x/y"]),
            "first_party_domain": rng.choice(domains),
            "label": rng.randrange(4),
            "cmp_origin": 0,
            "variable_data": ups,
        }
    return out


@pytest.fixture(scope="module")
def fuzz_setup(tmp_path_factory):
    ref_module = ref_shims.load_reference_processor()
    with open(f"{REF}/feature_extraction/features.json", encoding="utf-8") as fd:
        cfg = json.load(fd)
    for sec in ("per_cookie_features", "per_update_features", "per_diff_features"):
        for entry in cfg[sec]:
            if "source" in entry:
                entry["source"] = f"{REF}/{entry['source']}"
    cfg["num_updates"] = 2
    cfg["num_diffs"] = 1
    p = tmp_path_factory.mktemp("fuzzcfg") / "features_u2.json"
    p.write_text(json.dumps(cfg))
    return ref_module, str(p)


@pytest.mark.parametrize("seed", [101, 202])
def test_golden_fuzz_allclose(spark, fuzz_setup, seed):
    ref_module, cfg_path = fuzz_setup
    data = _fuzz_corpus(seed, 120)

    proc = ref_module.CookieFeatureProcessor(cfg_path, skip_cmp_cookies=False)
    proc.extract_features(data)
    ref_mat = ref_shims.reference_dense_matrix(proc)

    schema, res = load_features_config(cfg_path, base_dir=REF)
    df = spark.createDataFrame(cookie_json_to_rows(data), COOKIE_UPDATE_SCHEMA)
    wide, names = compile_features(df, schema, res, training=False)
    got = {}
    for r in wide.collect():
        v = np.zeros(len(names))
        v[list(r["indices"])] = r["values"]
        got[r["entity_id"]] = v

    keys = list(data)
    bad = []
    for i, k in enumerate(keys):
        mism = np.where(~np.isclose(got[k], ref_mat[i], atol=1e-8, rtol=1e-9))[0]
        for j in mism[:4]:
            bad.append((k, names[j], float(ref_mat[i][j]), float(got[k][j]),
                        [u["value"][:60] for u in data[k]["variable_data"]]))
    assert not bad, f"{len(bad)}+ mismatches; first: {bad[:6]}"
