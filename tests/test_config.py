"""features.json config-loader unit tests (no Spark needed)."""

from __future__ import annotations

import ast
import glob
import json
import os
from collections import Counter

import pytest

from cookieblock_consent_classifier_spark.plans.compiler import _per_update_builders, default_schema
from cookieblock_consent_classifier_spark.schema import FEATURES
from cookieblock_consent_classifier_spark.sources.config import (
    _SETUPS,
    KNOWN_FUNCTIONS,
    load_features_config,
)
from cookieblock_consent_classifier_spark.sources.resources import (
    fixture_resources,
    load_pattern_csv,
    load_rank_csv,
    py_uniform_domain,
)

REF = "/root/reference"
CFG = f"{REF}/feature_extraction/features.json"
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "cookieblock_consent_classifier_spark")
SECTIONS = {"entity": "per_cookie_features", "update": "per_update_features",
            "diff": "per_diff_features"}


def _fixture_config(tmp_path) -> dict:
    """A features.json in the reference's shape, written from
    ``schema.FEATURES`` with ``fixture_resources()`` as its resource
    files (relative ``source`` paths next to the config)."""
    res = fixture_resources()
    setup_of = {field: fn for fn, (field, _) in _SETUPS.items()}
    cfg = {"num_updates": 1, "num_diffs": 1, **{sec: [] for sec in SECTIONS.values()}}
    for f in FEATURES:
        entry = {"name": f.name, "desc": "", "function": f.function, "enabled": True,
                 "vector_size": f.width, "args": f.args}
        field = f.width if isinstance(f.width, str) else {"iab_vendor": "iab_vendors"}.get(f.name)
        if field is not None:
            items = getattr(res, field)
            if isinstance(items, frozenset):
                lines = sorted(items)
            else:
                entry["vector_size"] = len(items)
                lines = [f"{i},{v}" for i, v in enumerate(items)]
            (tmp_path / field).write_text("".join(x + "\n" for x in lines), encoding="utf-8")
            entry.update(setup=setup_of[field], source=field)
        cfg[SECTIONS[f.family]].append(entry)
    return cfg


def _load(tmp_path, cfg):
    p = tmp_path / "features.json"
    p.write_text(json.dumps(cfg))
    return load_features_config(str(p))


def _specs(schema):
    return [(s.name, s.enabled, s.vector_size, s.args)
            for s in schema.per_entity + schema.per_update + schema.per_diff]


def test_fixture_config_round_trip(tmp_path):
    """The loader reads a config generated from FEATURES back into
    default_schema's specs and the resources the config points at."""
    cfg = _fixture_config(tmp_path)
    schema, res = _load(tmp_path, cfg)
    want = default_schema(fixture_resources())
    assert schema.feature_names() == want.feature_names()
    assert _specs(schema) == _specs(want)
    assert (schema.num_updates, schema.num_diffs) == (want.num_updates, want.num_diffs)
    assert res == fixture_resources()

    # disabling one rank entry shrinks the width by exactly its width
    tokens = next(e for e in cfg["per_cookie_features"] if e["name"] == "name_tokens")
    tokens["enabled"] = False
    smaller, _ = _load(tmp_path, cfg)
    assert smaller.total_width == want.total_width - len(fixture_resources().name_tokens)
    assert len(smaller.feature_names()) == smaller.total_width

    tokens["enabled"] = True
    for key, bad, msg in (("function", "feature_does_not_exist", "Unsupported feature function"),
                          ("setup", "setup_does_not_exist", "Unsupported setup function")):
        entry = dict(tokens, **{key: bad})
        bad_cfg = dict(cfg, per_cookie_features=[entry if e is tokens else e
                                                 for e in cfg["per_cookie_features"]])
        with pytest.raises(ValueError, match=msg):
            _load(tmp_path, bad_cfg)


def test_loader_rejects_wrong_section_and_width(tmp_path):
    """An entry under another family's section, or a fixed-width entry
    whose vector_size is not the width its function computes, raises
    ValueError at load, naming the entry."""
    cfg = _fixture_config(tmp_path)
    http_only = next(e for e in cfg["per_update_features"] if e["name"] == "http_only")
    moved = dict(cfg, per_cookie_features=cfg["per_cookie_features"] + [http_only])
    with pytest.raises(ValueError, match=r"per_cookie_features entry 'http_only' "
                                         r"\(feature_http_only\): a per-update feature"):
        _load(tmp_path, moved)

    narrow = dict(next(e for e in cfg["per_update_features"] if e["name"] == "same_site"),
                  vector_size=2)
    resized = dict(cfg, per_update_features=[narrow if e["name"] == "same_site" else e
                                             for e in cfg["per_update_features"]])
    with pytest.raises(ValueError, match=r"'same_site' \(feature_same_site\): "
                                         r"vector_size 2, the function computes 3"):
        _load(tmp_path, resized)


def test_feature_table_is_the_one_declaration():
    """FEATURES' update rows are exactly the compiler's per-update
    builders, in order, and each reference function name is written
    once in the engine package (the table row)."""
    assert [f.name for f in FEATURES if f.family == "update"] == list(_per_update_builders())
    assert len(KNOWN_FUNCTIONS) == len(FEATURES) == 52
    literals = Counter()
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as fd:
            tree = ast.parse(fd.read(), path)
        literals.update(n.value for n in ast.walk(tree)
                        if isinstance(n, ast.Constant) and n.value in KNOWN_FUNCTIONS)
    assert literals == dict.fromkeys(KNOWN_FUNCTIONS, 1)


def test_shipped_config_width_and_resources():
    schema, res = load_features_config(CFG, base_dir=REF)
    assert schema.total_width == 1689
    assert schema.num_updates == 1 and schema.num_diffs == 1
    assert len(res.top_names) == 500
    assert len(res.top_domains) == 500
    assert len(res.name_patterns) == 50
    assert len(res.name_tokens) == 500
    assert len(res.content_terms) == 50
    assert len(res.iab_vendors) > 500
    # vendors normalized at load (setup_iabeurope_vendors)
    assert all(v == py_uniform_domain(v) for v in res.iab_vendors)


def test_disabled_feature_shrinks_width(tmp_path):
    cfg = json.load(open(CFG))
    for sec in ("per_cookie_features", "per_update_features", "per_diff_features"):
        for e in cfg[sec]:
            if "source" in e:
                e["source"] = f"{REF}/{e['source']}"
    # disable the 500-wide name_tokens block
    [e for e in cfg["per_cookie_features"] if e["name"] == "name_tokens"][0]["enabled"] = False
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(cfg))
    schema, _ = load_features_config(str(p), base_dir=REF)
    assert schema.total_width == 1689 - 500
    assert len(schema.feature_names()) == 1189


def test_unknown_function_rejected(tmp_path):
    cfg = json.load(open(CFG))
    cfg["per_update_features"][0]["function"] = "feature_does_not_exist"
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(cfg))
    with pytest.raises(ValueError, match="Unsupported feature function"):
        load_features_config(str(p), base_dir=REF)


def test_rank_loader_reference_exact(tmp_path):
    # '#' comments skipped, blank lines KEPT (empty key), last
    # comma-field is the key, count-truncated — load_lookup_from_csv
    # (utils.py:33-56) semantics
    f = tmp_path / "r.csv"
    f.write_text("# comment\n10,alpha\n\n30,beta,gamma\n40,delta\n")
    assert load_rank_csv(str(f), 3) == ["alpha", "", "gamma"]
    with pytest.raises(RuntimeError):
        load_rank_csv(str(f), 9)


def test_pattern_loader_keeps_comments(tmp_path):
    # setup_pattern_names does NOT skip '#' lines (processor.py:611-628)
    f = tmp_path / "p.csv"
    f.write_text("#notacomment\n1,^ga_\n")
    assert load_pattern_csv(str(f), 2) == ["#notacomment", "^ga_"]
