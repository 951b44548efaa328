"""features.json-format config loader.

Parses the reference's declared feature schema
(feature_extraction/features.json, consumed at processor.py:77-78 and
width-counted at :91-125) into the engine's ``FeatureSchema`` plus a
``Resources`` bundle loaded through the reference-exact loaders in
sources/resources.py (setup_* dispatch, processor.py:180-190).

The JSON shape (per entry): name, desc, function, enabled,
vector_size, args, and optionally setup + source. Each ``function``
maps onto its ``schema.FEATURES`` row. The loader raises ValueError,
naming the entry, on an unknown ``function`` or ``setup``, on an entry
in another family's section, and on a fixed-width entry whose
``vector_size`` differs from the width its function computes: a
config the engine cannot honor fails at load, not in the compiler.
"""

from __future__ import annotations

import json
import os

from cookieblock_consent_classifier_spark.schema import FEATURES, FeatureSchema, FeatureSpec
from cookieblock_consent_classifier_spark.sources.resources import (
    Resources,
    load_pattern_csv,
    load_rank_csv,
    load_vendor_txt,
)

# reference function name -> its FEATURES row, in features.json order
KNOWN_FUNCTIONS = {f.function: f for f in FEATURES}

# features.json section -> FEATURES family
_SECTIONS = {"per_cookie_features": "entity", "per_update_features": "update",
             "per_diff_features": "diff"}

# setup fn -> which Resources field it fills + which loader semantics
_SETUPS = {
    "setup_top_names": ("top_names", "rank"),
    "setup_top_domains": ("top_domains", "rank"),
    "setup_pattern_names": ("name_patterns", "pattern"),
    "setup_name_features": ("name_tokens", "pattern"),
    "setup_content_terms": ("content_terms", "pattern"),
    "setup_iabeurope_vendors": ("iab_vendors", "vendor"),
}


def load_features_config(config_path: str, base_dir: str | None = None) -> tuple[FeatureSchema, Resources]:
    """Parse a features.json-format config and load its resources.

    ``base_dir`` resolves relative ``source`` paths (the reference
    resolves them against its repo root); defaults to the config
    file's directory.
    """
    with open(config_path, encoding="utf-8") as fd:
        cfg = json.load(fd)
    base = base_dir or os.path.dirname(os.path.abspath(config_path))

    res_fields: dict[str, object] = {
        "top_names": [], "top_domains": [], "name_patterns": [],
        "name_tokens": [], "content_terms": [], "iab_vendors": frozenset(),
    }

    def to_spec(entry: dict, section: str) -> FeatureSpec:
        fn = entry["function"]
        if fn not in KNOWN_FUNCTIONS:
            raise ValueError(f"Unsupported feature function in config: {fn}")
        feature = KNOWN_FUNCTIONS[fn]
        label = f"{section} entry {entry.get('name')!r} ({fn})"
        if _SECTIONS[section] != feature.family:
            raise ValueError(f"{label}: a per-{feature.family} feature")
        vector_size = int(entry.get("vector_size", 1))
        if isinstance(feature.width, int) and vector_size != feature.width:
            raise ValueError(f"{label}: vector_size {vector_size}, the function computes {feature.width}")
        setup = entry.get("setup")
        source = entry.get("source")
        if entry.get("enabled", True) and setup:
            if setup not in _SETUPS:
                raise ValueError(f"Unsupported setup function: {setup}")
            field_name, loader = _SETUPS[setup]
            path = source if os.path.isabs(source) else os.path.join(base, source)
            if loader == "rank":
                res_fields[field_name] = load_rank_csv(path, entry["vector_size"])
            elif loader == "pattern":
                res_fields[field_name] = load_pattern_csv(path, entry["vector_size"])
            else:
                res_fields[field_name] = load_vendor_txt(path)
        return FeatureSpec(
            name=feature.name,
            enabled=bool(entry.get("enabled", True)),
            vector_size=vector_size,
            args=dict(entry.get("args", {})),
            # the reference's feature map prints the entry's own
            # "name" (retrieve_feature_names_as_list), which need not
            # equal the engine spec name — carry it through so fmap
            # output stays byte-exact for ANY display names
            display=entry.get("name"),
        )

    specs = {fam: tuple(to_spec(e, sec) for e in cfg[sec]) for sec, fam in _SECTIONS.items()}
    schema = FeatureSchema(
        num_updates=int(cfg["num_updates"]),
        num_diffs=int(cfg["num_diffs"]),
        per_entity=specs["entity"],
        per_update=specs["update"],
        per_diff=specs["diff"],
    )
    res = Resources(**res_fields)  # type: ignore[arg-type]
    return schema, res
