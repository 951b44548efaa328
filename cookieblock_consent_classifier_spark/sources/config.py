"""features.json-format config loader.

Parses the reference's declared feature schema
(feature_extraction/features.json, consumed at processor.py:77-78 and
width-counted at :91-125) into the engine's ``FeatureSchema`` plus a
``Resources`` bundle loaded through the reference-exact loaders in
sources/resources.py (setup_* dispatch, processor.py:180-190).

The JSON shape (per entry): name, desc, function, enabled,
vector_size, args, and optionally setup + source. Feature ``name``s
map 1:1 onto the engine's spec names (plans/compiler.py builders);
``function``/``setup`` names are validated against the known mapping
so a config that the engine cannot honor fails loudly instead of
silently dropping features.
"""

from __future__ import annotations

import json
import os

from cookieblock_consent_classifier_spark.schema import FeatureSchema, FeatureSpec
from cookieblock_consent_classifier_spark.sources.resources import (
    Resources,
    load_pattern_csv,
    load_rank_csv,
    load_vendor_txt,
)

# reference function name -> engine spec name (processor.py feature_*
# methods; the shipped features.json uses exactly these)
KNOWN_FUNCTIONS = {
    # per-cookie
    "feature_top_names": "top_names",
    "feature_top_domains": "top_domains",
    "feature_pattern_names": "pattern_names",
    "feature_name_tokens": "name_tokens",
    "feature_iab_vendor": "iab_vendor",
    "feature_domain_period": "domain_period",
    "feature_host_only_first_update": "host_only",
    "feature_is_third_party": "third_party",
    "feature_non_root_path": "non_root_path",
    "feature_update_count": "update_count",
    "feature_http_only_changed": "http_only_changed",
    "feature_secure_changed": "secure_changed",
    "feature_same_site_changed": "same_site_changed",
    "feature_is_session_changed": "session_changed",
    "feature_content_changed": "content_changed",
    "feature_expiry_changed": "expiry_changed",
    "feature_gestalt_mean_and_stddev": "gestalt_total",
    "feature_levenshtein_mean_and_stddev": "levenshtein_total",
    "feature_content_length_mean_and_stddev": "contlength_total",
    "feature_compressed_length_mean_and_stddev": "complength_total",
    "feature_entropy_mean_and_stddev": "entropy_total",
    # per-update
    "feature_http_only": "http_only",
    "feature_secure": "secure",
    "feature_session": "session",
    "feature_same_site": "same_site",
    "feature_expiry": "expiry",
    "feature_expiry_extra": "expiry_extra",
    "feature_content_length": "content_length",
    "feature_compressed_content": "compressed_length",
    "feature_shannon_entropy": "shannon_entropy",
    "feature_url_encoding": "url_encoding",
    "feature_delimiter_separated": "delimiter_sep",
    "feature_base64_encoded": "base64_encoded",
    "feature_contains_javascript_object": "contains_js_obj",
    "feature_english_terms_in_content": "content_eng_terms",
    "feature_csv_content": "csv_contents",
    "feature_js_content": "js_contents",
    "feature_numerical_content": "numerical_content",
    "feature_hex_content": "hex_content",
    "feature_alpha_content": "alpha_content",
    "feature_is_identifier": "is_identifier",
    "feature_all_uppercase_content": "all_uppercase",
    "feature_all_lowercase_content": "all_lowercase",
    "feature_empty_content": "empty_content",
    "feature_boolean_content": "boolean_content",
    "feature_timestamp_content": "timestamp_content",
    "feature_date_content": "date_content",
    "feature_canonical_uuid": "contains_uuid",
    "feature_url_content": "url_content",
    # per-diff
    "feature_time_diff": "time_difference",
    "feature_gestalt_pattern_ratio": "gestalt_similarity",
    "feature_levenshtein_dist": "lev_distance",
}

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
    file's directory's parent layout — pass it explicitly for clarity.
    """
    with open(config_path, encoding="utf-8") as fd:
        cfg = json.load(fd)
    base = base_dir or os.path.dirname(os.path.abspath(config_path))

    res_fields: dict[str, object] = {
        "top_names": [], "top_domains": [], "name_patterns": [],
        "name_tokens": [], "content_terms": [], "iab_vendors": frozenset(),
    }

    def to_spec(entry: dict) -> FeatureSpec:
        fn = entry["function"]
        if fn not in KNOWN_FUNCTIONS:
            raise ValueError(f"Unsupported feature function in config: {fn}")
        name = KNOWN_FUNCTIONS[fn]
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
            name=name,
            enabled=bool(entry.get("enabled", True)),
            vector_size=int(entry.get("vector_size", 1)),
            args=dict(entry.get("args", {})),
            # the reference's feature map prints the entry's own
            # "name" (retrieve_feature_names_as_list), which need not
            # equal the engine spec name — carry it through so fmap
            # output stays byte-exact for ANY display names
            display=entry.get("name"),
        )

    schema = FeatureSchema(
        num_updates=int(cfg["num_updates"]),
        num_diffs=int(cfg["num_diffs"]),
        per_entity=tuple(to_spec(e) for e in cfg["per_cookie_features"]),
        per_update=tuple(to_spec(e) for e in cfg["per_update_features"]),
        per_diff=tuple(to_spec(e) for e in cfg["per_diff_features"]),
    )
    res = Resources(**res_fields)  # type: ignore[arg-type]
    return schema, res
