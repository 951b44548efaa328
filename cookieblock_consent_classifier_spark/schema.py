"""Canonical schemas + declared feature-schema config.

The reference's output schema is *declared, not inferred* in
``features.json`` (reference: feature_extraction/processor.py:5-27,
77-125): three feature families (per-cookie / per-update / per-diff),
each feature a named function with a fixed ``vector_size``, JSON order
= column order. We mirror that contract with dataclasses; ``FEATURES``
declares the shipped 52 features once. The plan compiler
(plans/compiler.py) turns a ``FeatureSchema`` into one lazy DataFrame
DAG, and the assembler enforces the same width invariant the reference
asserts per row (processor.py:197-200).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Long-format entity-update table: one row per (entity, ts) observation.
# This is the normalized form of the reference's
# {cookie_id -> {attrs..., variable_data: [update...]}} JSON
# (reference: README.md:40-63); the positional ordering contract
# (processor.py:25) becomes an explicit event-time column `ts`.
# ---------------------------------------------------------------------------
COOKIE_UPDATE_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("domain", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("first_party_domain", T.StringType(), True),
        T.StructField("label", T.IntegerType(), True),
        T.StructField("cmp_origin", T.IntegerType(), True),
        T.StructField("update_idx", T.IntegerType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("expiry", T.LongType(), True),
        T.StructField("session", T.BooleanType(), True),
        T.StructField("http_only", T.BooleanType(), True),
        T.StructField("host_only", T.BooleanType(), True),
        T.StructField("secure", T.BooleanType(), True),
        T.StructField("same_site", T.StringType(), True),
    ]
)

# Label contract: the reference's four cookie classes 0..3
# (processor.py:473-478). Training extraction drops labels outside that
# range; every scorer emits one probability per class.
NUM_CLASSES = 4


@dataclass(frozen=True)
class FeatureSpec:
    """One declared feature = reference features.json entry
    (processor.py:5-17): name, enable flag, sub-vector width, kwargs.
    The entry's setup resource is loaded into ``Resources`` by
    ``sources/config.load_features_config``."""

    name: str
    enabled: bool = True
    vector_size: int = 1
    args: dict = field(default_factory=dict)
    # the config entry's own "name" field — what the reference's
    # feature map prints (retrieve_feature_names_as_list uses
    # feature["name"], not the function name). None → same as `name`.
    display: str | None = None


@dataclass(frozen=True)
class FeatureSchema:
    """Ordered declaration of the full output vector
    (processor.py:91-125). Declaration order IS column order."""

    num_updates: int = 1
    num_diffs: int = 1
    per_entity: tuple[FeatureSpec, ...] = ()
    per_update: tuple[FeatureSpec, ...] = ()
    per_diff: tuple[FeatureSpec, ...] = ()

    @property
    def total_width(self) -> int:
        return len(self.feature_names())

    def feature_names(self) -> list[str]:
        """Positional feature names, matching
        retrieve_feature_names_as_list (processor.py:276-298) modulo
        the index prefix and type suffix (see sinks.write_feature_map):
        per-entity `{name}-{i}`, per-update `update_{u}_{name}-{i}`,
        per-diff `diff_{u}_{name}-{i}` — the reference appends `-{i}`
        even for width-1 blocks, so we do too."""
        out: list[str] = []

        def block(spec: FeatureSpec, prefix: str) -> None:
            nm = spec.display or spec.name
            out.extend(f"{prefix}{nm}-{i}" for i in range(spec.vector_size))

        # NB feature-major order: the reference iterates each feature
        # across all its update/diff slots before moving to the next
        # feature (processor.py:411-451), so columns group as
        # feature × slot, not slot × feature.
        for s in self.per_entity:
            if s.enabled:
                block(s, "")
        for s in self.per_update:
            if s.enabled:
                for u in range(self.num_updates):
                    block(s, f"update_{u}_")
        for s in self.per_diff:
            if s.enabled:
                for d in range(self.num_diffs):
                    block(s, f"diff_{d}_")
        return out


class Feature(NamedTuple):
    """One row of FEATURES."""

    family: str     # "entity" | "update" | "diff" (features.json section)
    function: str   # the reference's processor.py method
    name: str       # engine spec name (plans/compiler.py builders)
    width: int | str  # a str names the Resources list whose length it is
    path: str       # "catalyst" | "kernel" | "python"
    args: dict      # keyword args of the reference function


# The reference's 52 features in its shipped features.json order
# (features.json:1-417; per-cookie, per-update, per-diff). The ONE
# declaration: default_schema, native_schema, the rank/kernel sets of
# plans/compiler.py and the features.json loader's function map are
# all derived from it. Compute path: "catalyst" compiles to native
# expressions only; "kernel" reads a field of the fused Arrow kernel
# (functions/vectorized.content_kernel_udf); "python" runs its own
# pandas UDF (regex-list ranks, difflib gestalt).
FEATURES: tuple[Feature, ...] = tuple(Feature(*row) for row in (
    ("entity", "feature_top_names", "top_names", "top_names", "catalyst", {}),
    ("entity", "feature_top_domains", "top_domains", "top_domains", "catalyst", {}),
    ("entity", "feature_pattern_names", "pattern_names", "name_patterns", "python", {}),
    ("entity", "feature_name_tokens", "name_tokens", "name_tokens", "python", {}),
    ("entity", "feature_iab_vendor", "iab_vendor", 1, "catalyst", {}),
    ("entity", "feature_domain_period", "domain_period", 1, "catalyst", {}),
    ("entity", "feature_host_only_first_update", "host_only", 1, "catalyst", {}),
    ("entity", "feature_is_third_party", "third_party", 1, "catalyst", {}),
    ("entity", "feature_non_root_path", "non_root_path", 1, "catalyst", {}),
    ("entity", "feature_update_count", "update_count", 1, "catalyst", {}),
    ("entity", "feature_http_only_changed", "http_only_changed", 1, "catalyst", {}),
    ("entity", "feature_secure_changed", "secure_changed", 1, "catalyst", {}),
    ("entity", "feature_same_site_changed", "same_site_changed", 1, "catalyst", {}),
    ("entity", "feature_is_session_changed", "session_changed", 1, "catalyst", {}),
    ("entity", "feature_content_changed", "content_changed", 1, "catalyst", {}),
    ("entity", "feature_expiry_changed", "expiry_changed", 1, "catalyst", {}),
    ("entity", "feature_gestalt_mean_and_stddev", "gestalt_total", 2, "python", {}),
    ("entity", "feature_levenshtein_mean_and_stddev", "levenshtein_total", 2, "catalyst", {}),
    ("entity", "feature_content_length_mean_and_stddev", "contlength_total", 2, "catalyst", {}),
    ("entity", "feature_compressed_length_mean_and_stddev", "complength_total", 2, "kernel", {}),
    ("entity", "feature_entropy_mean_and_stddev", "entropy_total", 2, "catalyst", {}),
    ("update", "feature_http_only", "http_only", 1, "catalyst", {}),
    ("update", "feature_secure", "secure", 1, "catalyst", {}),
    ("update", "feature_session", "session", 1, "catalyst", {}),
    ("update", "feature_same_site", "same_site", 3, "catalyst", {}),
    ("update", "feature_expiry", "expiry", 1, "catalyst", {}),
    ("update", "feature_expiry_extra", "expiry_extra", 8, "catalyst", {}),
    ("update", "feature_content_length", "content_length", 1, "catalyst", {}),
    ("update", "feature_compressed_content", "compressed_length", 2, "kernel", {}),
    ("update", "feature_shannon_entropy", "shannon_entropy", 1, "catalyst", {}),
    ("update", "feature_url_encoding", "url_encoding", 1, "catalyst", {}),
    ("update", "feature_delimiter_separated", "delimiter_sep", 9, "kernel", {"min_seps": 1}),
    ("update", "feature_base64_encoded", "base64_encoded", 1, "kernel", {}),
    ("update", "feature_contains_javascript_object", "contains_js_obj", 1, "kernel", {}),
    ("update", "feature_english_terms_in_content", "content_eng_terms", "content_terms", "kernel", {}),
    ("update", "feature_csv_content", "csv_contents", 5, "kernel", {"min_seps": 2}),
    ("update", "feature_js_content", "js_contents", 11, "kernel", {}),
    ("update", "feature_numerical_content", "numerical_content", 1, "kernel", {}),
    ("update", "feature_hex_content", "hex_content", 1, "catalyst", {}),
    ("update", "feature_alpha_content", "alpha_content", 1, "kernel", {}),
    ("update", "feature_is_identifier", "is_identifier", 1, "kernel", {}),
    ("update", "feature_all_uppercase_content", "all_uppercase", 1, "kernel", {}),
    ("update", "feature_all_lowercase_content", "all_lowercase", 1, "kernel", {}),
    ("update", "feature_empty_content", "empty_content", 1, "catalyst", {}),
    ("update", "feature_boolean_content", "boolean_content", 1, "kernel", {}),
    ("update", "feature_timestamp_content", "timestamp_content", 1, "catalyst", {}),
    ("update", "feature_date_content", "date_content", 1, "catalyst", {}),
    ("update", "feature_canonical_uuid", "contains_uuid", 6, "catalyst", {}),
    ("update", "feature_url_content", "url_content", 1, "catalyst", {}),
    ("diff", "feature_time_diff", "time_difference", 1, "catalyst", {}),
    ("diff", "feature_gestalt_pattern_ratio", "gestalt_similarity", 1, "python", {}),
    ("diff", "feature_levenshtein_dist", "lev_distance", 1, "catalyst", {}),
))
