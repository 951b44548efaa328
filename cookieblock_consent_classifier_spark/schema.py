"""Canonical schemas + declared feature-schema config.

The reference's output schema is *declared, not inferred* in
``features.json`` (reference: feature_extraction/processor.py:5-27,
77-125): three feature families (per-cookie / per-update / per-diff),
each feature a named function with a fixed ``vector_size``, JSON order
= column order. We mirror that contract with dataclasses; the plan
compiler (plans/compiler.py) turns a ``FeatureSchema`` into one lazy
DataFrame DAG, and the assembler enforces the same width invariant the
reference asserts per row (processor.py:197-200).
"""

from __future__ import annotations

from dataclasses import dataclass, field

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

    def _enabled(self, specs: tuple[FeatureSpec, ...]) -> list[FeatureSpec]:
        return [s for s in specs if s.enabled]

    @property
    def per_entity_width(self) -> int:
        return sum(s.vector_size for s in self._enabled(self.per_entity))

    @property
    def per_update_width(self) -> int:
        return sum(s.vector_size for s in self._enabled(self.per_update)) * self.num_updates

    @property
    def per_diff_width(self) -> int:
        return sum(s.vector_size for s in self._enabled(self.per_diff)) * self.num_diffs

    @property
    def total_width(self) -> int:
        return self.per_entity_width + self.per_update_width + self.per_diff_width

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
        for s in self._enabled(self.per_entity):
            block(s, "")
        for s in self._enabled(self.per_update):
            for u in range(self.num_updates):
                block(s, f"update_{u}_")
        for s in self._enabled(self.per_diff):
            for d in range(self.num_diffs):
                block(s, f"diff_{d}_")
        assert len(out) == self.total_width
        return out
