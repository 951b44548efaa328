from cookieblock_consent_classifier_spark.sources.readers import (
    read_entity_updates,
    union_latest_wins,
)
from cookieblock_consent_classifier_spark.sources.synth import (
    synth_image_updates,
    synth_label_dim,
)

__all__ = [
    "read_entity_updates",
    "union_latest_wins",
    "synth_image_updates",
    "synth_label_dim",
]
