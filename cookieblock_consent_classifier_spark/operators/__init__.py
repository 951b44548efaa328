from cookieblock_consent_classifier_spark.operators.asof import asof_join
from cookieblock_consent_classifier_spark.operators.temporal import (
    backfill,
    sessionize,
    with_lag,
)

__all__ = ["asof_join", "backfill", "sessionize", "with_lag"]
