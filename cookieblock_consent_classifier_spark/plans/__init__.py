from cookieblock_consent_classifier_spark.plans.compiler import (
    compile_features,
    default_schema,
)

__all__ = ["compile_features", "default_schema"]
