"""spark-submit entry point: run the full feature-extraction pipeline
with stage checkpoints and print metrics.

Usage (ship path, north rule):
    zip -r pkg.zip cookieblock_consent_classifier_spark
    spark-submit --py-files pkg.zip -m cookieblock_consent_classifier_spark.cli \
        --input <parquet dir or synth:N> --output <dir> [--format libsvm|parquet]

``--mode train`` fits the default ``gbdt.GBDTParams`` (3 rounds of
depth-3 trees) on all but a deterministic HOLDOUT share of the
entities; ``--mode predict`` scores with the ``--model-dump`` it is
given.

Replaces the reference's prepare_training_data.py CLI
(prepare_training_data.py:60-139): scan → filter → extract → sink →
feature map, plus checkpoint/resume and per-stage metrics.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os

from pyspark.sql import functions as F

from cookieblock_consent_classifier_spark import sinks
from cookieblock_consent_classifier_spark.plans.assemble import class_weights
from cookieblock_consent_classifier_spark.plans.compiler import compile_features, default_schema
from cookieblock_consent_classifier_spark.runtime.checkpoints import CheckpointedPipeline
from cookieblock_consent_classifier_spark.session import get_spark
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources
from cookieblock_consent_classifier_spark.sources.synth import synth_cookie_updates

# train mode: deterministic md5-hash holdout share for validation
# accuracy (train_test_split analogue, train_xgb.py:292 — hash-based so
# resumed runs split identically)
HOLDOUT = 0.2


def config_token(input_path: str, training: bool, schema, res) -> str:
    """Every setting that changes what the checkpointed stages write:
    the input, the training flag (label filter and class weights), the
    whole feature schema and the resources. ``iab_vendors`` is sorted
    because a frozenset's repr follows PYTHONHASHSEED, and the token
    must be the same in every process."""
    res_fields = dataclasses.asdict(res)
    res_fields["iab_vendors"] = sorted(res.iab_vendors)
    return f"{input_path}|training={training}|{schema!r}|{res_fields!r}"


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or synth:<num_entities>")
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "libsvm"])
    ap.add_argument(
        "--mode", default="extract", choices=["extract", "predict", "train"],
        help="extract = training extraction (prepare_training_data.py "
        "analogue); predict = inference dataflow (predict_class.py "
        "analogue: no label filter, score, Bayesian decision, "
        "predictions JSON + consent histogram); train = extract + "
        "Spark-native GBDT (operators/gbdt.py, no GBDT library) -> "
        "reference-format model_dump.json servable by --mode predict "
        "--model-dump",
    )
    ap.add_argument(
        "--cmp-prefix", default="OptanonConsent",
        help="predict mode: cookie-name prefix for the consent histogram "
        "(predict_class.py:152-161)",
    )
    ap.add_argument(
        "--model-dump", default=None,
        help="predict mode (required there): path to an XGBoost JSON "
        "tree dump, scored with the dump-compiled native predictor "
        "(xgbpredictor_dump.py analogue, equal-loss decision == "
        "predict_class.py:135). Either layout: a full dump (flat list "
        "of tree objects, round-robin classes) or a list of per-class "
        "minimal-format forests (xgbpredictor_sparsedump.py)",
    )
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--features-json", default=None,
        help="features.json-format config (reference schema shape); "
        "widths/args/enabled flags and resource files come from it",
    )
    ap.add_argument(
        "--resources-dir", default=None,
        help="base dir for relative resource paths in --features-json",
    )
    args = ap.parse_args(argv)
    if args.mode == "predict" and not args.model_dump:
        ap.error("--mode predict requires --model-dump")

    spark = get_spark(app_name="cbcs-extract")
    if args.features_json:
        from cookieblock_consent_classifier_spark.sources.config import load_features_config

        schema, res = load_features_config(args.features_json, base_dir=args.resources_dir)
    else:
        res = fixture_resources()
        schema = default_schema(res)

    # train needs the labeled/filtered extraction path too; only
    # predict runs the no-filter inference extraction
    training = args.mode in ("extract", "train")

    ckpt_root = os.path.join(args.output, "_checkpoints")
    if args.no_resume and os.path.exists(ckpt_root):
        import shutil

        shutil.rmtree(ckpt_root)
    pipe = CheckpointedPipeline(
        spark, ckpt_root, config_token=config_token(args.input, training, schema, res)
    )

    if args.input.startswith("synth:"):
        n = int(args.input.split(":", 1)[1])
        src = pipe.stage("scan", lambda _: synth_cookie_updates(spark, n))
    else:
        # the input frame is the scan's upstream, so its file listing
        # is in the fingerprint: a rewritten input recomputes
        src = pipe.stage("scan", lambda df: df, upstream=spark.read.parquet(args.input))

    feat = pipe.stage(
        "extract", lambda df: compile_features(df, schema, res, training=training)[0],
        upstream=src.df, upstream_fingerprint="scan",
    )
    names = schema.feature_names()

    if args.mode == "train":
        # train -> dump -> (servable by --mode predict --model-dump):
        # the engine's own GBDT over the extracted sparse rows, dumped
        # in the reference full-dump format (xgbpredictor_dump.py)
        from cookieblock_consent_classifier_spark import predict as P, xgb
        from cookieblock_consent_classifier_spark.operators import gbdt

        # deterministic hash split (the SAME helper the search/CV
        # dataflow uses — 60-bit md5, uniform buckets): stable across
        # resumed runs
        from cookieblock_consent_classifier_spark.operators.search import hash_fold

        bucket = hash_fold(F.col("entity_id").cast("string"), 1000)
        cut = round(HOLDOUT * 1000)
        train_df = feat.df.filter(bucket >= cut)
        holdout_df = feat.df.filter(bucket < cut)
        # re-derive inverse-class-frequency weights from the TRAIN
        # split only (the extract-stage weights were computed over the
        # full corpus and would fold holdout label counts into the
        # objective)
        w = class_weights(train_df).select("label", "weight")
        train_df = train_df.drop("weight").join(F.broadcast(w), "label", "left")

        dump = gbdt.train_gbdt(train_df)
        xgb.validate_full_dump(dump)
        os.makedirs(args.output, exist_ok=True)
        dump_path = os.path.join(args.output, "model_dump.json")
        with open(dump_path, "w", encoding="utf-8") as fd:
            json.dump(dump, fd)
        # also export the reference's minimal sparse format (its
        # JS-deployment artifact; also servable via --model-dump)
        sparse_path = os.path.join(args.output, "model_sparse.json")
        with open(sparse_path, "w", encoding="utf-8") as fd:
            json.dump(xgb.to_sparse_format(dump), fd)
        score_fn = xgb.dump_score_fn(dump)  # compile the scorer once

        def _acc(df):
            r = P.predict(df, score_fn=score_fn, loss=P.EQUAL_LOSS).select(
                F.avg((F.col("predicted_label") == F.col("label")).cast("double")).alias("a")
            ).first()["a"]
            return round(r, 4) if r is not None else None  # empty split

        print(json.dumps({
            "stages": pipe.metrics(),
            "width": len(names),
            "model_dump": dump_path,
            "model_sparse": sparse_path,
            "trees": len(dump),
            "train_accuracy": _acc(train_df),
            "holdout_accuracy": _acc(holdout_df),
        }))
        return

    if args.mode == "predict":
        # inference dataflow (predict_class.py:107-161): score ->
        # Bayesian loss-matrix decision -> predictions JSON + the
        # consent-cookie histogram for the CMP name prefix
        from cookieblock_consent_classifier_spark import predict as P, xgb

        # the sparse feature row drops entity attrs; re-attach the
        # cookie name from the scan stage for the histogram filter
        names_df = src.df.select("entity_id", "name").dropDuplicates(["entity_id"])

        with open(args.model_dump, "rb") as fd:
            dump_bytes = fd.read()
        dump = json.loads(dump_bytes)
        # the JSON's shape names the layout: per-class forests (lists)
        # are the sparse format, tree objects a full dump
        fmt = "sparse" if dump and isinstance(dump[0], list) else "full"
        score_fn = xgb.dump_score_fn(dump, fmt=fmt)

        def predict_stage(df):
            return (
                P.predict(df, score_fn=score_fn, loss=P.EQUAL_LOSS)  # predict_class.py:135
                .join(names_df, "entity_id", "left")
                .select("entity_id", "name", "probs", "predicted_label")
            )

        # the model is an input of the stage: a different dump recomputes
        pred = pipe.stage(
            "predict", predict_stage, upstream=feat.df,
            upstream_fingerprint="extract|" + hashlib.sha256(dump_bytes).hexdigest(),
        )
        P.write_predictions_json(pred.df, os.path.join(args.output, "predictions_json"))
        hist = P.consent_histogram(
            pred.df.select("entity_id", "predicted_label"),
            pred.df.select("entity_id", "name"),
            args.cmp_prefix,
        ).collect()
        print(json.dumps({
            "stages": pipe.metrics(),
            "width": len(names),
            "consent_histogram": {str(r["predicted_label"]): r["n"] for r in hist},
        }))
        return

    if args.format == "libsvm":
        sinks.write_libsvm(feat.df, os.path.join(args.output, "features_libsvm"))
    else:
        sinks.write_parquet(feat.df, os.path.join(args.output, "features_parquet"))
    sinks.write_feature_map(names, os.path.join(args.output, "feature_map.txt"))

    print(json.dumps({"stages": pipe.metrics(), "width": len(names)}))


if __name__ == "__main__":
    main()
