"""The extraction job under test, timed from outside the engine.

``run_job`` makes the same public calls, in the same order, as
``cli.py --mode extract --no-resume``:

    CheckpointedPipeline.stage("scan") -> compile_features (inside
    stage("extract")) -> sinks.write_parquet | write_libsvm ->
    sinks.write_feature_map

and records one span per call. With ``traced=True`` each call is also
labelled with ``setJobDescription`` so its SQL executions can be found
in Spark's status store afterwards (see ``statusstore.py``).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from cookieblock_consent_classifier_spark import sinks
from cookieblock_consent_classifier_spark.plans.compiler import (
    compile_features,
    default_schema,
    native_schema,
)
from cookieblock_consent_classifier_spark.runtime.checkpoints import CheckpointedPipeline
from cookieblock_consent_classifier_spark.sources.readers import cookie_updates_from_events
from cookieblock_consent_classifier_spark.sources.resources import fixture_resources

from workloads import Workload


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    def as_dict(self, origin: float) -> dict:
        return {
            "name": self.name,
            "parent": self.parent,
            "start_s": round(self.start - origin, 6),
            "end_s": round(self.end - origin, 6),
            "dur_s": round(self.end - self.start, 6),
        }


@dataclass
class JobResult:
    job_s: float
    spans: list[Span] = field(default_factory=list)
    sink_path: str = ""
    fmap_path: str = ""
    scan_path: str = ""  # the scan-stage checkpoint (cookie-update rows)
    extract_path: str = ""  # the extract-stage checkpoint (full rows)
    width: int = 0


def schema_for(w: Workload):
    res = fixture_resources()
    if w.kind == "events":
        return native_schema(res, num_updates=2, num_diffs=2), res
    return default_schema(res), res


class _Tracer:
    """Spans in memory; optional Spark job-description labels."""

    def __init__(self, spark, traced: bool):
        self.spark, self.traced = spark, traced
        self.spans: list[Span] = []

    def call(self, name: str, parent: str | None, fn, *args):
        if self.traced:
            self.spark.sparkContext.setJobDescription(f"perfbench:{name}")
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.spans.append(Span(name, t0, time.perf_counter(), parent))
            if self.traced and parent is not None:
                self.spark.sparkContext.setJobDescription(f"perfbench:{parent}")


def run_job(spark, w: Workload, input_path: str, out_dir: str, traced: bool = False) -> JobResult:
    schema, res = schema_for(w)
    tr = _Tracer(spark, traced)
    t0 = time.perf_counter()
    # --no-resume: drop the checkpoints (and, here, earlier outputs)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    pipe = CheckpointedPipeline(
        spark, os.path.join(out_dir, "_checkpoints"),
        config_token=f"u{schema.num_updates}d{schema.num_diffs}w{schema.total_width}i{input_path}",
    )

    def load(_):
        df = spark.read.parquet(input_path)
        return cookie_updates_from_events(df) if w.kind == "events" else df

    src = tr.call("runtime.checkpoints.scan_stage", None, pipe.stage, "scan", load)
    names: list[str] = []

    def extract(df):
        wide, n = tr.call(
            "plans.compiler.construct", "runtime.checkpoints.extract_stage",
            compile_features, df, schema, res,
        )
        names.extend(n)
        return wide

    feat = tr.call(
        "runtime.checkpoints.extract_stage", None,
        pipe.stage, "extract", extract, src.df, "scan",
    )
    if w.sink == "libsvm":
        sink_path = os.path.join(out_dir, "features_libsvm")
        tr.call("sinks.write", None, sinks.write_libsvm, feat.df, sink_path)
    else:
        sink_path = os.path.join(out_dir, "features_parquet")
        tr.call("sinks.write", None, sinks.write_parquet, feat.df, sink_path)
    fmap = os.path.join(out_dir, "feature_map.txt")
    tr.call("sinks.write_feature_map", None, sinks.write_feature_map, names, fmap)
    t1 = time.perf_counter()
    if traced:
        spark.sparkContext.setJobDescription(None)
    tr.spans.insert(0, Span("job", t0, t1, None))
    for s in tr.spans[1:]:
        if s.parent is None:
            s.parent = "job"
    return JobResult(
        job_s=t1 - t0, spans=tr.spans, sink_path=sink_path, fmap_path=fmap,
        scan_path=os.path.join(out_dir, "_checkpoints", "scan", "data"),
        extract_path=os.path.join(out_dir, "_checkpoints", "extract", "data"),
        width=len(names),
    )
