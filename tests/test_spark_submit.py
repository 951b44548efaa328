"""North-rule ship path: the job must run via
``spark-submit --py-files pkg.zip`` (BASELINE.json north_rule). This
drives the real spark-submit binary as a subprocess, with the package
shipped ONLY through --py-files (cwd is a temp dir, PYTHONPATH
scrubbed), and checks the extraction output."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _make_pkg_zip(dest: Path) -> Path:
    pkg_zip = dest / "pkg.zip"
    root = REPO / "cookieblock_consent_classifier_spark"
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for p in root.rglob("*.py"):
            zf.write(p, p.relative_to(REPO))
    return pkg_zip


def test_spark_submit_py_files_end_to_end(tmp_path):
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit"
    )
    assert os.path.exists(spark_submit), "spark-submit not found"

    pkg_zip = _make_pkg_zip(tmp_path)
    launcher = tmp_path / "submit_extract.py"
    launcher.write_text((REPO / "scripts" / "submit_extract.py").read_text())
    out_dir = tmp_path / "out"

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"
    res = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", str(pkg_zip),
            str(launcher),
            "--input", "synth:300",
            "--output", str(out_dir),
            "--format", "libsvm",
            "--no-resume",
        ],
        cwd=str(tmp_path),  # repo NOT on sys.path: the zip must supply the package
        env=env,
        capture_output=True,
        text=True,
        timeout=560,
    )
    assert res.returncode == 0, res.stderr[-3000:]

    metrics = [l for l in res.stdout.splitlines() if l.startswith("{")]
    assert metrics, res.stdout[-2000:]
    report = json.loads(metrics[-1])
    assert report["width"] == 164  # fixture-resource default schema
    stage_names = [s["stage"] for s in report["stages"]]
    assert stage_names == ["scan", "extract"]

    fmap = (out_dir / "feature_map.txt").read_text().splitlines()
    assert len(fmap) == 164 and fmap[0].endswith(" i")
    svm_files = list((out_dir / "features_libsvm").glob("part-*"))
    assert svm_files, "libsvm output missing"
    first = svm_files[0].read_text().splitlines()
    assert first and all(" " in line for line in first)
