"""Deploy-surface smoke (VERDICT r2 #8): the north_star run shape —
``spark-submit --py-files pero_ocr_api_spark.zip submit_job.py`` — must
work end-to-end, not just exist.  Drives a REAL spark-submit subprocess
at local[2] through the checkpointed extractor, then proves the resume
path is a no-op on a second submit."""

import json
import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    found = shutil.which("spark-submit")
    if not found:
        pytest.skip("no spark-submit binary available")
    return found


def _run(submit, zip_path, out_dir, *extra):
    proc = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--driver-memory", "2g",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path),
            str(REPO / "submit_job.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--output", str(out_dir),
            "--groups", "2",
            *extra,
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # summary is the last JSON line on stdout
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stdout
    return json.loads(lines[-1])


def _package_zip(tmp_path):
    zip_path = tmp_path / "pero_ocr_api_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in (REPO / "pero_ocr_api_spark").rglob("*.py"):
            zf.write(py, py.relative_to(REPO))
    return zip_path


def test_spark_submit_checkpointed_extractor(tmp_path):
    submit = _spark_submit()
    zip_path = _package_zip(tmp_path)
    out_dir = tmp_path / "out"

    summary = _run(submit, zip_path, out_dir)
    assert summary["groups"] == 2
    assert summary["docs"] > 0 and summary["spans"] > 0
    assert summary["metrics"]["pages_decoded"] > 0

    # committed manifests exist with lineage
    manifests = sorted((out_dir / "_manifest").glob("group-*.json"))
    assert len(manifests) == 2

    # second submit = pure resume: every group already committed, so the
    # summary (read back from the stored manifests) is byte-identical
    resumed = _run(submit, zip_path, out_dir)
    assert resumed["groups"] == summary["groups"]
    assert resumed["docs"] == summary["docs"]
    assert resumed["spans"] == summary["spans"]


def test_spark_submit_more_groups_than_docs(spark, sf_smoke, tmp_path):
    """--groups 64 over at most 20 docs: the groups without docs commit
    zero lineage rows and the job still finishes with every doc."""
    from pyspark.sql import functions as F

    from pero_ocr_api_spark.synth import interleaved_documents

    submit = _spark_submit()
    docs = interleaved_documents(spark, sf_smoke).filter(
        F.col("doc_id") < "doc-000020"
    )
    n_docs = docs.count()
    input_path = tmp_path / "docs.parquet"
    docs.write.parquet(str(input_path))
    out_dir = tmp_path / "out"

    # the extra arguments win: --input over --sf-dir, the last --groups
    summary = _run(submit, _package_zip(tmp_path), out_dir,
                   "--input", str(input_path), "--groups", "64")
    assert summary["groups"] == 64
    assert summary["docs"] == n_docs > 0
    assert summary["metrics"]["pages_decoded"] > 0
    assert len(list((out_dir / "_manifest").glob("group-*.json"))) == 64
