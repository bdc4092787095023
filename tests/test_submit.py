"""spark-submit launch-mode smoke (north_rule: "launched with
spark-submit --py-files on multi-executor clusters"): zip the package,
submit plans/submit.py in a fresh JVM, verify results + lineage, then
resume the same run-id and verify idempotence."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_package(dest: str) -> str:
    zpath = os.path.join(dest, "engine.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        pkg = os.path.join(REPO, "pdf_extractor2_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zpath


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_end_to_end(spark, tmp_path):
    from pdf_extractor2_spark.sources.corpus import corpus_df

    inp = str(tmp_path / "pages")
    corpus_df(spark, 30, seed=41, pdf_share=0.2, num_partitions=2).write.parquet(inp)

    out = str(tmp_path / "results")
    metrics = str(tmp_path / "metrics")
    zpath = _zip_package(str(tmp_path))

    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--py-files", zpath,
        os.path.join(REPO, "pdf_extractor2_spark", "plans", "submit.py"),
        "--input", inp,
        "--output", out,
        "--metrics", metrics,
        "--run-id", "submit-smoke",
    ]
    env = dict(os.environ, PYTHONHASHSEED="0")
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]

    results = spark.read.parquet(out)
    assert results.count() == 30
    assert results.where("success").count() > 20
    lineage = spark.read.parquet(metrics)
    assert lineage.where("run_id = 'submit-smoke'").count() >= 1

    # resume with the same run-id: all files complete → writes nothing new,
    # and the metrics table keeps exactly one row per input file
    proc2 = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=420)
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    assert spark.read.parquet(out).count() == 30
    lineage = spark.read.parquet(metrics)
    dup = lineage.groupBy("run_id", "file_name").count().where("count > 1").collect()
    assert dup == [], dup
    assert lineage.agg({"n_docs": "sum"}).first()[0] == 30
