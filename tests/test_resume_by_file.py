"""Shuffle-free file-lineage resume (plans/extract_job.run_resumable_by_file):
kill-after-k-files restart reprocesses only the remainder; the final table
is byte-identical to an uninterrupted run; the plan has no exchange; the
metrics table holds exactly one row per file and sums to the corpus."""

from __future__ import annotations

import posixpath
import shutil

import pytest
from pyspark.sql import functions as F

from pdf_extractor2_spark.plans.extract_job import (
    run_extract,
    run_resumable_by_file,
)
from pdf_extractor2_spark.sources.corpus import corpus_df


def _assert_one_metrics_row_per_file(spark, metrics_path: str, n_docs: int) -> None:
    m = spark.read.parquet(metrics_path)
    dup = m.groupBy("run_id", "file_name").count().where("count > 1").collect()
    assert dup == [], dup
    assert m.agg(F.sum("n_docs")).first()[0] == n_docs


def test_resume_by_file(spark, tmp_path):
    pages = corpus_df(spark, 60, seed=17, pdf_share=0.2, num_partitions=4).cache()
    inp = str(tmp_path / "pages")
    pages.write.parquet(inp)
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")

    # full first run
    run_resumable_by_file(spark, inp, out, metrics, run_id="r1")
    first = spark.read.parquet(out)
    assert first.count() == 60

    m = spark.read.parquet(metrics)
    n_files = m.select("file_name").distinct().count()
    assert n_files >= 4

    # simulate a crash: drop the lineage rows for half the files and
    # delete their result partitions — resume must restore exactly them
    kept_files = sorted(r["file_name"] for r in m.select("file_name").collect())
    lost = kept_files[: len(kept_files) // 2]
    m.where(~F.col("file_name").isin(lost)).write.mode("overwrite").parquet(
        str(tmp_path / "metrics2")
    )
    lost_ids = {
        r["bucket"]
        for r in m.where(F.col("file_name").isin(lost)).select("bucket").collect()
    }
    for fid in lost_ids:
        shutil.rmtree(f"{out}/bucket={fid}")

    assert spark.read.parquet(out).count() < 60

    run_resumable_by_file(spark, inp, out, str(tmp_path / "metrics2"), run_id="r1")
    resumed = spark.read.parquet(out)
    assert resumed.count() == 60
    _assert_one_metrics_row_per_file(spark, str(tmp_path / "metrics2"), 60)

    full = run_extract(pages, num_buckets=4)
    a = sorted((r["url"], r["raw_json"]) for r in resumed.select("url", "raw_json").collect())
    b = sorted((r["url"], r["raw_json"]) for r in full.select("url", "raw_json").collect())
    assert a == b


def test_unreadable_metrics_raise_and_leave_output_alone(spark, tmp_path):
    """Only "no metrics yet" — a missing path, or an empty directory —
    means nothing completed.  A metrics path that exists but cannot be
    read (a corrupt or foreign file, a storage error) must stop the run
    before it writes anything: read as "nothing completed", it would
    re-extract every file and append a second metrics row per file for
    the same run_id."""
    pages = corpus_df(spark, 20, seed=31, pdf_share=0.0, num_partitions=2)
    inp = str(tmp_path / "pages")
    pages.write.parquet(inp)
    out = tmp_path / "out"
    metrics = tmp_path / "metrics"
    metrics.mkdir()  # empty: a fresh run
    run_resumable_by_file(spark, inp, str(out), str(metrics), run_id="r1")
    _assert_one_metrics_row_per_file(spark, str(metrics), 20)

    def snapshot():
        return {p: p.read_bytes() for p in sorted(out.rglob("*")) if p.is_file()}

    before = snapshot()
    shutil.rmtree(metrics)
    metrics.mkdir()
    (metrics / "part-00000.parquet").write_bytes(b"not a parquet file\n" * 8)
    with pytest.raises(Exception, match="part-00000.parquet"):
        run_resumable_by_file(spark, inp, str(out), str(metrics), run_id="r1")
    assert snapshot() == before
    assert [p.name for p in metrics.iterdir()] == ["part-00000.parquet"]


def test_file_lineage_plan_size_independent_of_file_count(spark, tmp_path):
    """The file→bucket mapping must travel as a broadcast manifest, not
    as per-file plan literals: the analyzed plan may not contain
    create_map, and its printed size must not grow with the file count
    (10^6-10^7 Iceberg data files at SURVEY §9 scale)."""
    from pdf_extractor2_spark.plans.extract_job import (
        file_lineage_pages,
        list_input_files,
    )

    def build(n_files: int, name: str) -> str:
        pages = corpus_df(spark, 4 * n_files, seed=5, pdf_share=0.0,
                          num_partitions=n_files)
        inp = str(tmp_path / name)
        pages.write.parquet(inp)
        files = list_input_files(spark, inp)
        assert len(files) == n_files
        manifest = spark.createDataFrame(
            [(posixpath.basename(p), i) for i, p in enumerate(files)],
            "file_name string, bucket int",
        )
        df = file_lineage_pages(spark, files, manifest)
        return df._jdf.queryExecution().analyzed().toString()

    small = build(2, "in2")
    big = build(12, "in12")
    assert "create_map" not in small and "create_map" not in big
    # 6x the files must not mean a meaningfully bigger plan tree
    assert len(big) < 1.5 * len(small), (len(small), len(big))


def test_resume_by_file_iceberg_branch_end_to_end(spark, tmp_path):
    """VERDICT r3 #5: the Iceberg listing branch exercised through the
    WHOLE resume path — ``iceberg=True`` → `files` metadata query → manifest
    join → extraction → metrics → partial-completion restart that
    reprocesses only the lost files — against a proxy session whose
    ``sql()`` answers the one metadata query (no Iceberg runtime in the
    sandbox) and delegates every real operation to the live
    SparkSession."""
    from pdf_extractor2_spark.plans import extract_job

    pages = corpus_df(spark, 40, seed=23, pdf_share=0.0, num_partitions=4).cache()
    inp = str(tmp_path / "pages")
    pages.write.parquet(inp)
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")

    real_files = extract_job.list_input_files(spark, inp)
    assert len(real_files) == 4

    class IcebergCatalogProxy:
        """A session with an 'Iceberg catalog': serves the snapshot
        file listing for the one metadata query the branch issues,
        everything else is the real session."""

        def __init__(self, inner):
            self._inner = inner
            self.files_queries = []

        def sql(self, q):
            assert q == "SELECT file_path FROM local.db.pages.files", q
            self.files_queries.append(q)

            class _DF:
                def __init__(self, rows):
                    self._rows = rows

                def collect(self):
                    return self._rows

            # unsorted on purpose: the listing must sort
            return _DF([{"file_path": p} for p in reversed(real_files)])

        def __getattr__(self, name):
            return getattr(self._inner, name)

    proxy = IcebergCatalogProxy(spark)
    table = "local.db.pages"

    extract_job.run_resumable_by_file(
        proxy, table, out, metrics, run_id="r1", iceberg=True
    )
    assert proxy.files_queries == ["SELECT file_path FROM local.db.pages.files"]
    assert spark.read.parquet(out).count() == 40

    # partial-completion crash: lose the lineage rows and result
    # partitions of half the files
    m = spark.read.parquet(metrics)
    names = sorted(r["file_name"] for r in m.select("file_name").collect())
    lost = names[: len(names) // 2]
    m.where(~F.col("file_name").isin(lost)).write.mode("overwrite").parquet(
        str(tmp_path / "metrics2")
    )
    for r in m.where(F.col("file_name").isin(lost)).select("bucket").collect():
        shutil.rmtree(f"{out}/bucket={r['bucket']}")
    assert spark.read.parquet(out).count() < 40

    # restart: the branch re-lists from the catalog, skips completed
    # files, restores exactly the lost partitions
    extract_job.run_resumable_by_file(
        proxy, table, out, str(tmp_path / "metrics2"), run_id="r1", iceberg=True
    )
    assert len(proxy.files_queries) == 2
    resumed = spark.read.parquet(out)
    assert resumed.count() == 40
    _assert_one_metrics_row_per_file(spark, str(tmp_path / "metrics2"), 40)

    full = run_extract(pages, num_buckets=4)
    a = sorted((r["url"], r["raw_json"])
               for r in resumed.select("url", "raw_json").collect())
    b = sorted((r["url"], r["raw_json"])
               for r in full.select("url", "raw_json").collect())
    assert a == b


def test_list_input_files_iceberg_mocked():
    """The production file-listing branch issues exactly one metadata
    query against the Iceberg ``files`` table and returns sorted paths —
    verified against a mocked catalog (no Iceberg runtime in the
    sandbox; the SQL text and result plumbing are what's under test)."""
    from pdf_extractor2_spark.plans.extract_job import list_input_files_iceberg

    class FakeDF:
        def __init__(self, rows):
            self._rows = rows

        def collect(self):
            return self._rows

    class FakeSpark:
        def __init__(self):
            self.sql_text = None

        def sql(self, q):
            self.sql_text = q
            return FakeDF(
                [
                    {"file_path": "s3://bucket/t/data/part-2.parquet"},
                    {"file_path": "s3://bucket/t/data/part-1.parquet"},
                ]
            )

    fake = FakeSpark()
    files = list_input_files_iceberg(fake, "cat.db.pages")
    assert files == [
        "s3://bucket/t/data/part-1.parquet",
        "s3://bucket/t/data/part-2.parquet",
    ]
    assert fake.sql_text == "SELECT file_path FROM cat.db.pages.files"
