"""The Spark jobs a build starts: the staged analyzer output is read back
with its known schema (no schema-inference job), and every job, the
segment writer's thread pool included, runs under the caller's job group.
"""

from __future__ import annotations

import os

from pyspark.sql.readwriter import DataFrameReader

from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


def _rows(spark, n):
    return spark.createDataFrame(
        [(f"d{i:03d}", f"w{i % 7} common") for i in range(n)],
        "id string, t string",
    )


def _job_ids(sc) -> set:
    """The ids of every job the session has started so far."""
    return set(range(sc._jsc.sc().dagScheduler().nextJobId()))


def test_staged_read_back_starts_no_job(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    started: list = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **kwargs):
        if paths and os.path.basename(paths[0]) == "analyzed":
            before = _job_ids(sc)
            out = parquet(self, *paths, **kwargs)
            started.append(_job_ids(sc) - before)
            return out
        return parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    s = IndexSchema()
    s.text("t")
    ix = Index(spark, str(tmp_path / "idx"), s)
    ix.add_dataframe(_rows(spark, 60))
    assert started == [set()]
    assert len(ix.reload().search("common", limit=100)) == 60


def test_build_jobs_run_in_the_callers_job_group(spark, tmp_path):
    sc = spark.sparkContext
    s = IndexSchema()
    s.text("t")
    ix = Index(spark, str(tmp_path / "idx"), s)
    rows = _rows(spark, 80)
    before = _job_ids(sc)
    sc.setJobGroup("a-build", "a-build")
    try:
        ix.add_dataframe(rows)
    finally:
        sc._jsc.clearJobGroup()
    started = _job_ids(sc) - before
    assert started
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup("a-build")) == started
