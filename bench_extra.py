"""Phase-level profiling harness for the index build (guide §1: measure first).

Replicates bench.py's corpus + schema + build EXACTLY, but times each internal
phase of one segment build separately so optimization work targets the real
wall-clock sink instead of the aggregate `index_build` number. bench.py stays
frozen; this file only reads.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 SPARK_GRAFT_CPUS=32 python bench_extra.py

Prints one JSON line: {"phases": {...}, "total": ..., "n_docs": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession  # noqa: E402

from bench import build_schema, corpus  # noqa: E402  (frozen bench's own corpus)
from tantiny_spark.build import build_segment  # noqa: E402
from tantiny_spark.index import Index  # noqa: E402
from tantiny_spark.storage import IndexStorage, dict_table  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    repl = int(os.environ.get("SPARK_GRAFT_REPL", "1"))
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    spark = (
        SparkSession.builder.master(master)
        .appName("tantiny-spark-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="tantiny_bex_")
    phases: dict[str, float] = {}

    def mark(name, t0):
        phases[name] = round(time.time() - t0, 3)

    try:
        src = corpus(spark, sf_dir, repl)
        n_docs = src.count()

        # warm-up exactly like bench.py: 64-doc build + search
        warm = Index(spark, os.path.join(tmp, "warm"), build_schema())
        warm.add_dataframe(src.limit(64))
        warm.reload()
        warm.search(warm.all_query(), limit=1)

        # ---- phase-timed single build (mirrors Index._commit_segment) ----
        sc = spark.sparkContext
        path = os.path.join(tmp, "idx")
        storage = IndexStorage(path)
        staging = os.path.join(path, "staging", "profile")
        schema = build_schema()
        t_all = time.time()

        sc.setJobDescription("build: build_segment (count + staging write)")
        t0 = time.time()
        tables = build_segment(spark, src, schema, doc_id_base=0, work_dir=staging)
        mark("build_segment_incl_staging", t0)

        seg_dir = os.path.join(path, "segments", "seg-profile")
        sc.setJobDescription("build: docs write")
        t0 = time.time()
        tables["docs"].write.mode("overwrite").parquet(os.path.join(seg_dir, "docs"))
        mark("docs_write", t0)

        sc.setJobDescription("build: postings write")
        t0 = time.time()
        tables["postings"].write.mode("overwrite").parquet(
            os.path.join(seg_dir, "postings")
        )
        mark("postings_write", t0)

        sc.setJobDescription("build: dict derive")
        t0 = time.time()
        stored = spark.read.parquet(os.path.join(seg_dir, "postings"))
        dict_table(stored).write.mode("overwrite").parquet(
            os.path.join(seg_dir, "dict")
        )
        mark("dict_write", t0)

        sc.setJobDescription("build: stats write")
        t0 = time.time()
        stats_df = tables["stats"]()
        stats_df.write.mode("overwrite").parquet(os.path.join(seg_dir, "stats"))
        mark("stats_write", t0)

        storage.commit(
            {
                "segments": [{"name": "seg-profile", "tombstones": []}],
                "next_doc_id": tables["n_docs"],
                "schema": schema.to_json(),
            }
        )
        mark("segment_total", t_all)

        sc.setJobDescription("reload + first search")
        t0 = time.time()
        ix = Index(spark, path)
        ix.reload()
        mark("reload", t0)
        t0 = time.time()
        ix.search(ix.all_query(), limit=1)
        mark("first_search_warm", t0)
        sc.setJobDescription(None)

        print(
            json.dumps(
                {
                    "phases": phases,
                    "n_docs": n_docs,
                    "sf": sf_dir.rstrip("/").split("sf")[-1],
                    "cpus": cpus,
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
