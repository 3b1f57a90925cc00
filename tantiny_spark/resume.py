"""Resumable, checkpointed bulk index build with per-partition lineage.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The bulk build is split into K deterministic shards
(murmur3 hash of the doc id mod K); each shard builds its own segment and
writes a checkpoint JSON with lineage metrics (row/token counts,
order-insensitive checksums, wall time). A crashed build re-run skips every
shard whose checkpoint exists — at 10^12 docs a lost executor hour is
re-done, not the whole job. Each checkpoint keeps the manifest entry its
segment write returned (with the segment's BM25 totals), and the final
commit is one atomic manifest swap listing those K entries, so readers
never observe a partial build.

Shard doc_id spaces are disjoint fixed ranges (shard k owns
[k·SHARD_CAPACITY, (k+1)·SHARD_CAPACITY)), making doc_ids independent of
build order and of which shards were resumed — the determinism the
rank-identity contract needs.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from tantiny_spark.build import build_segment
from tantiny_spark.errors import TantinyError
from tantiny_spark.schema import IndexSchema
from tantiny_spark.storage import IndexStorage

SHARD_CAPACITY = 10**12


def _checkpoint_dir(storage: IndexStorage) -> str:
    d = os.path.join(storage.path, "checkpoints")
    os.makedirs(d, exist_ok=True)
    return d


def _lineage_checksums(docs, postings) -> dict:
    """Order-insensitive content checksums: equal across partition layouts
    and parallelism levels, so local[8] and local[32] builds can be proven
    identical."""
    doc_row = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.crc32(F.col("id"))).alias("crc"),
    ).collect()[0]
    post_row = postings.agg(
        F.count("*").alias("n"),
        F.sum(
            F.crc32(
                F.concat_ws("\x1f", "field", "term", F.col("doc_id").cast("string"),
                            F.col("tf").cast("string"))
            )
        ).alias("crc"),
    ).collect()[0]
    return {
        "docs_rows": int(doc_row["n"]),
        "docs_crc": int(doc_row["crc"] or 0),
        "postings_rows": int(post_row["n"]),
        "postings_crc": int(post_row["crc"] or 0),
    }


def resumable_build(
    spark: SparkSession,
    source: DataFrame,
    schema: IndexSchema,
    index_path: str,
    num_shards: int = 8,
    fail_after: int | None = None,
) -> dict:
    """Build (or resume building) an index over ``source``. Returns the
    lineage manifest. ``fail_after`` aborts after that many shards complete —
    the crash-injection hook the resume test uses."""
    storage = IndexStorage(index_path)
    chk_dir = _checkpoint_dir(storage)
    sid = schema.id_field
    sharded = source.withColumn(
        "__shard", F.pmod(F.hash(F.col(sid).cast("string")), F.lit(num_shards))
    )

    lineage = []
    built = 0
    for k in range(num_shards):
        chk_path = os.path.join(chk_dir, f"part-{k:05d}.json")
        if os.path.exists(chk_path):
            with open(chk_path) as fh:
                record = json.load(fh)
            if "tokens" not in record.get("entry", {}):
                raise TantinyError(
                    f"checkpoint {chk_path} holds no segment entry with BM25 "
                    "totals (an older version wrote it); delete it to "
                    "rebuild that shard"
                )
            lineage.append(record)
            continue
        t0 = time.time()
        shard_df = sharded.where(F.col("__shard") == k).drop("__shard")
        staging = os.path.join(storage.path, "staging", f"part-{k:05d}")
        try:
            tables = build_segment(
                spark, shard_df, schema, doc_id_base=k * SHARD_CAPACITY,
                work_dir=staging,
            )
            entry = storage.write_segment(tables, name=f"seg-part-{k:05d}")
        finally:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
        stored = storage.read_tables(spark, [entry["name"]], schema)
        metrics = _lineage_checksums(stored["docs"], stored["postings"])
        record = {
            "shard": k,
            "segment": entry["name"],
            "wall_sec": round(time.time() - t0, 3),
            **metrics,
            "entry": entry,
        }
        tmp = chk_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, chk_path)  # checkpoint is atomic: done or absent
        lineage.append(record)
        built += 1
        if fail_after is not None and built >= fail_after:
            raise RuntimeError(f"injected failure after {built} shards")

    version = storage.commit(
        {
            "segments": [rec["entry"] for rec in lineage],
            "next_doc_id": num_shards * SHARD_CAPACITY,
            "schema": schema.to_json(),
            "lineage": lineage,
        }
    )
    return {"version": version, "lineage": lineage}
