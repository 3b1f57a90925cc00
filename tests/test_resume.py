"""Resumability: kill the build mid-way, re-run, get the identical index
(FIXTURES.md §5 resume fixture / north_rule)."""

import json
import os

import pytest

from tantiny_spark.index import Index
from tantiny_spark.resume import resumable_build
from tantiny_spark.schema import IndexSchema


def make_df(spark, n=200):
    rows = [
        (f"doc{i:04d}", f"word{i % 17} common word{i % 5} text body {i % 3}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id string, text string")


def schema():
    s = IndexSchema()
    s.text("text")
    return s


def test_kill_and_resume_identical(spark, tmp_path):
    df = make_df(spark)

    # full build (the expected outcome)
    full = resumable_build(spark, df, schema(), str(tmp_path / "full"), num_shards=4)

    # crashed build: dies after 2 of 4 shard checkpoints
    crash_path = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_build(spark, df, schema(), crash_path, num_shards=4, fail_after=2)
    # no commit happened: a reader sees an empty index, never a partial one
    assert not os.path.exists(os.path.join(crash_path, "HEAD"))
    done = os.listdir(os.path.join(crash_path, "checkpoints"))
    assert len(done) == 2

    # resume: completes the remaining shards only
    resumed = resumable_build(spark, df, schema(), crash_path, num_shards=4)

    # lineage checksums identical shard-by-shard
    key = lambda rec: rec["shard"]  # noqa: E731
    for a, b in zip(sorted(full["lineage"], key=key), sorted(resumed["lineage"], key=key)):
        assert (a["docs_rows"], a["docs_crc"], a["postings_rows"], a["postings_crc"]) == (
            b["docs_rows"], b["docs_crc"], b["postings_rows"], b["postings_crc"]
        )

    # identical search behavior
    ia = Index(spark, str(tmp_path / "full"))
    ib = Index(spark, crash_path)
    for q in ["common", "word3", "body"]:
        assert ia.search(q, limit=20) == ib.search(q, limit=20)
    # the committed entries carry the checkpointed BM25 totals
    assert ib.ctx.field_stats("text") == ia.ctx.field_stats("text")
    assert ib.ctx.field_stats("text")[0] == 200

    # manifest records lineage + metrics
    manifest = json.load(
        open(os.path.join(crash_path, "snapshots", "v000001.json"))
    )
    assert len(manifest["lineage"]) == 4
    assert all("wall_sec" in rec and "postings_crc" in rec for rec in manifest["lineage"])


def test_checkpoint_without_entry_fails_loudly(spark, tmp_path):
    """A checkpoint that holds no segment entry with BM25 totals (one
    written before checkpoints kept the entry) stops the resume before the
    commit instead of committing an entry without totals."""
    from tantiny_spark.errors import TantinyError

    path = str(tmp_path / "idx")
    df = make_df(spark, n=40)
    with pytest.raises(RuntimeError, match="injected failure"):
        resumable_build(spark, df, schema(), path, num_shards=2, fail_after=1)
    chk = os.path.join(path, "checkpoints", "part-00000.json")
    with open(chk) as fh:
        record = json.load(fh)
    assert record["entry"]["num_docs"] == record["docs_rows"]
    del record["entry"]
    with open(chk, "w") as fh:
        json.dump(record, fh)

    with pytest.raises(TantinyError, match="part-00000.json"):
        resumable_build(spark, df, schema(), path, num_shards=2)
    assert not os.path.exists(os.path.join(path, "HEAD"))
