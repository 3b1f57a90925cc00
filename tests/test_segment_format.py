"""The on-disk segment format (storage.WRITE_OPTIONS): every segment and
tombstone table is zstd Parquet with v2 pages, ``doc_id`` is delta-coded,
``positions`` keeps its dictionary. Files written before the format read
as they are, since Parquet footers describe their own encodings, and
``merge_segments()`` rewrites them. Reloading starts no Spark job."""

import glob
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tantiny_spark import plan as P
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema

ALL = 100_000  # a limit above every fixture's doc count
VOCAB = [f"w{i}" for i in range(12)]


def _schema() -> IndexSchema:
    s = IndexSchema()
    s.text("t")
    s.facet("cat")
    s.integer("n")
    return s


def _rows(prefix: str, n: int) -> list:
    return [
        (
            f"{prefix}{i:04d}",
            " ".join(VOCAB[(i * j) % len(VOCAB)] for j in range(1, 4 + i % 9)),
            f"/c{i % 3}/s{i % 4}",
            i,
        )
        for i in range(n)
    ]


def _build(spark, path: str) -> Index:
    """A bulk segment, an appended one, and an upsert whose deletes are a
    tombstone table."""
    cols = "id string, t string, cat string, n long"
    idx = Index(spark, path, _schema())
    idx.add_dataframe(spark.createDataFrame(_rows("a", 400), cols))
    idx.add_dataframe(spark.createDataFrame(_rows("b", 60), cols))
    upsert = spark.createDataFrame(
        [("a0001", "w1 w2 fresh", "/c9", 1), ("b0002", "fresh w3", "/c9", 2)],
        cols,
    )
    idx._commit_segment(upsert, deletes=upsert.select("id"))
    return idx.reload()


def _columns(path: str) -> dict:
    """``{column path: [(codec, encodings) per row group]}`` of the Parquet
    files under ``path``, read from their footers."""
    out: dict = {}
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(g).column(c)
                out.setdefault(col.path_in_schema, []).append(
                    (col.compression, set(col.encodings))
                )
    return out


def _live_tables(idx: Index) -> dict:
    """``{(segment, table): dir}`` of the live segment and tombstone
    tables at the index's current version."""
    out = {}
    for e in idx.storage.read_manifest(idx.storage.current_version())["segments"]:
        if e.get("name"):
            for t in ("docs", "postings", "dict"):
                out[(e["name"], t)] = os.path.join(
                    idx.storage.path, "segments", e["name"], t
                )
        if e.get("tombstone_table"):
            out[(e["tombstone_table"], "tombstones")] = os.path.join(
                idx.storage.path, "tombstones", e["tombstone_table"]
            )
    return out


def _assert_new_format(idx: Index) -> None:
    tables = _live_tables(idx)
    assert {t for _, t in tables} >= {"docs", "postings", "dict"}
    for (_, table), path in tables.items():
        cols = _columns(path)
        assert cols, path
        for name, chunks in cols.items():
            assert {codec for codec, _ in chunks} == {"ZSTD"}, (path, name)
        if table in ("docs", "postings"):
            for _, enc in cols["doc_id"]:
                assert "DELTA_BINARY_PACKED" in enc, (path, enc)
                assert "RLE_DICTIONARY" not in enc, (path, enc)


def test_footers_pin_the_segment_format(spark, tmp_path):
    """Every column of docs, postings, dict and the tombstone table is
    zstd; postings.doc_id and docs.doc_id are DELTA_BINARY_PACKED; the
    bulk segment's positions are dictionary-encoded."""
    idx = _build(spark, str(tmp_path / "idx"))
    tables = _live_tables(idx)
    assert sum(t == "tombstones" for _, t in tables) == 1
    _assert_new_format(idx)
    bulk = idx.storage.read_manifest(idx.storage.current_version())[
        "segments"
    ][0]["name"]
    positions = _columns(tables[(bulk, "postings")])["positions.list.element"]
    for _, enc in positions:
        assert "RLE_DICTIONARY" in enc, enc


def _answers(idx: Index) -> tuple:
    queries = [
        P.Term("t", "w1"),
        idx.parse_query("w2 OR w5 OR fresh"),
        idx.phrase_query("t", "w2 w3"),
        idx.facet_query("cat", "/c1"),
        idx.range_query("n", (10, 40)),
    ]
    return (
        [idx.search_with_scores(q, limit=ALL) for q in queries],
        idx.ctx.term_dfs("t", ["w1", "w4", "fresh", "nosuch"]),
        idx.ctx.field_stats("t"),
        [(r["path"], r["cnt"]) for r in idx.facet_counts("cat", "/").collect()],
    )


def test_mixed_format_reads_alike_and_merges_to_new(spark, tmp_path):
    """One segment rewritten with Spark's default writer (snappy, v1 pages,
    dictionaries) and an old ``<facet>__ancestors`` docs column answers
    exactly like the index written wholly in the new format; a merge
    rewrites every file in the new format."""
    idx = _build(spark, str(tmp_path / "idx"))
    want = _answers(idx)

    legacy = str(tmp_path / "legacy")
    shutil.copytree(idx.storage.path, legacy)
    seg = idx.storage.read_manifest(idx.storage.current_version())[
        "segments"
    ][0]["name"]
    for table in ("docs", "postings", "dict"):
        path = os.path.join(legacy, "segments", seg, table)
        df = spark.read.parquet(path)
        if table == "docs":
            df = df.withColumn("cat__ancestors", F.array(F.col("cat")))
        df.write.parquet(path + ".old")
        shutil.rmtree(path)
        os.rename(path + ".old", path)
        cols = _columns(path)
        assert {c for chunks in cols.values() for c, _ in chunks} == {"SNAPPY"}
        if table != "dict":
            assert all("DELTA_BINARY_PACKED" not in e for _, e in cols["doc_id"])

    old = Index(spark, legacy).reload()
    assert _answers(old) == want
    old.merge_segments()
    old = old.reload()
    _assert_new_format(old)
    # the merge drops the tombstoned docs from the BM25 totals, so scores
    # move, but every query matches the same docs
    hits = [{d for d, _ in h} for h in _answers(old)[0]]
    assert hits == [{d for d, _ in h} for h in want[0]]


def test_reload_starts_no_job(spark, tmp_path):
    """Snapshot.context() reads every segment table with its fixed schema,
    so a reload and loading its 2-segment context start no Spark job (the
    probe does see the job that inferring a schema starts)."""
    cols = "id string, t string, cat string, n long"
    idx = Index(spark, str(tmp_path / "idx"), _schema())
    idx.add_dataframe(spark.createDataFrame(_rows("a", 40), cols))
    idx.add_dataframe(spark.createDataFrame(_rows("b", 20), cols))
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    ctx, started = jobs("reload-context", lambda: idx.reload().ctx)
    assert started == []
    assert ctx.segments == 2
    seg = idx.storage.read_manifest(idx.storage.current_version())[
        "segments"
    ][0]["name"]
    _, started = jobs(
        "infer-schema",
        lambda: spark.read.parquet(
            os.path.join(idx.storage.path, "segments", seg, "docs")
        ),
    )
    assert len(started) >= 1


def test_reload_past_the_listing_threshold_starts_no_job(spark, tmp_path):
    """Spark lists more paths than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` in a Spark
    job; the segment directories are read in groups of at most that many,
    so with the threshold at 2 a 3-segment reload still starts no job and
    answers a search as with the default threshold."""
    cols = "id string, t string, cat string, n long"
    idx = Index(spark, str(tmp_path / "idx"), _schema())
    for prefix in "abc":
        idx.add_dataframe(spark.createDataFrame(_rows(prefix, 10), cols))
    expected = idx.reload().search_with_scores("w1", limit=100)
    assert len(expected) > 10
    sc = spark.sparkContext
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "2")
    try:
        sc.setJobGroup("reload-grouped", "reload-grouped")
        try:
            ctx = idx.reload().ctx
        finally:
            sc._jsc.clearJobGroup()
        started = sc.statusTracker().getJobIdsForGroup("reload-grouped")
        assert list(started) == []
        assert ctx.segments == 3
        assert idx.search_with_scores("w1", limit=100) == expected
    finally:
        spark.conf.unset(key)


def test_docs_files_hold_disjoint_doc_id_ranges(spark, tmp_path):
    """A build writes ``docs`` partition by partition in doc-id ranges, so
    the files' ``doc_id`` min/max ranges are pairwise disjoint and a
    driver-side id lookup opens only the row groups of the file whose
    range holds the doc ids, however the input's ids arrive."""
    import random

    from tantiny_spark.storage import SegmentFiles

    rows = _rows("a", 3000)
    random.Random(7).shuffle(rows)
    idx = Index(spark, str(tmp_path / "idx"), _schema())
    idx.add_dataframe(
        spark.createDataFrame(rows, "id string, t string, cat string, n long")
    )
    (seg, _), docs_dir = next(
        item for item in _live_tables(idx).items() if item[0][1] == "docs"
    )
    ranges = {}
    for f in sorted(glob.glob(os.path.join(docs_dir, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("doc_id")
        stats = [
            md.row_group(g).column(col).statistics
            for g in range(md.num_row_groups)
        ]
        ranges[f] = (min(s.min for s in stats), max(s.max for s in stats))
    assert len(ranges) >= 2
    spans = sorted(ranges.values())
    assert spans[0][0] == 0 and spans[-1][1] == 2999
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo, spans

    files = SegmentFiles([os.path.join(idx.storage.path, "segments", seg)])
    read = []
    plain_read = files._read

    def recording_read(group, columns):
        read.append(group[0])
        return plain_read(group, columns)

    files._read = recording_read
    for path, (lo, hi) in ranges.items():
        read.clear()
        want = [lo, (lo + hi) // 2, hi]
        assert files.ids(want) == {d: f"a{d:04d}" for d in want}
        assert read and set(read) == {path}
