"""A cold search reads the term dictionary and the hits' ids on the driver.

Term dfs and prefix heads come from the live segments' ``dict`` files
(storage.SegmentFiles, pruned by row-group min/max); on an id-ordered
snapshot a term search is one Spark job whose k hits' ids the driver reads
from the docs files. Whether a snapshot is id-ordered comes from its
manifest entries, never from its shape.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tantiny_spark import executor
from tantiny_spark import plan as P
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema
from tantiny_spark.storage import SegmentFiles, _parquet_files


def _jobs(spark, group: str, fn):
    """(fn(), the ids of the Spark jobs fn started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _add(spark, idx, rows):
    idx.add_dataframe(spark.createDataFrame(rows, "id string, text string"))


@pytest.fixture(scope="module")
def ordered(spark, tmp_path_factory):
    """Two segments, the second's ids after the first's: id-ordered. Term
    ``wK`` is in every K-th doc, so each has its own df."""
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path_factory.mktemp("ordered") / "idx"), schema)
    for seg in ("a", "b"):
        _add(spark, idx, [
            (f"{seg}{i:03d}", " ".join(
                f"w{k}" for k in range(1, 6) if i % k == 0
            ) + " spark")
            for i in range(40)
        ])
    return idx.reload()


def test_cold_search_job_counts(spark, ordered):
    """After a reload: a term search is 1 job; term dfs and prefix heads
    are 0; a fuzzy or regex head is still 1 (Java regex, the JVM
    levenshtein prefilter)."""
    idx = ordered.reload()
    assert idx.ctx.id_ordered
    hits, jobs = _jobs(
        spark, "term", lambda: idx.search(P.Term("text", "w3"), limit=5)
    )
    assert len(hits) == 5 and len(jobs) == 1, jobs
    dfs, jobs = _jobs(
        spark, "dfs", lambda: idx.ctx.term_dfs("text", ["w2", "w5", "nosuch"])
    )
    assert dfs == {"w2": 40, "w5": 16, "nosuch": 0} and jobs == []
    head, jobs = _jobs(
        spark, "prefix",
        lambda: executor._capped_terms(idx.ctx, "text", "w"),
    )
    assert head == ["w1", "w2", "w3", "w4", "w5"] and jobs == []
    first, jobs = _jobs(
        spark, "first", lambda: executor._first_terms(idx.ctx, "text", "w", 2)
    )
    assert first == ["w1", "w2"] and jobs == []
    for node in (P.FuzzyTerm("text", "w9", 1), P.Regex("text", "w[45]")):
        _, jobs = _jobs(
            spark, type(node).__name__,
            lambda: executor.compile_plan(node, idx.ctx),
        )
        assert len(jobs) == 1, (node, jobs)


def test_term_query_compiles_no_new_class(spark, ordered):
    """A term's df enters the plan as a map literal, not an inlined
    double, so a second term query with another df on the same snapshot
    compiles no Java class."""
    idx = ordered.reload()
    dfs = idx.ctx.term_dfs("text", ["w2", "w3"])
    assert dfs["w2"] != dfs["w3"]
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    idx.search(P.Term("text", "w2"))
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    assert len(idx.search(P.Term("text", "w3"))) == 10
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


def _assert_paths_agree(idx, queries) -> None:
    """search_with_scores (the driver-id path when id-ordered) equals the
    join-then-rank search_df, ties at the top-10 boundary included."""
    for q in queries:
        want = [(r["id"], r["score"]) for r in idx.search_df(q).collect()]
        assert idx.search_with_scores(q) == want, q
        assert want == sorted(want, key=lambda h: (-h[1], h[0]))


def test_id_order_comes_from_the_manifest(spark, tmp_path):
    """An appended segment whose ids sort BEFORE the first segment's makes
    the snapshot not id-ordered, and a merge of it stays so: doc_id order
    would rank m… before a… among the tied hits. Appending after the
    largest id keeps the order; an upsert re-adding an id breaks it."""
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path / "idx"), schema)
    _add(spark, idx, [(f"m{i:03d}", "alpha beta") for i in range(20)])
    idx = idx.reload()
    (entry,) = idx.snapshot.manifest["segments"]
    assert entry["id_range"] == ["m000", "m019"] and entry["id_ordered"]
    assert idx.ctx.id_ordered
    # every tied query: a constant-score prefix and a term in every doc
    queries = [P.Prefix("text", "al"), P.Term("text", "alpha")]
    _assert_paths_agree(idx, queries)

    _add(spark, idx, [(f"a{i:03d}", "alpha gamma") for i in range(20)])
    idx = idx.reload()
    assert not idx.ctx.id_ordered
    want = [f"a{i:03d}" for i in range(10)]
    for q in queries:
        assert idx.search(q) == want
    _assert_paths_agree(idx, queries)

    idx.merge_segments()
    idx = idx.reload()
    (merged,) = idx.snapshot.manifest["segments"]
    assert merged["id_range"] == ["a000", "m019"]
    assert not merged["id_ordered"] and not idx.ctx.id_ordered
    for q in queries:
        assert idx.search(q) == want
    _assert_paths_agree(idx, queries)

    # a fresh index: appending after the largest id stays id-ordered, and
    # re-adding an existing id does not
    fresh = Index(spark, str(tmp_path / "fresh"), schema)
    _add(spark, fresh, [(f"m{i:03d}", "alpha beta") for i in range(20)])
    _add(spark, fresh, [(f"z{i:03d}", "alpha delta") for i in range(5)])
    fresh = fresh.reload()
    assert fresh.ctx.id_ordered
    _assert_paths_agree(fresh, queries + [P.Term("text", "delta")])
    fresh.add({"id": "m005", "text": "alpha again"})
    fresh = fresh.reload()
    assert not fresh.ctx.id_ordered
    _assert_paths_agree(fresh, queries)


def test_dict_is_written_sorted(ordered):
    """Every segment's dict, read in file order, is sorted by (field,
    term): what bounds each row group's terms."""
    for name in (e["name"] for e in ordered.snapshot.manifest["segments"]):
        files = _parquet_files(
            os.path.join(ordered.storage.path, "segments", name, "dict")
        )
        rows = [
            (f, t) for p in files
            for f, t in zip(*pq.read_table(p, columns=["field", "term"])
                            .to_pydict().values())
        ]
        assert rows and rows == sorted(rows)


def _write_dict(seg_dir, rows, per_file: int, per_group: int) -> None:
    """Write sorted (field, term, df) rows as several files of several row
    groups each."""
    os.makedirs(os.path.join(seg_dir, "dict"))
    for k in range(0, len(rows), per_file):
        chunk = rows[k:k + per_file]
        pq.write_table(
            pa.table({
                "field": [r[0] for r in chunk], "term": [r[1] for r in chunk],
                "df": pa.array([r[2] for r in chunk], pa.int64()),
            }),
            os.path.join(seg_dir, "dict", f"part-{k // per_file:05d}.parquet"),
            row_group_size=per_group,
        )


def test_lookups_read_only_row_groups_holding_the_terms(tmp_path, monkeypatch):
    """Over two segments whose dicts span several files of 20-row row
    groups, a df lookup or a prefix head opens only the row groups whose
    (field, term) min/max may hold what it asks for, and answers like a
    full scan would."""
    seg0 = [("a", f"t{i:03d}", 1) for i in range(40)] + [
        ("text", f"t{i:03d}", 2) for i in range(200)
    ]
    seg1 = [("text", f"t{i:03d}", 5) for i in range(0, 200, 2)]
    dirs = [str(tmp_path / "s0"), str(tmp_path / "s1")]
    _write_dict(dirs[0], seg0, per_file=100, per_group=20)
    _write_dict(dirs[1], seg1, per_file=60, per_group=20)
    files = SegmentFiles(dirs)
    assert len(files._row_groups("dict")) == 12 + 5

    reads: list = []
    read = pq.ParquetFile.read_row_group

    def spy(self, i, *args, **kwargs):
        t = read(self, i, *args, **kwargs)
        reads.append((t["field"][0].as_py(), t["term"][0].as_py(),
                      t["field"][-1].as_py(), t["term"][-1].as_py()))
        return t

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    assert files.term_dfs("text", ["t124", "t131", "zzz"]) == {
        "t124": 7, "t131": 2,
    }
    # seg0: t124 and t131 share the text group t120..t139; seg1: t124 in
    # its group t120..t158 (field a's groups and the rest are skipped)
    assert sorted(reads) == [
        ("text", "t120", "text", "t139"), ("text", "t120", "text", "t158"),
    ]
    reads.clear()
    assert files.term_head("text", "t19", 4) == ["t190", "t190", "t191", "t192"]
    # seg1's t160..t198 and seg0's t180..t199; seg0's t160..t179 ends
    # before the prefix
    assert sorted(reads) == [
        ("text", "t160", "text", "t198"), ("text", "t180", "text", "t199"),
    ]
    reads.clear()
    # a head that fills from its first row group skips the later ones
    assert files.term_head("text", "t", 3) == ["t000", "t000", "t001"]
    assert len(reads) <= 3, reads
