"""A cold search reads the term dictionary and the hits' ids on the driver.

Term dfs and prefix heads come from the live segments' ``dict`` files
(storage.SegmentFiles, pruned by row-group min/max); on a snapshot whose
id runs are disjoint a term search is one Spark job whose k hits' ids the
driver reads from the docs files. The runs come from the manifest entries,
never from the snapshot's shape.
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
    """Two segments, the second's ids after the first's: one run. Term
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
    assert idx.ctx.id_runs == [[0, 79, "a000", "b039"]]
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


def test_phrase_and_facet_queries_compile_no_new_class(spark, tmp_path):
    """A phrase's summed idf, a one-term phrase's df and a facet's idf
    enter the plan as map literals keyed by ``term``, so a second query of
    each kind with another idf compiles no Java class."""
    schema = IndexSchema()
    schema.text("text")
    schema.facet("cat")
    idx = Index(spark, str(tmp_path / "idx"), schema)
    idx.add_dataframe(spark.createDataFrame(
        [(f"d{i:03d}", " ".join(f"w{k}" for k in range(1, 6) if i % k == 0)
          + " spark", f"/c{i % 2 + i % 3}") for i in range(40)],
        "id string, text string, cat string",
    ))
    idx = idx.reload()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    for first, second in (
        (P.Phrase("text", ("w2", "spark")), P.Phrase("text", ("w3", "spark"))),
        (P.Phrase("text", ("w2",)), P.Phrase("text", ("w3",))),
        (idx.facet_query("cat", "/c1"), idx.facet_query("cat", "/c2")),
    ):
        assert idx.search(first)
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        assert idx.search(second)
        assert metrics.METRIC_COMPILATION_TIME().getCount() == before, second


def _assert_paths_agree(idx, queries, pages=((10, 0),)) -> None:
    """search_with_scores (the driver-id path when the snapshot has id
    runs) equals the join-then-rank search_df for each (limit, offset),
    ties at the page boundaries included."""
    for q in queries:
        for limit, offset in pages:
            want = [
                (r["id"], r["score"])
                for r in idx.search_df(q, limit, offset).collect()
            ]
            assert idx.search_with_scores(q, limit, offset) == want, q
            assert want == sorted(want, key=lambda h: (-h[1], h[0]))


def test_id_order_comes_from_the_manifest(spark, tmp_path):
    """A build records one id run. An appended segment whose ids sort
    BEFORE the first segment's adds a run with a disjoint id range: the
    snapshot still ranks without the id join, and so does its merge, which
    keeps both runs. Only overlapping id ranges (an upsert re-adding an
    id, interleaved ids) leave no runs. Both paths agree at every stage,
    on pages inside and across the first run in id order."""
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path / "idx"), schema)
    _add(spark, idx, [(f"m{i:03d}", "alpha beta") for i in range(20)])
    idx = idx.reload()
    (entry,) = idx.snapshot.manifest["segments"]
    assert entry["id_runs"] == [[0, 19, "m000", "m019"]]
    assert idx.ctx.id_runs == entry["id_runs"]
    # every tied query: a constant-score prefix and a term in every doc
    queries = [P.Prefix("text", "al"), P.Term("text", "alpha")]
    pages = ((10, 0), (10, 15), (30, 5))
    _assert_paths_agree(idx, queries, pages)

    _add(spark, idx, [(f"a{i:03d}", "alpha gamma") for i in range(20)])
    idx = idx.reload()
    runs = [[0, 19, "m000", "m019"], [20, 39, "a000", "a019"]]
    assert idx.ctx.id_runs == runs
    want = [f"a{i:03d}" for i in range(10)]
    for q in queries:
        assert idx.search(q) == want
        assert idx.search(q, limit=10, offset=15) == (
            [f"a{i:03d}" for i in range(15, 20)] + [f"m{i:03d}" for i in range(5)]
        )
    _assert_paths_agree(idx, queries, pages)

    idx.merge_segments()
    idx = idx.reload()
    (merged,) = idx.snapshot.manifest["segments"]
    assert merged["id_runs"] == runs and idx.ctx.id_runs == runs
    for q in queries:
        assert idx.search(q) == want
    _assert_paths_agree(idx, queries, pages)

    # an upsert re-adding an id overlaps the run that held it
    idx.add({"id": "m005", "text": "alpha again"})
    idx = idx.reload()
    assert idx.ctx.id_runs is None
    _assert_paths_agree(idx, queries, pages)

    # a fresh index: appending after the largest id folds into one run;
    # interleaved ids overlap
    fresh = Index(spark, str(tmp_path / "fresh"), schema)
    _add(spark, fresh, [(f"m{i:03d}", "alpha beta") for i in range(0, 40, 2)])
    _add(spark, fresh, [(f"z{i:03d}", "alpha delta") for i in range(5)])
    fresh = fresh.reload()
    assert fresh.ctx.id_runs == [[0, 24, "m000", "z004"]]
    _assert_paths_agree(fresh, queries + [P.Term("text", "delta")], pages)
    _add(spark, fresh, [(f"m{i:03d}", "alpha odd") for i in range(1, 40, 2)])
    fresh = fresh.reload()
    assert fresh.ctx.id_runs is None
    _assert_paths_agree(fresh, queries, pages)


def test_one_job_per_cold_search_with_appends_and_deletes(spark, tmp_path):
    """A cold term search is 1 Spark job on an appended segment whose ids
    sort first, on its merge, and after 1 and after 6 small delete+add
    transactions alike: each commit's deletes are doc ids, applied as one
    filter over one scan per table. A reload with inline deletes starts
    no job."""
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path / "idx"), schema)
    _add(spark, idx, [(f"m{i:03d}", "alpha beta") for i in range(20)])
    _add(spark, idx, [(f"a{i:03d}", "alpha gamma") for i in range(20)])

    def cold_jobs() -> tuple:
        idx.reload()
        group = f"cold-{idx.snapshot.version}"
        hits, jobs = _jobs(
            spark, group, lambda: idx.search(P.Term("text", "alpha"), limit=50)
        )
        _assert_paths_agree(idx, [P.Term("text", "alpha")], ((50, 0),))
        return len(jobs), hits

    assert cold_jobs()[0] == 1
    idx.merge_segments()
    assert cold_jobs()[0] == 1

    counts = []
    for k in range(6):
        with idx.transaction():
            idx.delete(f"m{k:03d}")
            idx.add({"id": f"z{k:03d}", "text": "alpha zeta"})
        if k in (0, 5):
            n, hits = cold_jobs()
            counts.append(n)
            assert len(hits) == 40 and f"z{k:03d}" in hits
            assert not {f"m{j:03d}" for j in range(k + 1)} & set(hits)
    assert counts == [1, 1]
    inline = [e["tombstones"] for e in idx.snapshot.manifest["segments"][1:]]
    assert len(inline) == 6 and all(len(t) == 1 for t in inline)
    _, jobs = _jobs(spark, "reload", lambda: idx.reload().ctx)
    assert jobs == []


def test_one_file_scan_per_table(spark, tmp_path):
    """Over three segments (one with a delete), the executed plan of a
    joined search reads postings in one FileScan and docs in one, each
    over all three segment directories."""
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path / "idx"), schema)
    for seg in "abc":
        _add(spark, idx, [(f"{seg}{i:03d}", "alpha beta") for i in range(10)])
    idx.delete("b003")
    idx = idx.reload()
    assert idx.ctx.segments == 3
    df = idx.search_df(P.Term("text", "alpha"), limit=50)
    assert len(df.collect()) == 29
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 2, final
    # postings reads (field, term, ...), docs (doc_id, id)
    assert sorted(ln.split("ReadSchema: struct<")[1][:5] for ln in scans) == [
        "doc_i", "field",
    ], scans
    assert all("InMemoryFileIndex(3 paths)" in ln for ln in scans), scans


def test_id_keyed_deletes_of_an_older_manifest(spark, tmp_path):
    """A manifest written before deletes were resolved at commit holds
    ids, an inline id list and an id-only tombstone table, each hitting
    the segments before its entry, and no id runs. It reads the same hits
    and scores as the doc-id form (through the join path), and a merge
    rewrites it with runs."""
    import json

    schema = IndexSchema()
    schema.text("text")
    path = str(tmp_path / "idx")
    idx = Index(spark, path, schema)
    _add(spark, idx, [(f"a{i:03d}", "alpha beta") for i in range(10)])
    with idx.transaction():  # an upsert re-adding a002: touches a001, a002
        idx.delete("a001")
        idx.add({"id": "a002", "text": "alpha again"})
    upsert = spark.createDataFrame([("a003", "alpha new")], "id string, text string")
    idx._commit_segment(upsert, deletes=upsert.select("id"))
    idx = idx.reload()
    query = P.Term("text", "alpha")
    want = idx.search_with_scores(query, limit=50)
    assert [i for i, _ in want].count("a002") == 1 and "a001" not in dict(want)

    mpath = os.path.join(path, "snapshots", f"v{idx.snapshot.version:06d}.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    _, txn, stream = manifest["segments"]
    txn["tombstones"] = ["a001", "a002"]
    table = os.path.join(path, "tombstones", stream["tombstone_table"])
    for f in _parquet_files(table):
        pq.write_table(pq.read_table(f, columns=["id"]), f)
        crc = os.path.join(table, f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):  # the local FS checks it against the file
            os.unlink(crc)
    for entry in manifest["segments"]:
        del entry["id_runs"]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    legacy = Index(spark, path)
    assert legacy.ctx.id_runs is None
    assert legacy.search_with_scores(query, limit=50) == want
    legacy.merge_segments()
    legacy = legacy.reload()
    assert legacy.ctx.id_runs is None  # a002's two runs overlapped
    assert sorted(legacy.search(query, limit=50)) == sorted(i for i, _ in want)


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
