"""Index lifecycle tests — ports of spec/tantiny/index_spec.rb (SURVEY.md §5)."""

from datetime import datetime

import pytest

from tantiny_spark.analysis.tokenizers import Tokenizer
from tantiny_spark.errors import IndexWriterBusyError, UnexpectedNone
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


def movie_schema() -> IndexSchema:
    # README.md:56-65 / index_spec.rb:136-159
    s = IndexSchema()
    s.id("imdb_id")
    s.facet("category")
    s.string("title")
    s.text("description", tokenizer=Tokenizer.new("simple"))
    s.integer("duration")
    s.double("rating")
    s.date("release_date")
    return s


HANABI = {
    "imdb_id": "tt0119250",
    "category": "/crime/Japan",
    "title": "Hana-bi",
    "description": "Takeshi Kitano goes bonkers.",
    "duration": 103,
    "rating": 7.7,
    "release_date": datetime(1998, 12, 1),
}


def test_readme_smoke(spark, tmp_path):
    # README.md:16-25 — the one-real-query milestone
    s = IndexSchema()
    s.text("description")
    idx = Index(spark, str(tmp_path / "idx"), s)
    with idx.transaction():
        idx.add({"id": 1, "description": "Hello World!"})
        idx.add({"id": 2, "description": "What's up?"})
        idx.add({"id": 3, "description": "Goodbye World!"})
    idx.reload()
    assert sorted(idx.search("world")) == ["1", "3"]


def test_movie_doc_all_query_families(spark, tmp_path):
    # index_spec.rb:161-180
    idx = Index(spark, str(tmp_path / "idx"), movie_schema())
    idx.add(HANABI)
    idx.reload()
    assert idx.search(idx.term_query("title", "Hana-bi")) == ["tt0119250"]
    assert idx.search(idx.term_query("description", "bonkers")) == ["tt0119250"]
    assert idx.search(idx.facet_query("category", "/crime")) == ["tt0119250"]
    assert idx.search(idx.range_query("duration", (100, 150))) == ["tt0119250"]
    assert idx.search(idx.range_query("rating", (7.0, 10.0))) == ["tt0119250"]
    assert idx.search(
        idx.range_query("release_date", (datetime(1900, 1, 1), datetime(2000, 1, 1)))
    ) == ["tt0119250"]


def test_object_documents(spark, tmp_path):
    # documents may be any object responding to field names (index.rb:112-114)
    class Movie:
        imdb_id = "tt1"
        title = "Up"
        description = None
        duration = 96

    idx = Index(spark, str(tmp_path / "idx"), movie_schema())
    idx.add(Movie())
    idx.reload()
    assert idx.search(idx.term_query("title", "Up")) == ["tt1"]


def test_missing_id_raises(spark, tmp_path):
    idx = Index(spark, str(tmp_path / "idx"), movie_schema())
    with pytest.raises(UnexpectedNone):
        idx.add({"title": "No id"})


def test_reload_visibility(spark, tmp_path):
    # index_spec.rb:210-216 — readers see nothing until reload
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    idx.add({"id": 1, "t": "hello"})
    assert idx.search("hello") == []  # old snapshot
    idx.reload()
    assert idx.search("hello") == ["1"]


def test_upsert_replaces(spark, tmp_path):
    # README.md:121-126 — re-adding same id replaces (delete-then-add)
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    idx.add({"id": 1, "t": "old words"})
    idx.add({"id": 1, "t": "new words"})
    idx.reload()
    assert idx.search("old") == []
    assert idx.search("new") == ["1"]
    assert idx.search("words") == ["1"]  # exactly once


def test_delete_committed_and_uncommitted(spark, tmp_path):
    # index_spec.rb:218-247
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    idx.add({"id": "kek", "t": "kek"})
    idx.reload()
    assert idx.search("kek") == ["kek"]
    idx.delete("kek")
    idx.reload()
    assert idx.search("kek") == []
    # uncommitted: add + delete in one transaction
    with idx.transaction():
        idx.add({"id": "lol", "t": "lol"})
        idx.delete("lol")
    idx.reload()
    assert idx.search("lol") == []


def test_search_limit(spark, tmp_path):
    # index_spec.rb:249-289 — limit, default 10
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    with idx.transaction():
        for i in range(15):
            idx.add({"id": i, "t": "hello"})
    idx.reload()
    assert len(idx.search("hello")) == 10
    assert len(idx.search("hello", limit=2)) == 2
    assert len(idx.search("hello", limit=100)) == 15


def test_writer_lock(spark, tmp_path):
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    idx2 = Index(spark, str(tmp_path / "idx"), s)
    with idx.transaction():
        idx.add({"id": 1, "t": "x"})
        with pytest.raises(IndexWriterBusyError):
            with idx2.transaction():
                pass


def test_exclusive_writer(spark, tmp_path):
    # index.rb:36-43 / index_spec.rb:116-126
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s, exclusive_writer=True)
    with pytest.raises(IndexWriterBusyError):
        Index(spark, str(tmp_path / "idx"), s, exclusive_writer=True)
    idx.add({"id": 1, "t": "x"})  # owner can still write
    idx.close()
    # after release another exclusive writer can attach
    idx2 = Index(spark, str(tmp_path / "idx"), s, exclusive_writer=True)
    idx2.close()


def test_default_tokenizer_override(spark, tmp_path):
    from tantiny_spark.analysis.tokenizers import Tokenizer

    s = IndexSchema()
    s.text("t")
    idx = Index(
        spark, str(tmp_path / "idx"), s, tokenizer=Tokenizer.new("stemmer", language="en")
    )
    idx.add({"id": 1, "t": "running threes"})
    idx.reload()
    assert idx.search("runs") == ["1"]  # stems to 'run'


def test_schema_persists(spark, tmp_path):
    idx = Index(spark, str(tmp_path / "idx"), movie_schema())
    idx.add(HANABI)
    # reopen without passing a schema
    reopened = Index(spark, str(tmp_path / "idx"))
    assert reopened.schema.id_field == "imdb_id"
    assert reopened.search(reopened.term_query("title", "Hana-bi")) == ["tt0119250"]


def test_merge_segments(spark, tmp_path):
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    idx.add({"id": 1, "t": "alpha beta"})
    idx.add({"id": 2, "t": "alpha gamma"})
    idx.add({"id": 1, "t": "alpha delta"})  # upsert
    idx.delete(2)
    idx.reload()
    assert idx.search("alpha") == ["1"]
    before = idx.search_with_scores("alpha")

    idx.merge_segments()
    idx.reload()
    manifest = idx.snapshot.manifest
    assert len(manifest["segments"]) == 1
    assert idx.search("alpha") == ["1"]
    assert idx.search("beta") == []
    assert idx.search("delta") == ["1"]
    # post-merge stats drop the dead docs: N=1, df(alpha)=1 → new scores
    after = idx.search_with_scores("alpha")
    assert after[0][0] == before[0][0] == "1"


def _built_doc_ids(spark, path, monkeypatch, df, base, min_docs) -> tuple:
    """``build_segment``'s sorted (doc_id, id) rows over ``df`` (columns
    id, t) with ``ANALYZER_MIN_DOCS_PER_PARTITION = min_docs``, and the
    number of analyzer partitions that held docs."""
    import os

    from tantiny_spark import build

    monkeypatch.setattr(build, "ANALYZER_MIN_DOCS_PER_PARTITION", min_docs)
    s = IndexSchema()
    s.text("t")
    tables = build.build_segment(
        spark, df, s, doc_id_base=base, work_dir=str(path)
    )
    docs = tables["docs"].select("doc_id", "id").collect()
    rows = sorted((r["doc_id"], r["id"]) for r in docs)
    staged = spark.read.parquet(os.path.join(str(path), "analyzed"))
    return rows, staged.select("__part").distinct().count()


def test_deterministic_doc_ids(spark, tmp_path, monkeypatch):
    # doc_id = base + global rank of id: stable across partition counts
    data = [(f"id{i:03d}", f"payload {i}") for i in range(97, -1, -1)]
    df = spark.createDataFrame(data, "id string, t string").repartition(3)
    for min_docs, n_parts, base in ((500, 1, 0), (25, 4, 100)):
        rows, parts = _built_doc_ids(
            spark, tmp_path / f"w{min_docs}", monkeypatch, df, base, min_docs
        )
        assert parts == n_parts
        assert dict((i, d) for d, i in rows) == {
            f"id{i:03d}": base + i for i in range(98)
        }


def test_maybe_merge_policy(spark, tmp_path):
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idxmm"), s)
    for i in range(3):  # three separate commits -> three live segments
        idx.add({"id": i, "t": f"alpha doc{i}"})
    idx.reload()
    assert idx.segment_count() == 3
    # below threshold: no merge job spent
    assert idx.maybe_merge(max_segments=3) is None
    assert idx.segment_count() == 3
    # above threshold: compacts to one
    assert idx.maybe_merge(max_segments=2) is not None
    idx.reload()
    assert idx.segment_count() == 1
    assert sorted(idx.search("alpha")) == ["0", "1", "2"]
    import pytest
    with pytest.raises(ValueError):
        idx.maybe_merge(max_segments=0)


def test_query_cache_semantics(spark, tmp_path):
    """The compiled-query LRU returns identical results on repeat, stays
    consistent with snapshot isolation (stale until reload, fresh after),
    and is invalidated by reload()."""
    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("t")
    ix = Index(spark, str(tmp_path / "qc"), s)
    ix.add({"id": "1", "t": "alpha one"})
    ix.reload()
    first = ix.search("alpha")
    assert first == ["1"]
    assert len(ix._query_cache) == 1
    # commit without reload: cached (and uncached) reads stay on the
    # pinned snapshot — exactly the reference's ReloadPolicy::Manual
    ix.add({"id": "2", "t": "alpha two"})
    assert ix.search("alpha") == ["1"]
    ix.reload()
    assert len(ix._query_cache) == 0  # invalidated with the snapshot
    assert sorted(ix.search("alpha")) == ["1", "2"]
    # repeat hit returns the same DataFrame object (analysis reused)
    a = ix.search_df(ix.term_query("t", "alpha"))
    b = ix.search_df(ix.term_query("t", "alpha"))
    assert a is b
    # different limit/offset/plan are distinct entries
    c = ix.search_df(ix.term_query("t", "alpha"), limit=1)
    assert c is not a


def test_search_many_cache_semantics(spark, tmp_path):
    """search_many's whole-batch plan rides the same compiled-query LRU:
    a repeated batch reuses the analyzed plan, results stay identical,
    staleness is exactly ReloadPolicy::Manual, reload() invalidates."""
    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("t")
    ix = Index(spark, str(tmp_path / "qcm"), s)
    ix.add({"id": "1", "t": "alpha one"})
    ix.reload()
    batch = {"a": ix.term_query("t", "alpha"), "o": ix.term_query("t", "one")}
    first = ix.search_many(batch)
    assert first == {"a": ["1"], "o": ["1"]}
    n_entries = len(ix._query_cache)
    assert n_entries >= 1
    # repeat: no new cache entry, identical results
    assert ix.search_many(batch) == first
    assert len(ix._query_cache) == n_entries
    # commit without reload: the cached batch stays on the pinned snapshot
    ix.add({"id": "2", "t": "alpha two"})
    assert ix.search_many(batch)["a"] == ["1"]
    ix.reload()
    assert len(ix._query_cache) == 0
    assert sorted(ix.search_many(batch)["a"]) == ["1", "2"]
    # a different limit is a distinct entry, not a wrong hit
    assert ix.search_many(batch, limit=1)["a"] == ["1"]


def test_assign_doc_ids_rank_is_partition_invariant(
    spark, tmp_path, monkeypatch
):
    """One analyzer partition and three number the docs the same, base +
    global rank of id, and duplicate ids get distinct consecutive ids."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"id": [f"k{i:03d}" for i in (5, 1, 9, 3, 7)], "t": "x"})
    ).repartition(3)
    built = [
        _built_doc_ids(spark, tmp_path / f"w{m}", monkeypatch, df, 100, m)
        for m in (500, 2)
    ]
    assert [parts for _, parts in built] == [1, 3]
    assert built[0][0] == built[1][0] == [
        (100, "k001"), (101, "k003"), (102, "k005"), (103, "k007"),
        (104, "k009"),
    ]

    dup = spark.createDataFrame(
        pd.DataFrame({"id": ["b", "a", "a"], "t": "x"})
    )
    for m in (500, 1):
        rows, _ = _built_doc_ids(
            spark, tmp_path / f"d{m}", monkeypatch, dup, 0, m
        )
        assert rows == [(0, "a"), (1, "a"), (2, "b")]


def test_inputs_that_read_differently_twice_keep_every_doc(spark, tmp_path):
    """Inputs that may yield other rows on a second read: a limit over
    shuffled rows, an id the plan marks nondeterministic, and a UDF
    declared deterministic that is not. The analyzer reads each once and
    numbers the rows it reads, so every input row becomes one doc with its
    own doc id."""
    import uuid

    from pyspark.sql import functions as F

    s = IndexSchema()
    s.text("t")
    shuffled = spark.range(400).select(
        F.format_string("d%04d", "id").alias("id"), F.lit("alpha beta").alias("t")
    ).repartition(4)
    random_ids = spark.range(20).select(
        F.expr("reflect('java.util.UUID', 'randomUUID')").alias("id"),
        F.lit("alpha beta").alias("t"),
    )
    fresh_id = F.udf(lambda _: uuid.uuid4().hex, "string")
    unflagged = spark.range(21).select(
        fresh_id("id").alias("id"), F.lit("alpha beta").alias("t")
    )
    for name, src, n in (
        ("limit", shuffled.limit(64), 64), ("uuid", random_ids, 20),
        ("unflagged", unflagged, 21),
    ):
        idx = Index(spark, str(tmp_path / name), s)
        idx.add_dataframe(src)
        idx.reload()
        assert idx.ctx.docs.count() == n == idx.snapshot.next_doc_id
        assert idx.ctx.docs.select("doc_id").distinct().count() == n
        assert len(idx.search("alpha", limit=100)) == n


def test_dict_table_matches_postings_recount(spark, tmp_path):
    """The stored dictionary is derived from block metadata (sum of block
    sizes); it must equal a direct recount of the stored postings rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tantiny_spark.schema import IndexSchema

    schema = IndexSchema()
    schema.text("text")
    schema.string("lang")
    idx = Index(spark, str(tmp_path / "dictidx"), schema)
    rng = __import__("random").Random(3)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        (str(i), " ".join(rng.choices(vocab, k=rng.randint(3, 30))), "en")
        for i in range(300)
    ]
    idx.add_dataframe(
        spark.createDataFrame(rows, "id string, text string, lang string")
    )
    idx = idx.reload()
    ctx = idx.ctx
    stored_dict = {
        (r["field"], r["term"]): r["df"] for r in ctx.dictionary.collect()
    }
    recount = {
        (r["field"], r["term"]): r["cnt"]
        for r in ctx.postings.groupBy("field", "term")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert stored_dict == recount


def test_facet_postings_terms(spark, tmp_path):
    """A facet value is indexed as one posting per ancestor path, for every
    path shape: empty parts are dropped and every '/'-prefixed prefix is a
    term. A part-less value is the root: one '/' term. The docs table holds
    no ancestors column."""
    import pandas as pd
    from pyspark.sql import functions as F

    expected = {
        "/a/b/c": ["/a", "/a/b", "/a/b/c"],
        "a/b": ["/a", "/a/b"],
        "/a": ["/a"],
        "a": ["/a"],
        "": ["/"],
        "/": ["/"],
        "//": ["/"],
        "/a//b/": ["/a", "/a/b"],
        "a/b/c/": ["/a", "/a/b", "/a/b/c"],
        "/x y/z": ["/x y", "/x y/z"],
        "/ünï/codé": ["/ünï", "/ünï/codé"],
    }
    values = list(expected)
    s = IndexSchema()
    s.facet("cat")
    ix = Index(spark, str(tmp_path / "facets"), s)
    ix.add_dataframe(spark.createDataFrame(pd.DataFrame(
        {"id": [str(i) for i in range(len(values))], "cat": values}
    )))
    ix.reload()
    got: dict = {}
    for r in (
        ix.ctx.postings.where(F.col("field") == "cat")
        .join(ix.ctx.id_map, "doc_id").select("id", "term").collect()
    ):
        got.setdefault(values[int(r["id"])], []).append(r["term"])
    assert {v: sorted(t) for v, t in got.items()} == expected
    assert not [c for c in ix.ctx.docs.columns if c.endswith("__ancestors")]
    assert sorted(ix.search(ix.facet_query("cat", "/a"), limit=20)) == sorted(
        str(i) for i, v in enumerate(values) if expected[v][0] == "/a"
    )


def test_facet_root_doc_returned_once(spark, tmp_path):
    """A part-less facet value ('', '/', '//') gets one root posting: a
    root facet query returns each such doc exactly once, and the root's
    df counts each doc once."""
    import pandas as pd

    s = IndexSchema()
    s.facet("cat")
    ix = Index(spark, str(tmp_path / "facets"), s)
    ix.add_dataframe(spark.createDataFrame(pd.DataFrame(
        {"id": ["0", "1", "2", "3"], "cat": ["", "/", "//", "/a"]}
    )))
    ix.reload()
    assert sorted(ix.search(ix.facet_query("cat", "/"), limit=20)) == [
        "0", "1", "2",
    ]
    assert ix.ctx.term_dfs("cat", ["/"]) == {"/": 3}
