"""A flat OR of term queries compiles to one postings scan per field
(executor._term_or). Its top-k must equal the sum of each term's own
single-term scores, computed here in Python from ``search_with_scores``."""

import numpy as np
import pytest

from tantiny_spark import plan as P
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema

ALL = 100_000  # a limit above every fixture's doc count


def _zipf_rows(rng, prefix, n, vocab_size=30, fields=1):
    vocab = [f"w{i}" for i in range(vocab_size)]
    probs = 1.0 / np.arange(1, vocab_size + 1)
    probs /= probs.sum()
    return [
        (
            f"{prefix}{i:05d}",
            *(
                " ".join(rng.choice(vocab, size=int(rng.integers(5, 40)), p=probs))
                for _ in range(fields)
            ),
        )
        for i in range(n)
    ]


def _single_term_scores(idx, field, term) -> dict:
    return dict(idx.search_with_scores(P.Term(field, term), limit=ALL))


def _expected(idx, weighted_terms) -> dict:
    """Σ weight × single-term score per id, over ((field, term), weight)."""
    out: dict = {}
    for (field, term), weight in weighted_terms:
        for doc, score in _single_term_scores(idx, field, term).items():
            out[doc] = out.get(doc, 0.0) + weight * score
    return out


def _assert_top_k(idx, plan, expected: dict, k: int) -> None:
    """Same score at every rank as the reference, and every returned hit
    carries its own reference score (ties may permute only among equal
    scores), ordered score desc, id asc."""
    got = idx.search_with_scores(plan, limit=k)
    want = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert len(got) == len(want)
    for (gid, gs), (_, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-9)
        assert gs == pytest.approx(expected[gid], rel=1e-9)
    assert got == sorted(got, key=lambda h: (-h[1], h[0]))


def _or(field, terms):
    return P.disjunction(*[P.Term(field, t) for t in terms])


@pytest.fixture(scope="module")
def one_segment(spark, tmp_path_factory):
    rows = _zipf_rows(np.random.default_rng(7), "doc", 900, vocab_size=50, fields=2)
    schema = IndexSchema()
    schema.text("text")
    schema.text("title")
    idx = Index(spark, str(tmp_path_factory.mktemp("or1") / "idx"), schema)
    idx.add_dataframe(spark.createDataFrame(rows, "id string, text string, title string"))
    return idx.reload()


@pytest.fixture(scope="module")
def two_segments(spark, tmp_path_factory):
    """Two commits with ids whose string order is the REVERSE of doc_id
    order (zz… first, aa… second), so the id-asc tie-break is exercised
    across segments."""
    rng = np.random.default_rng(11)
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path_factory.mktemp("or2") / "idx"), schema)
    for prefix in ("zz", "aa"):
        idx.add_dataframe(
            spark.createDataFrame(_zipf_rows(rng, prefix, 500), "id string, text string")
        )
    return idx.reload()


@pytest.mark.parametrize(
    "terms", [["w0", "w7"], ["w1", "w20", "w45"], [f"w{i}" for i in range(0, 40, 3)]]
)
def test_term_or_one_segment(one_segment, terms):
    expected = _expected(one_segment, [(("text", t), 1.0) for t in terms])
    _assert_top_k(one_segment, _or("text", terms), expected, 10)


@pytest.mark.parametrize("terms", [["w0", "w5"], ["w2", "w11", "w25"]])
def test_term_or_several_segments(two_segments, terms):
    idx = two_segments
    assert len(idx.snapshot.manifest["segments"]) == 2
    expected = _expected(idx, [(("text", t), 1.0) for t in terms])
    for k in (5, 10, 25):
        _assert_top_k(idx, _or("text", terms), expected, k)


def test_term_or_with_tombstones(spark, tmp_path_factory):
    """Deletes between merges: tombstoned docs neither match nor score,
    including the OR's former top hits."""
    rng = np.random.default_rng(23)
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path_factory.mktemp("ortomb") / "idx"), schema)
    for prefix in ("zz", "aa"):
        idx.add_dataframe(
            spark.createDataFrame(_zipf_rows(rng, prefix, 400), "id string, text string")
        )
    idx = idx.reload()
    plan = _or("text", ["w0", "w3"])
    deleted = {d for d, _ in idx.search_with_scores(plan, limit=5)} | {"zz00100", "aa00200"}
    with idx.transaction():
        for doc in deleted:
            idx.delete(doc)
    idx = idx.reload()

    expected = _expected(idx, [(("text", "w0"), 1.0), (("text", "w3"), 1.0)])
    assert not (set(expected) & deleted)
    for k in (5, 10, 25):
        _assert_top_k(idx, plan, expected, k)
    assert not ({d for d, _ in idx.search_with_scores(plan, limit=25)} & deleted)


def test_term_or_boost(one_segment):
    plan = P.disjunction(
        P.Term("text", "w5").boost(2.5), P.Term("text", "w9"),
        P.Term("text", "w12").boost(0.5).boost(3.0),
    )
    expected = _expected(
        one_segment,
        [(("text", "w5"), 2.5), (("text", "w9"), 1.0), (("text", "w12"), 1.5)],
    )
    _assert_top_k(one_segment, plan, expected, 10)


def test_term_or_duplicated_term_adds_up(one_segment):
    plan = P.disjunction(
        P.Term("text", "w3"), P.Term("text", "w8"), P.Term("text", "w3").boost(2.0)
    )
    expected = _expected(one_segment, [(("text", "w3"), 3.0), (("text", "w8"), 1.0)])
    _assert_top_k(one_segment, plan, expected, 10)


def test_term_or_missing_term(one_segment):
    expected = _expected(one_segment, [(("text", "w4"), 1.0)])
    _assert_top_k(one_segment, _or("text", ["nosuchterm", "w4"]), expected, 10)
    assert one_segment.search(_or("text", ["nosuchterm", "alsomissing"])) == []


def test_term_or_two_fields(one_segment):
    """Terms on two fields: one scan per field, one sum over both, plus a
    non-term child compiled on its own."""
    weighted = [
        (("text", "w1"), 1.0), (("text", "w2"), 1.0),
        (("title", "w3"), 1.0), (("title", "w4"), 1.0),
    ]
    plan = P.disjunction(*[P.Term(f, t) for (f, t), _ in weighted])
    _assert_top_k(one_segment, plan, _expected(one_segment, weighted), 10)

    phrase = P.Phrase("text", ("w0", "w1"))
    expected = _expected(one_segment, weighted)
    for doc, score in one_segment.search_with_scores(phrase, limit=ALL):
        expected[doc] = expected.get(doc, 0.0) + score
    _assert_top_k(one_segment, P.disjunction(phrase, *plan.children), expected, 10)


# terms that must survive the trip into a SQL literal: a quote, a
# backslash, a newline, a backtick, ``${`` (variable substitution) and
# non-ASCII text up to an astral emoji
_ODD = ["it's", "back\\slash", "new\nline", "tick`tock", "été", "日本語", "a😀b", "${HOME}"]


@pytest.fixture(scope="module")
def odd_strings(spark, tmp_path_factory):
    schema = IndexSchema()
    schema.string("tag")
    schema.text("text")
    idx = Index(spark, str(tmp_path_factory.mktemp("odd") / "idx"), schema)
    rows = [(f"d{i:03d}", _ODD[i % len(_ODD)], f"w{i % 3}") for i in range(48)]
    idx.add_dataframe(spark.createDataFrame(rows, "id string, tag string, text string"))
    return idx.reload(), {t: {r[0] for r in rows if r[1] == t} for t in _ODD}


@pytest.mark.parametrize("term", _ODD)
def test_odd_string_terms_round_trip(odd_strings, term):
    """term_query, a flat OR, term_set_query and a prefix on a string field
    match exactly the docs carrying the term, and the OR scores as the sum
    of its terms' own scores."""
    idx, owners = odd_strings
    other = _ODD[(_ODD.index(term) + 1) % len(_ODD)]
    assert set(idx.search(idx.term_query("tag", term), limit=ALL)) == owners[term]
    assert set(
        idx.search(idx.term_set_query("tag", [term, "nosuch"]), limit=ALL)
    ) == owners[term]
    assert set(idx.search(idx.prefix_query("tag", term), limit=ALL)) == owners[term]
    expected = _expected(idx, [(("tag", term), 1.0), (("tag", other), 1.0)])
    assert set(expected) == owners[term] | owners[other]
    _assert_top_k(idx, _or("tag", [term, other, "nosuch"]), expected, ALL)


def _jobs_in_group(spark, group: str, fn):
    """(fn(), the ids of the Spark jobs fn started) under job group
    ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_lookups_sum_segments_with_tombstones(spark, tmp_path):
    """term_dfs sums a term's per-segment dict rows and field_stats the
    segments' manifest totals over 3 segments; tombstoned docs keep counting
    in both until a merge rewrites them (Tantivy's freshness tradeoff).
    Both are driver-side lookups that start no Spark job."""
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path / "idx"), schema)
    for seg in range(3):
        rows = [(f"s{seg}d{i}", f"common seg{seg} u{seg}x{i}") for i in range(10)]
        idx.add_dataframe(spark.createDataFrame(rows, "id string, text string"))
    with idx.transaction():
        for doc in ("s0d1", "s0d2", "s1d3", "s2d4"):
            idx.delete(doc)
    idx = idx.reload()
    assert idx.ctx.segments == 3  # the pure-delete commit carries no dict
    assert idx.ctx.term_dfs("text", ["common", "seg1", "u2x4", "nosuch"]) == {
        "common": 30, "seg1": 10, "u2x4": 1, "nosuch": 0,
    }
    stats, jobs = _jobs_in_group(
        spark, "field-stats", lambda: idx.ctx.field_stats("text")
    )
    assert stats == (30, 3.0)
    assert jobs == []
    # a df lookup reads the dict files on the driver: no job either, while
    # the same probe sees the job of a search
    _, jobs = _jobs_in_group(
        spark, "term-dfs", lambda: idx.ctx.term_dfs("text", ["seg2"])
    )
    assert jobs == []
    _, jobs = _jobs_in_group(
        spark, "search", lambda: idx.search(P.Term("text", "seg2"))
    )
    assert len(jobs) >= 1
    assert idx.ctx.field_stats("nosuch") == (0, 1.0)
    assert len(idx.search(P.Term("text", "common"), limit=ALL)) == 26

    pre_merge = idx.storage.current_version()
    idx.merge_segments()
    idx = idx.reload()
    assert idx.ctx.segments == 1
    assert idx.ctx.term_dfs("text", ["common", "seg1", "u2x4"]) == {
        "common": 26, "seg1": 9, "u2x4": 0,
    }
    assert idx.ctx.field_stats("text") == (26, 3.0)
    # time travel reads the pre-merge manifest totals, dead docs included
    idx = idx.reload(version=pre_merge)
    assert idx.ctx.field_stats("text") == (30, 3.0)


def test_entries_without_totals_refuse_to_score_until_merged(spark, tmp_path):
    """A manifest entry written before entries carried BM25 totals has no
    second read path: scoring against it raises a TantinyError that names
    the segment and merge_segments(), and a merge, which recounts the
    totals from the stored per-doc lengths, restores the same hits."""
    import json
    import os

    from tantiny_spark.errors import TantinyError

    schema = IndexSchema()
    schema.text("text")
    path = str(tmp_path / "idx")
    idx = Index(spark, path, schema)
    for seg in range(2):
        rows = [(f"s{seg}d{i}", f"common seg{seg} w{i % 3}") for i in range(6)]
        idx.add_dataframe(spark.createDataFrame(rows, "id string, text string"))
    idx = idx.reload()
    query = P.disjunction(P.Term("text", "common"), P.Term("text", "w1"))
    want = idx.search_with_scores(query, limit=ALL)
    assert len(want) == 12

    mpath = os.path.join(
        path, "snapshots", f"v{idx.storage.current_version():06d}.json"
    )
    with open(mpath) as fh:
        manifest = json.load(fh)
    for entry in manifest["segments"]:
        del entry["num_docs"], entry["tokens"]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    legacy = Index(spark, path)
    name = manifest["segments"][0]["name"]
    with pytest.raises(TantinyError, match=f"{name}.*merge_segments"):
        legacy.search_with_scores(query, limit=ALL)

    legacy.merge_segments()
    legacy = legacy.reload()
    assert legacy.search_with_scores(query, limit=ALL) == want


def test_no_persisted_rdd_survives_an_operation(spark, tmp_path):
    """Neither a build nor a snapshot leaves a cache behind: the session's
    persisted RDDs are the same before and after an add_dataframe, a
    transaction commit, a failed build, a reload, a search, a search_many
    and an aggregation, with and without tombstones."""

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    start = persisted()
    schema = IndexSchema()
    schema.text("text")
    schema.string("tag")
    idx = Index(spark, str(tmp_path / "idx"), schema)
    for seg in range(2):
        rows = [
            (f"s{seg}d{i}", f"common seg{seg}", f"t{i % 2}") for i in range(5)
        ]
        idx.add_dataframe(
            spark.createDataFrame(rows, "id string, text string, tag string")
        )
        assert persisted() == start
    other = Index(spark, str(tmp_path / "txn"), schema)
    with other.transaction():
        other.add({"id": "x", "text": "common", "tag": "t0"})
    assert persisted() == start
    # a build whose analyzer fails (a malformed json value)
    json_schema = IndexSchema()
    json_schema.json("attrs")
    bad = Index(spark, str(tmp_path / "bad"), json_schema)
    with pytest.raises(Exception, match="malformed"):
        with bad.transaction():
            bad.add({"id": "x", "attrs": "{broken"})
    assert persisted() == start
    # the second round runs after s1d4 (tag t0) is deleted
    for n_live, tags in ((10, {"t0": 6, "t1": 4}), (9, {"t0": 5, "t1": 4})):
        idx = idx.reload()
        assert persisted() == start
        assert len(idx.search(P.Term("text", "common"), limit=ALL)) == n_live
        assert persisted() == start
        got = idx.search_many({"a": P.Term("text", "seg0"), "b": "seg1"})
        assert sorted(got["a"]) == [f"s0d{i}" for i in range(5)]
        assert persisted() == start
        out = idx.aggregate({"tags": {"terms": {"field": "tag"}}}).collect()
        assert {r["tags"]: r["doc_count"] for r in out} == tags
        assert persisted() == start
        idx.delete("s1d4")
