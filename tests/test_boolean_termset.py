"""TermSetQuery + BooleanOccur (Lucene BooleanQuery occur semantics).

Reference family: tantivy src/query/term_set_query.rs and
src/query/boolean_query.rs (the Ruby wrapper doesn't surface these; they
are beyond-reference features in the same engine family).
"""

import pytest

from tantiny_spark import plan as P
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


DOCS = [
    {"id": 1, "text": "spark merge window"},
    {"id": 2, "text": "spark batch"},
    {"id": 3, "text": "merge only here"},
    {"id": 4, "text": "nothing relevant"},
    {"id": 5, "text": "spark merge filler"},
]


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    s = IndexSchema()
    s.text("text")
    s.string("tag")
    idx = Index(spark, str(tmp_path_factory.mktemp("bts") / "idx"), s)
    with idx.transaction():
        for d in DOCS:
            idx.add(d)
    return idx.reload()


def _ids(ix, q, limit=10):
    return sorted(ix.search(q, limit=limit))


def test_term_set_any_of(ix):
    q = ix.term_set_query("text", ["batch", "window"])
    assert _ids(ix, q) == ["1", "2"]
    # constant score 1.0 even when several set members hit the same doc
    q2 = ix.term_set_query("text", ["spark", "merge"])
    assert dict(ix.search_with_scores(q2))["1"] == 1.0


def test_term_set_empty_and_validation(ix):
    assert isinstance(ix.term_set_query("text", []), P.Empty)
    from tantiny_spark.errors import UnsupportedField

    with pytest.raises(UnsupportedField):
        ix.term_set_query("missing", ["x"])


def test_boolean_occur_optional_scoring(ix):
    """Shoulds alongside musts don't gate matching but raise the score of
    docs that also match them — inexpressible with plain AND/OR/NOT."""
    must = [ix.term_query("text", "spark")]
    should = [ix.term_query("text", "merge")]
    q = ix.boolean_query(must=must, should=should)
    got = dict(ix.search_with_scores(q))
    # all spark docs match, with or without merge
    assert sorted(got) == ["1", "2", "5"]
    # merge-matching docs outscore the must-only doc
    assert got["1"] > got["2"] and got["5"] > got["2"]
    # the boost equals the merge term's own score contribution
    merge_scores = dict(ix.search_with_scores(ix.term_query("text", "merge")))
    spark_scores = dict(ix.search_with_scores(ix.term_query("text", "spark")))
    assert got["1"] == pytest.approx(spark_scores["1"] + merge_scores["1"], abs=1e-9)
    assert got["2"] == pytest.approx(spark_scores["2"], abs=1e-9)


def test_boolean_occur_must_not(ix):
    q = ix.boolean_query(
        must=[ix.term_query("text", "spark")],
        must_not=[ix.term_query("text", "filler")],
    )
    assert _ids(ix, q) == ["1", "2"]
    # must_not only: pure negation
    q2 = ix.boolean_query(must_not=[ix.term_query("text", "spark")])
    assert _ids(ix, q2) == ["3", "4"]


def test_boolean_degenerate_simplifies():
    """Pure occur lists simplify to the plain algebra (keeping e.g. the
    pure-term-disjunction one-scan plan)."""
    a, b = P.Term("text", "a"), P.Term("text", "b")
    assert isinstance(P.boolean_query(must=[a, b]), P.Conjunction)
    assert isinstance(P.boolean_query(should=[a, b]), P.Disjunction)
    assert isinstance(P.boolean_query(must_not=[a]), P.Negation)
    assert isinstance(P.boolean_query(), P.Empty)
    assert isinstance(P.boolean_query(must=[a], should=[b]), P.BooleanOccur)


def test_boolean_occur_explain(ix):
    q = ix.boolean_query(
        must=[ix.term_query("text", "spark")],
        should=[ix.term_query("text", "merge")],
    )
    ex = ix.explain(q, 1)
    assert ex["type"] == "BooleanOccur" and ex["matches"]
    occurs = {c["occur"] for c in ex["children"]}
    assert occurs == {"must", "should"}
