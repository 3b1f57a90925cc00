"""Index.suggest (Lucene DirectSpellChecker family) and
Index.significant_terms (Elasticsearch SignificantTermsAggregation, JLH)."""

import pytest

from tantiny_spark.errors import UnsupportedField
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


@pytest.fixture()
def six(spark, tmp_path):
    s = IndexSchema()
    s.text("text")
    ix = Index(spark, str(tmp_path / "six"), s)
    docs = [
        # 'spark' docs systematically co-occur with 'shuffle' (the
        # significant term); 'data' is background-frequent everywhere
        (0, "spark shuffle data"),
        (1, "spark shuffle data"),
        (2, "spark shuffle join data"),
        (3, "spark data merge"),
        (4, "pandas data frame"),
        (5, "pandas data frame"),
        (6, "duck data query"),
        (7, "duck data query"),
        (8, "sport data date"),
        (9, "spork data"),
    ]
    with ix.transaction():
        for i, t in docs:
            ix.add({"id": i, "text": t})
    ix.reload()
    return ix


def test_suggest_ranks_distance_then_df(six):
    got = [
        (r["term"], r["distance"], r["df"])
        for r in six.suggest("text", "spark", distance=2).collect()
    ]
    # distance 1: spork (df 1); distance 2: sport (df 1) — spark itself
    # excluded; 'shuffle' etc. out of band
    assert got[0] == ("spork", 1, 1)
    assert ("sport", 2, 1) in got
    assert all(t != "spark" for t, _, _ in got)
    # df breaks ties within a distance: 'data' (df 10) and 'date' (df 1)
    # are both distance 1 of 'dat'
    got2 = [r["term"] for r in six.suggest("text", "dat", distance=1).collect()]
    assert got2.index("data") < got2.index("date")


def test_suggest_transpositions_at_distance_two(six):
    """Two transpositions (OSA 2, Levenshtein 3) and a transposition plus a
    substitution: the Levenshtein prefilter must allow 2 × distance, and
    the ranking stays (distance asc, df desc, term asc)."""
    def got(term):
        return [
            (r["term"], r["distance"], r["df"])
            for r in six.suggest("text", term, distance=2).collect()
        ]

    assert got("sapkr") == [("spark", 2, 4)]
    assert got("dtaa") == [("data", 1, 10), ("date", 2, 1)]
    assert got("sprak") == [("spark", 1, 4), ("spork", 2, 1)]


def test_suggest_validation(six):
    with pytest.raises(UnsupportedField):
        six.suggest("nope", "spark")
    with pytest.raises(ValueError, match="distance"):
        six.suggest("text", "spark", distance=0)
    assert six.suggest("text", "zzzzzzzz", distance=1).count() == 0


def test_significant_terms_jlh(six):
    got = {
        r["term"]: r
        for r in six.significant_terms(
            "text", six.term_query("text", "spark"), min_doc_count=2
        ).collect()
    }
    # 'shuffle': fg 3/4 vs bg 3/10 — strong lift; 'data': fg 4/4 vs bg
    # 10/10 — zero lift (excluded); 'spark' itself: fg 4/4 vs bg 4/10
    assert "shuffle" in got and "spark" in got
    assert "data" not in got
    sh = got["shuffle"]
    fg_pct, bg_pct = 3 / 4, 3 / 10
    assert sh["fg_df"] == 3 and sh["bg_df"] == 3
    assert abs(sh["score"] - round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6)) < 1e-9
    # min_doc_count prunes singletons ('join' fg_df 1)
    assert "join" not in got
    assert "join" in {
        r["term"]
        for r in six.significant_terms(
            "text", six.term_query("text", "spark"), min_doc_count=1
        ).collect()
    }


def test_significant_terms_validation(six):
    with pytest.raises(ValueError, match="query"):
        six.significant_terms("text", None)
    with pytest.raises(UnsupportedField):
        six.significant_terms("nope", six.term_query("text", "spark"))
    with pytest.raises(ValueError, match="min_doc_count"):
        six.significant_terms("text", six.term_query("text", "spark"),
                              min_doc_count=0)
    # empty foreground → empty result with the declared schema
    empty = six.significant_terms("text", six.term_query("text", "absent"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "term", "fg_df", "bg_df", "score"]
