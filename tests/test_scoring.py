"""Score-identity tests: the DataFrame executor must reproduce the pure-
Python BM25 oracle in tantiny_spark.scoring exactly (SURVEY.md §2.5)."""

import pytest

from tantiny_spark import scoring
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema

DOCS = [
    {"id": 1, "t": "apple banana apple"},          # len 3, tf(apple)=2
    {"id": 2, "t": "apple cherry"},                # len 2
    {"id": 3, "t": "banana cherry durian elder"},  # len 4
    {"id": 4, "t": "apple apple apple apple"},     # len 4, tf=4
]
N = 4
TOTAL_TOKENS = 3 + 2 + 4 + 4
AVGDL = TOTAL_TOKENS / N
LENS = {1: 3, 2: 2, 3: 4, 4: 4}


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    s = IndexSchema()
    s.text("t")
    index = Index(spark, str(tmp_path_factory.mktemp("scoring") / "idx"), s)
    with index.transaction():
        for d in DOCS:
            index.add(d)
    return index.reload()


def test_term_scores_match_oracle(idx):
    # term query: tf = 1 regardless of real frequency (IndexRecordOption::Basic)
    got = dict(idx.search_with_scores(idx.term_query("t", "apple")))
    df_apple = 3
    for doc in ("1", "2", "4"):
        expect = scoring.bm25(1.0, LENS[int(doc)], AVGDL, df_apple, N)
        assert got[doc] == pytest.approx(expect, rel=1e-12), doc
    # ordering: shortest doc first (same idf, smaller dl → higher score)
    ordered = idx.search(idx.term_query("t", "apple"))
    assert ordered == ["2", "1", "4"]


def test_phrase_scores_use_phrase_frequency(idx):
    # single-term phrase scores with the TRUE tf (positions recorded)
    got = dict(idx.search_with_scores(idx.phrase_query("t", "apple")))
    df_apple = 3
    assert got["4"] == pytest.approx(
        scoring.bm25(4.0, 4, AVGDL, df_apple, N), rel=1e-12
    )
    assert got["1"] == pytest.approx(
        scoring.bm25(2.0, 3, AVGDL, df_apple, N), rel=1e-12
    )


def test_boolean_score_algebra(idx):
    # conjunction sums children; disjunction sums matches; boost multiplies
    a = idx.term_query("t", "apple")
    b = idx.term_query("t", "cherry")
    got_and = dict(idx.search_with_scores(a & b))
    df_a, df_c = 3, 2
    expect_2 = scoring.bm25(1.0, 2, AVGDL, df_a, N) + scoring.bm25(1.0, 2, AVGDL, df_c, N)
    assert list(got_and) == ["2"]
    assert got_and["2"] == pytest.approx(expect_2, rel=1e-12)

    got_or = dict(idx.search_with_scores(a | b))
    assert got_or["2"] == pytest.approx(expect_2, rel=1e-12)
    assert got_or["3"] == pytest.approx(scoring.bm25(1.0, 4, AVGDL, df_c, N), rel=1e-12)

    got_boost = dict(idx.search_with_scores(a.boost(2.5)))
    assert got_boost["4"] == pytest.approx(
        2.5 * scoring.bm25(1.0, 4, AVGDL, df_a, N), rel=1e-12
    )


def test_const_score_families(idx):
    # automaton (prefix/regex/fuzzy), range, negation, all → constant 1.0
    for q in (
        idx.prefix_query("t", "app"),
        idx.regex_query("t", "ap.le"),
        idx.fuzzy_term_query("t", "aple", 1),
        ~idx.term_query("t", "apple"),
        idx.all_query(),
    ):
        for _, score in idx.search_with_scores(q):
            assert score == 1.0


def test_fieldnorm_exactness_under_41_tokens(idx):
    # every spec fixture has < 41 tokens, where the quantization is identity —
    # the foundation of the rank-identity claim on the reference query set
    for length in range(41):
        assert scoring.id_to_fieldnorm(scoring.fieldnorm_to_id(length)) == length
    # above 40: round-down onto the monotone grid
    for length in (41, 100, 5000, 10**6):
        nid = scoring.fieldnorm_to_id(length)
        assert scoring.id_to_fieldnorm(nid) <= length
        assert scoring.id_to_fieldnorm(min(nid + 1, 255)) >= scoring.id_to_fieldnorm(nid)


def test_fieldnorm_decode_expression_matches_table(spark):
    """The executor's integer SmallFloat decode of ``norm_id`` equals
    scoring.FIELDNORM_TABLE on all 256 ids, evaluated by Spark."""
    from tantiny_spark.executor import _DECODE_NORM

    rows = spark.range(256).selectExpr("CAST(id AS INT) AS norm_id").selectExpr(
        "norm_id", f"{_DECODE_NORM} AS dl"
    ).collect()
    assert sorted((r["norm_id"], r["dl"]) for r in rows) == [
        (i, float(v)) for i, v in enumerate(scoring.FIELDNORM_TABLE)
    ]
