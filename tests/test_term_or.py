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
