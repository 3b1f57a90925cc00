"""MoreLikeThis query — Lucene/Tantivy-style similar-document retrieval.

Term selection: tokenize the seed text with the field tokenizer, keep terms
with seed tf >= min_term_freq and dictionary df >= min_doc_freq, rank by
tf * idf (engine BM25 idf), take top max_query_terms by (score desc, term
asc), OR the term queries. The result is a pure term disjunction (one
postings scan per field)."""

import math

import pytest

from tantiny_spark import plan as P
from tantiny_spark.errors import UnsupportedField
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


DOCS = [
    {"id": 1, "text": "spark shuffle join spark spark"},
    {"id": 2, "text": "spark shuffle merge"},
    {"id": 3, "text": "cats purr softly"},
    {"id": 4, "text": "shuffle join merge window"},
    {"id": 5, "text": "the the the the"},
]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    s = IndexSchema()
    s.text("text")
    ix = Index(spark, str(tmp_path_factory.mktemp("mlt") / "idx"), s)
    with ix.transaction():
        for d in DOCS:
            ix.add(d)
    return ix.reload()


def _selected_terms(q):
    node = q
    if isinstance(node, P.Boost):
        node = node.child
    if isinstance(node, P.Term):
        return [node.term]
    assert isinstance(node, P.Disjunction)
    return sorted(t.term for t in node.children)


def test_seed_doc_ranks_first(idx):
    q = idx.more_like_this("text", DOCS[0]["text"])
    assert idx.search(q, limit=3)[0] == "1"


def test_term_selection_ranks_by_tf_idf(idx):
    # seed: "spark spark shuffle" -> tf(spark)=2, tf(shuffle)=1; both df>0
    q = idx.more_like_this("text", "spark spark shuffle", max_query_terms=1)
    # spark: tf=2, df=2; shuffle: tf=1, df=3 -> spark has higher tf*idf
    assert _selected_terms(q) == ["spark"]


def test_min_term_freq_filters_seed_terms(idx):
    q = idx.more_like_this("text", "spark spark shuffle", min_term_freq=2)
    assert _selected_terms(q) == ["spark"]


def test_min_doc_freq_filters_rare_terms(idx):
    # "purr" appears in 1 doc; min_doc_freq=2 drops it
    q = idx.more_like_this("text", "purr shuffle", min_doc_freq=2)
    assert _selected_terms(q) == ["shuffle"]


def test_unindexed_seed_terms_dropped(idx):
    q = idx.more_like_this("text", "zzz qqq")
    assert isinstance(q, P.Empty)


def test_unknown_field_raises(idx):
    with pytest.raises(UnsupportedField):
        idx.more_like_this("nope", "spark")


def test_matches_manual_disjunction(idx):
    """The MLT query scores exactly as the equivalent hand-built OR."""
    q = idx.more_like_this("text", DOCS[1]["text"])
    manual = P.disjunction(
        *[P.Term("text", t) for t in _selected_terms(q)]
    )
    got = idx.search_with_scores(q, limit=10)
    want = idx.search_with_scores(manual, limit=10)
    assert [i for i, _ in got] == [i for i, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert math.isclose(a, b, rel_tol=1e-12)


def test_tie_break_is_term_asc(idx):
    # craft two terms with identical tf*idf: same tf in seed, same df.
    # "join" df=2 and "merge" df=2 -> tie; term asc keeps "join" first
    q = idx.more_like_this("text", "join merge", max_query_terms=1)
    assert _selected_terms(q) == ["join"]


def test_count(idx):
    assert idx.count(P.term_query(idx.schema, "text", "spark")) == 2
    assert idx.count() == len(DOCS)
    assert idx.count(~P.term_query(idx.schema, "text", "spark")) == 3


def test_stats(spark, tmp_path):
    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("text")
    s.integer("n")
    ix = Index(spark, str(tmp_path / "statsidx"), s)
    with ix.transaction():
        ix.add({"id": 1, "text": "spark build", "n": 10})
        ix.add({"id": 2, "text": "spark query", "n": 30})
        ix.add({"id": 3, "text": "other", "n": 100})
        ix.add({"id": 4, "text": "spark null n"})
    ix.reload()
    got = ix.stats("n", ix.term_query("text", "spark"))
    assert got == {"count": 2, "min": 10.0, "max": 30.0, "sum": 40.0, "avg": 20.0}
    assert ix.stats("n")["count"] == 3  # all docs, null excluded
    with pytest.raises(UnsupportedField):
        ix.stats("text")


def test_top_terms(idx):
    rows = idx.top_terms("text", limit=3).collect()
    # corpus df: shuffle=3, join/merge/spark=2... "shuffle" tops; ties term-asc
    assert (rows[0]["term"], rows[0]["n_docs"]) == ("shuffle", 3)
    assert (rows[1]["term"], rows[1]["n_docs"]) == ("join", 2)
    restricted = idx.top_terms("text", P.term_query(idx.schema, "text", "purr"))
    got = {r["term"]: r["n_docs"] for r in restricted.collect()}
    assert got == {"cats": 1, "purr": 1, "softly": 1}
    with pytest.raises(UnsupportedField):
        idx.top_terms("nope")


def test_histogram(spark, tmp_path):
    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("text")
    s.integer("n")
    ix = Index(spark, str(tmp_path / "histidx"), s)
    with ix.transaction():
        for i, n in enumerate([5, 17, 23, 58, 120]):
            ix.add({"id": i, "text": "w", "n": n})
        ix.add({"id": 99, "text": "w"})  # null n excluded
    ix.reload()
    got = {r["bucket"]: r["n_docs"] for r in ix.histogram("n", 20.0).collect()}
    assert got == {0.0: 2, 20.0: 1, 40.0: 1, 120.0: 1}
    with pytest.raises(ValueError):
        ix.histogram("n", 0)


def test_date_histogram(spark, tmp_path):
    from datetime import datetime

    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("text")
    s.date("d")
    ix = Index(spark, str(tmp_path / "dhist"), s)
    with ix.transaction():
        ix.add({"id": 1, "text": "w", "d": datetime(2026, 1, 1, 0, 10)})
        ix.add({"id": 2, "text": "w", "d": datetime(2026, 1, 1, 0, 50)})
        ix.add({"id": 3, "text": "w", "d": datetime(2026, 1, 1, 2, 5)})
    ix.reload()
    rows = ix.histogram("d", 3600.0).collect()
    got = {r["bucket"]: r["n_docs"] for r in rows}
    assert got == {
        datetime(2026, 1, 1, 0): 2,
        datetime(2026, 1, 1, 2): 1,
    }


def test_delete_by_query(spark, tmp_path):
    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("text")
    ix = Index(spark, str(tmp_path / "dbq"), s)
    with ix.transaction():
        for i in range(6):
            ix.add({"id": i, "text": "drop me" if i % 2 else "keep me"})
    ix.reload()
    n = ix.delete_by_query(P.term_query(ix.schema, "text", "drop"))
    assert n == 3
    # visible only after reload (snapshot isolation)
    assert len(ix.search(P.all_query(), limit=10)) == 6
    ix.reload()
    assert sorted(ix.search(P.all_query(), limit=10)) == ["0", "2", "4"]
    # inside an open transaction: queued with the batch, atomically
    with ix.transaction():
        ix.delete_by_query(P.term_query(ix.schema, "text", "keep"))
        ix.add({"id": 99, "text": "fresh"})
    ix.reload()
    assert ix.search(P.all_query(), limit=10) == ["99"]


def test_delete_by_query_bounded(spark, tmp_path):
    """A corpus-wide delete_by_query must NOT materialize an unbounded id
    list on the driver: past max_deletes it raises (the capped-collect
    pattern), and raising max_deletes opts in explicitly (VERDICT r03)."""
    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("text")
    ix = Index(spark, str(tmp_path / "dbqb"), s)
    with ix.transaction():
        for i in range(8):
            ix.add({"id": i, "text": "wipe me"})
    ix.reload()
    with pytest.raises(ValueError, match="max_deletes"):
        ix.delete_by_query(P.all_query(), max_deletes=5)
    with pytest.raises(ValueError, match="positive"):
        ix.delete_by_query(P.all_query(), max_deletes=0)
    # nothing was queued by the failed calls
    ix.reload()
    assert len(ix.search(P.all_query(), limit=20)) == 8
    # explicit opt-in works
    assert ix.delete_by_query(P.all_query(), max_deletes=8) == 8
    ix.reload()
    assert ix.search(P.all_query(), limit=20) == []


def test_explain(idx):
    q = (P.term_query(idx.schema, "text", "spark")
         | P.term_query(idx.schema, "text", "merge")).boost(2.0)
    ex = idx.explain(q, 2)  # doc 2: "spark shuffle merge"
    assert ex["type"] == "Boost" and ex["factor"] == 2.0 and ex["matches"]
    dis = ex["children"][0]
    assert dis["type"] == "Disjunction"
    leaf_scores = {c["terms"][0]: c["score"] for c in dis["children"]}
    assert leaf_scores["spark"] > 0 and leaf_scores["merge"] > 0
    # algebra holds: boost * sum(leaves) == root score == search score
    assert ex["score"] == pytest.approx(2.0 * dis["score"], rel=1e-12)
    assert dis["score"] == pytest.approx(sum(leaf_scores.values()), rel=1e-12)
    top = dict(idx.search_with_scores(q))
    assert ex["score"] == pytest.approx(top["2"], rel=1e-12)
    # non-matching doc
    ex3 = idx.explain(P.term_query(idx.schema, "text", "spark"), 3)
    assert ex3 == {"type": "Term", "field": "text", "terms": ["spark"],
                   "matches": False, "score": 0.0}
    # unknown id
    assert idx.explain(q, "zzz")["matches"] is False
