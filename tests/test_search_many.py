"""Batched query execution matches per-query search()."""

from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


def test_search_many_matches_individual(spark, tmp_path):
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    with idx.transaction():
        for i in range(30):
            idx.add({"id": i, "t": f"alpha beta{' gamma' * (i % 4)} w{i % 7}"})
    idx.reload()

    queries = {
        "q_alpha": idx.term_query("t", "alpha"),
        "q_gamma": idx.term_query("t", "gamma"),
        "q_bool": idx.term_query("t", "alpha") & idx.term_query("t", "w3"),
        "q_smart": "alpha gam",
        "q_none": idx.term_query("t", "zzz"),
    }
    batch = idx.search_many(queries, limit=5)
    for name, q in queries.items():
        assert batch[name] == idx.search(q, limit=5), name


def test_search_many_uniform_scores_prune_keeps_ties(spark, tmp_path):
    """All docs match with IDENTICAL scores (negation query): the
    per-query limit must keep boundary ties so the global (score desc,
    id asc) row_number picks the same ids as search()."""
    s = IndexSchema()
    s.text("t")
    idx = Index(spark, str(tmp_path / "idx"), s)
    with idx.transaction():
        for i in range(120):
            idx.add({"id": i, "t": "common" if i % 2 else "other"})
    idx.reload()
    queries = {
        "neg": ~idx.term_query("t", "zzz"),   # matches ALL docs, score 1.0
        "all_common": idx.term_query("t", "common"),
    }
    batch = idx.search_many(queries, limit=7)
    for name, q in queries.items():
        assert batch[name] == idx.search(q, limit=7), name
