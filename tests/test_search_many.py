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
    per-partition batch prune must keep boundary ties so the global
    (score desc, id asc) row_number picks the same ids as search()."""
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


def test_batch_rank_prune_bounds_final_window_input(spark):
    """With distinct, near-uniform scores the per-partition prune keeps
    only each partition's local rank-≤k rows, so the final per-query
    window sees ≤ partitions·k rows instead of the whole matched set, and
    the exact global top-k is among them."""
    from pyspark.sql import functions as F

    from tantiny_spark.executor import batch_rank_prune

    n, parts, k = 8000, 8, 10
    df = (
        spark.range(n)
        .repartition(parts)
        .select(
            F.lit("q").alias("query"),
            F.col("id").alias("doc_id"),
            (F.lit(1.0) + F.col("id") * 1e-9).alias("score"),
        )
    )
    pruned = batch_rank_prune(df, k)
    cnt = pruned.count()
    assert k <= cnt <= parts * k
    top = {
        r["doc_id"]
        for r in pruned.orderBy(F.col("score").desc()).limit(k).collect()
    }
    assert top == set(range(n - k, n))


def test_batch_rank_prune_keeps_boundary_ties(spark):
    """Rows tied with a partition's k-th-largest score survive the prune,
    so a cross-partition tie at the global k boundary still reaches the
    (score desc, id asc) tie-break."""
    from tantiny_spark.executor import batch_rank_prune

    # one partition: scores [5, 4, 3, 3, 3, 1], k=3 → kth-largest = 3;
    # ALL the 3s must survive, the 1 must not
    df = spark.createDataFrame(
        [("q", 0, 5.0), ("q", 1, 4.0), ("q", 2, 3.0), ("q", 3, 3.0),
         ("q", 4, 3.0), ("q", 5, 1.0)],
        "query string, doc_id long, score double",
    ).coalesce(1)
    got = sorted(r["doc_id"] for r in batch_rank_prune(df, 3).collect())
    assert got == [0, 1, 2, 3, 4]
