"""Near-duplicate clustering: connected components over candidate pairs.

The cluster id is the component's minimum doc id, so `doc_id == cluster`
is a deterministic keep-one-per-cluster filter — the 100 TB dedup pattern
(candidate pairs from LSH/Jaccard, components via min-label propagation).
"""

from pyspark.sql import functions as F

from tantiny_spark.pipeline import dedup


def test_connected_components_basic(spark):
    # two components {1,2,3,7} (chain) and {5,6}; 9 isolated-by-edge-absence
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 6)], "a long, b long"
    )
    got = {
        r["node"]: r["label"]
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path needs multiple propagation rounds (diameter 11)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    got = {
        r["node"]: r["label"]
        for r in dedup.connected_components(edges).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 13


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_connected_components_unconverged_releases_caches(spark):
    """The non-convergence error leaves no persisted frame behind."""
    import pytest

    edges = spark.createDataFrame([(i, i + 1) for i in range(8)], "a long, b long")
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iterations=2)
    assert _persisted(spark) == before


def test_connected_components_null_label_sum_raises(spark, monkeypatch):
    """A NULL label sum (a decimal overflow with ANSI off) must fail loudly,
    not compare equal to the previous NULL and pass as convergence."""
    import pytest

    edges = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    before = _persisted(spark)
    monkeypatch.setattr(
        dedup.F, "sum", lambda col: F.lit(None).cast("decimal(38,0)")
    )
    with pytest.raises(RuntimeError, match="label sum"):
        dedup.connected_components(edges)
    assert _persisted(spark) == before


def test_duplicate_clusters_labels_every_doc(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
            (2, "completely different text about spark engines"),
            (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        ],
        "doc_id long, text string",
    )
    out = dedup.duplicate_clusters(df, shingle_n=2, threshold=0.5)
    got = {r["doc_id"]: r["cluster"] for r in out.collect()}
    assert got[0] == 0 and got[1] == 0 and got[3] == 0  # one cluster, min id
    assert got[2] == 2  # singleton keeps its own id
    # keep-one-per-cluster filter is deterministic
    kept = sorted(d for d, c in got.items() if d == c)
    assert kept == [0, 2]


def test_duplicate_clusters_no_pairs(spark):
    df = spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = dedup.duplicate_clusters(df, shingle_n=2, threshold=0.9)
    got = {r["doc_id"]: r["cluster"] for r in out.collect()}
    assert got == {10: 10, 11: 11}


def test_select_canonical_highest_score_wins(spark):
    clustered = spark.createDataFrame(
        [
            (1, 1, 10.0),  # cluster 1: doc 2 has the best score
            (2, 1, 30.0),
            (3, 1, 20.0),
            (7, 7, 5.0),   # singleton keeps itself
        ],
        "doc_id long, cluster long, score double",
    )
    out = dedup.select_canonical(clustered)
    got = {r["doc_id"]: r["keep"] for r in out.collect()}
    assert got == {1: False, 2: True, 3: False, 7: True}
    assert out.columns == ["cluster", "doc_id", "score", "keep"]


def test_select_canonical_ties_to_smallest_id(spark):
    clustered = spark.createDataFrame(
        [(5, 1, 9.0), (4, 1, 9.0), (6, 1, 9.0)],
        "doc_id long, cluster long, score double",
    )
    got = {r["doc_id"]: r["keep"]
           for r in dedup.select_canonical(clustered).collect()}
    assert got == {4: True, 5: False, 6: False}


def test_select_canonical_plan_has_no_window(spark):
    """Skew guarantee: the winner is a partial-aggregatable min-struct
    groupBy, never a per-cluster Window (which would concentrate a Zipfian
    mega-cluster onto one task)."""
    clustered = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "doc_id long, cluster long, score double",
    )
    plan = (
        dedup.select_canonical(clustered)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "partial_min" in plan
