"""Per-group top-k (search_many per query, top_hits per bucket) is one
row_number window that Spark prunes itself: a Partial WindowGroupLimit
below the exchange keeps each partition's top rows per group, and no
Python node runs. Boundary ties are checked across segments, each scanned
as its own partitions."""

import re

import pytest

from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema

N_DOCS, N_SEGMENTS = 120, 4
PYTHON_NODE = re.compile(r"MapInPandas|MapInArrow|EvalPython|InPandas")


def _doc(i: int) -> tuple:
    # 24 docs (i % 5 == 0) score higher on "common"; every other doc ties.
    # Per tag bucket, 6 docs (i % 7 == 0) sort higher on n; the rest tie.
    text = "common common" if i % 5 == 0 else "common word"
    return (f"d{i:03d}", text, f"t{i % 3}", 2 if i % 7 == 0 else 1)


@pytest.fixture(scope="module")
def tie_index(spark, tmp_path_factory):
    """Ids interleaved over 4 segments (segment = i % 4), so every tie at
    a limit boundary spans all of them."""
    s = IndexSchema()
    s.text("t")
    s.string("tag")
    s.integer("n")
    ix = Index(spark, str(tmp_path_factory.mktemp("ties") / "idx"), s)
    for seg in range(N_SEGMENTS):
        ix.add_dataframe(spark.createDataFrame(
            [_doc(i) for i in range(seg, N_DOCS, N_SEGMENTS)],
            "id string, t string, tag string, n long",
        ))
    ix = ix.reload()
    assert ix.ctx.postings.rdd.getNumPartitions() >= N_SEGMENTS
    assert ix.ctx.docs.rdd.getNumPartitions() >= N_SEGMENTS
    return ix


def _collected(monkeypatch, cls) -> list:
    """Record every DataFrame ``cls.collect`` runs from now on."""
    seen: list = []
    collect = cls.collect

    def spy(self):
        seen.append(self)
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    return seen


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_partial_limit_below_exchange(plan: str, key: str):
    exchange = plan.index(f"Exchange hashpartitioning({key}#")
    partial = re.search(
        rf"WindowGroupLimit \[{key}#[^\n]*, Partial", plan[exchange:]
    )
    assert partial, plan
    assert not PYTHON_NODE.search(plan), plan


@pytest.mark.parametrize("limit", [7, 30])
def test_search_many_boundary_ties(tie_index, limit):
    """Limit 7 cuts the all-tied negation and the 24 tf-2 docs; limit 30
    cuts the tied tf-1 docs of "common". Each batch answer equals search()
    and a brute-force (score desc, id asc) sort."""
    ix = tie_index
    queries = {
        "neg": ~ix.term_query("t", "zzz"),
        "common": ix.term_query("t", "common"),
        "word": ix.term_query("t", "word"),
    }
    batch = ix.search_many(queries, limit=limit)
    for name, q in queries.items():
        assert batch[name] == ix.search(q, limit=limit), name
        hits = ix.search_with_scores(q, limit=N_DOCS)
        brute = sorted(hits, key=lambda h: (-h[1], h[0]))[:limit]
        assert batch[name] == [h[0] for h in brute], name
    assert batch["neg"] == [f"d{i:03d}" for i in range(limit)]


@pytest.mark.parametrize("size,from_", [(4, 4), (3, 0)])
def test_top_hits_boundary_ties(tie_index, size, from_):
    """Each bucket's ranks from_+1 .. from_+size cut its n=1 ties (or
    its n=2 docs) across segments; the answer equals a brute-force
    (n desc, id asc) sort and search_by_field on the bucket's term."""
    ix = tie_index
    out = ix.aggregate(
        {"tags": {"terms": {"field": "tag"},
                  "aggs": {"h": {"top_hits": {
                      "size": size, "from": from_, "sort": [{"n": "desc"}]}}}}}
    ).collect()
    got = [(r["tags"], r["hit_rank"], r["id"], r["n"]) for r in out]
    expected = []
    for tag in ("t0", "t1", "t2"):
        rows = sorted(
            (d for d in map(_doc, range(N_DOCS)) if d[2] == tag),
            key=lambda d: (-d[3], d[0]),
        )
        for rank, d in enumerate(rows[from_:from_ + size], start=from_ + 1):
            expected.append((tag, rank, d[0], d[3]))
        by_field = ix.search_by_field(
            ix.term_query("tag", tag), "n", limit=size, offset=from_
        ).collect()
        assert [(r["id"], r["value"]) for r in by_field] == [
            (e[2], e[3]) for e in expected if e[0] == tag
        ]
    assert got == expected


def test_search_many_plan_limits_each_query_in_the_jvm(tie_index, monkeypatch):
    """search_many's window sits over a Final WindowGroupLimit, and the
    Partial one runs below the exchange on the query tag: each task
    forwards at most ``limit`` rows per query, with no Python node."""
    ix = tie_index
    seen = _collected(monkeypatch, type(ix.ctx.docs))
    ix.search_many(
        {"neg": ~ix.term_query("t", "zzz"), "common": ix.term_query("t", "common")},
        limit=5,
    )
    _assert_partial_limit_below_exchange(_physical(seen[-1]), "query")


def test_top_hits_plan_limits_each_bucket_in_the_jvm(tie_index):
    """top_hits' per-bucket window is pruned the same way: a Partial
    WindowGroupLimit below the exchange on the bucket key, no Python."""
    ix = tie_index
    plan = _physical(ix.aggregate(
        {"tags": {"terms": {"field": "tag"},
                  "aggs": {"h": {"top_hits": {
                      "size": 2, "from": 1, "sort": [{"n": "desc"}]}}}}}
    ))
    _assert_partial_limit_below_exchange(plan, "tags")


def test_bench_suite_plans_run_no_python(spark, tmp_path, monkeypatch):
    """The 11 queries of bench.py's suite, searched one by one and as one
    search_many batch, plan no Python node."""
    from datetime import datetime

    from bench import QUERY_SUITE, build_schema

    words = ["spark", "merge", "vector", "hash", "window", "batch", "spore"]
    rows = [
        (
            f"u{i:03d}",
            " ".join(words[(i + j) % len(words)] for j in range(i % 5 + 2)),
            "en" if i % 2 else "de",
            datetime(2025 + i % 3, 1 + i % 12, 1),
        )
        for i in range(60)
    ]
    ix = Index(spark, str(tmp_path / "idx"), build_schema())
    ix.add_dataframe(spark.createDataFrame(
        rows, "url string, text string, lang string, warc_ts timestamp"
    ))
    ix = ix.reload()
    suite = [(name, make(ix)) for name, make in QUERY_SUITE]
    for name, q in suite:
        plan = _physical(ix.search_df(q, limit=10))
        assert not PYTHON_NODE.search(plan), (name, plan)
    seen = _collected(monkeypatch, type(ix.ctx.docs))
    batch = ix.search_many(dict(suite), limit=10)
    assert batch["fuzzy"] and batch["range_date"]
    plan = _physical(seen[-1])
    assert "WindowGroupLimit" in plan
    assert not PYTHON_NODE.search(plan), plan
