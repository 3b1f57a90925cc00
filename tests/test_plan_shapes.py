"""Physical-plan regression tests: the architectural properties documented
in docs/PLANS.md, asserted so a refactor can't silently lose them.
"""

import numpy as np
import pytest

from tantiny_spark import plan as P
from tantiny_spark.executor import compile_plan, top_k
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


@pytest.fixture(scope="module")
def plan_index(spark, tmp_path_factory):
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(20)]
    rows = [
        (
            f"p{i:04d}",
            " ".join(rng.choice(vocab, size=int(rng.integers(5, 30)))),
            f"/c{i % 3}/s{i % 5}",
        )
        for i in range(300)
    ]
    s = IndexSchema()
    s.text("t")
    s.facet("cat")
    ix = Index(spark, str(tmp_path_factory.mktemp("plans") / "idx"), s)
    ix.add_dataframe(
        spark.createDataFrame(rows, "id string, t string, cat string")
    )
    return ix.reload()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_query_plan_shape(plan_index):
    """Term query = pruned scan → JVM score → TakeOrderedAndProject:
    (field, term) filters reach the Parquet reader, the positions column is
    never read, and the whole query has NO shuffle exchange."""
    ix = plan_index
    scored = compile_plan(ix.term_query("t", "w0"), ix.ctx)
    plan = _physical(top_k(scored, ix.ctx, 10))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan and "EqualTo(term,w0)" in plan
    assert "positions" not in plan  # column pruning: Basic, not WithPositions
    # the only join is against the persisted id map (broadcast or in-memory
    # relation) — no shuffle exchange anywhere in a single-term query
    assert "Exchange hashpartitioning" not in plan


def test_term_query_scoring_is_jvm_side(plan_index):
    """The BM25 expression must stay in whole-stage codegen — no Python
    evaluation node in the scoring stage."""
    ix = plan_index
    scored = compile_plan(ix.term_query("t", "w1"), ix.ctx)
    plan = _physical(scored)
    # '*(N)' prefixes mark whole-stage-codegen spans in the compact plan
    # string; the scoring Project must carry one
    assert "*(1) Project" in plan or "WholeStageCodegen" in plan
    assert "Python" not in plan and "Arrow" not in plan


def test_facet_counts_plan_shape(plan_index):
    """Facet counting = startswith range pushdown + partial aggregation;
    no explode node and the pre-shuffle partial_count is present."""
    ix = plan_index
    plan = _physical(ix.facet_counts("cat", "/c0"))
    assert "StartsWith(term,/c0/)" in plan
    assert "partial_count" in plan  # map-side combine before the exchange
    assert "Generate" not in plan  # no explode


def test_range_scan_prunes_columns(plan_index):
    """All-query / negation scans the docs table, not postings; only the
    needed columns are read."""
    ix = plan_index
    scored = compile_plan(~ix.term_query("t", "w0"), ix.ctx)
    plan = _physical(scored)
    # the negation side reads postings pruned to the term, the docs side
    # reads only doc_id — text/facet columns never deserialize
    assert "EqualTo(term,w0)" in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_term_set_plan_shape(plan_index):
    """TermSetQuery = a literal In predicate pushed into the postings scan
    (the dictionary-range analog); distinct is a partial-aggregatable
    groupBy, no window, no Python."""
    ix = plan_index
    scored = compile_plan(ix.term_set_query("t", ["w0", "w1"]), ix.ctx)
    plan = _physical(scored)
    assert "In(term, [w0,w1])" in plan or "In(term" in plan
    assert "positions" not in plan
    assert "Python" not in plan
    assert "Window" not in plan


def test_term_or_is_one_postings_scan(plan_index):
    """A 20-term single-field OR = ONE pruned postings scan (the term IN
    list reaches the Parquet reader) feeding one sum groupBy — no per-term
    scan and no Union."""
    ix = plan_index
    q = P.disjunction(*[ix.term_query("t", f"w{i}") for i in range(20)])
    plan = _physical(compile_plan(q, ix.ctx))
    assert plan.count("FileScan") == 1
    assert "Union" not in plan
    assert "In(term" in plan
    assert "positions" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_boolean_occur_plan_shape(plan_index):
    """BooleanOccur's optional-scoring should clause is ONE left outer join
    over the must base — no window, no driver collect, scoring stays JVM."""
    ix = plan_index
    q = ix.boolean_query(
        must=[ix.term_query("t", "w0")],
        should=[ix.term_query("t", "w1")],
        must_not=[ix.term_query("t", "w2")],
    )
    scored = compile_plan(q, ix.ctx)
    plan = _physical(scored)
    assert "LeftOuter" in plan       # the optional-scoring attach
    assert "LeftAnti" in plan        # the must_not exclusion
    assert "Window" not in plan
    assert "Python" not in plan


def test_range_agg_single_pass(plan_index, spark, tmp_path_factory):
    """Range aggregation = ONE aggregate computing every bucket as a
    conditional count (single pass over the docs), then a constant-size
    stack over the 1-row result — no per-bucket scan, no explode of data
    rows, no shuffle keyed by bucket."""
    s = IndexSchema()
    s.text("t")
    s.integer("n")
    ix = Index(spark, str(tmp_path_factory.mktemp("ragg") / "idx"), s)
    ix.add_dataframe(
        spark.createDataFrame(
            [(f"r{i}", "w", i) for i in range(50)], "id string, t string, n int"
        )
    )
    ix.reload()
    plan = _physical(ix.range_agg("n", [(None, 10), (10, 30), (30, None)]))
    # exactly one aggregate pair (partial + final) over the scan
    assert plan.count("HashAggregate") <= 2
    assert "partial_sum" in plan or "partial_count" in plan
    # the docs parquet is scanned ONCE (bucket counts share the pass)
    assert plan.count("Scan parquet") == 1


def test_percentiles_single_agg(spark, tmp_path_factory):
    """Exact percentiles = ONE global aggregate (all cuts share the pass),
    then a constant-size posexplode of the 1-row array — no Python, no
    per-cut scan."""
    s = IndexSchema()
    s.text("t")
    s.integer("n")
    ix = Index(spark, str(tmp_path_factory.mktemp("pctl") / "idx"), s)
    ix.add_dataframe(
        spark.createDataFrame(
            [(f"p{i}", "w", i) for i in range(40)], "id string, t string, n int"
        )
    )
    ix.reload()
    plan = _physical(ix.percentiles("n", (25, 50, 75)))
    assert plan.count("Scan parquet") == 1   # one pass for all cuts
    assert "Python" not in plan
    # the explode acts on the single aggregated row, not on data rows:
    # Generate appears AFTER the aggregate in the plan tree (higher up the
    # printed string)
    assert plan.index("Generate") < plan.index("HashAggregate")


def test_dismax_single_groupby(plan_index):
    """DisjunctionMax = union → ONE partial-aggregatable groupBy carrying
    max+sum together → codegen'd tie-breaker Project. Same shuffle count
    as a plain OR; no join, no window."""
    ix = plan_index
    q = ix.dis_max_query(
        [ix.term_query("t", "w0"), ix.term_query("t", "w1")], tie_breaker=0.3
    )
    plan = _physical(compile_plan(q, ix.ctx))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan and "partial_sum" in plan
    assert "Window" not in plan and "Python" not in plan


def test_exists_value_field_pushes_isnotnull(plan_index, spark, tmp_path_factory):
    """Exists on a value field = IS NOT NULL reaching the docs Parquet
    scan — no join, no aggregate."""
    s = IndexSchema()
    s.text("t")
    s.integer("n")
    ix = Index(spark, str(tmp_path_factory.mktemp("exists") / "idx"), s)
    ix.add_dataframe(spark.createDataFrame(
        [("a", "x y", 1), ("b", "y z", None)], "id string, t string, n long"
    ))
    ix = ix.reload()
    plan = _physical(compile_plan(ix.exists_query("n"), ix.ctx))
    assert "IsNotNull(n)" in plan  # pushed to the scan
    assert "Exchange" not in plan and "Join" not in plan


def test_search_by_field_take_ordered(spark, tmp_path_factory):
    """Order-by-fast-field top-k ends in TakeOrderedAndProject (partial
    per-partition top-k), never a global Sort, and stays JVM-side."""
    s = IndexSchema()
    s.text("t")
    s.integer("n")
    ix = Index(spark, str(tmp_path_factory.mktemp("orderby") / "idx"), s)
    ix.add_dataframe(spark.createDataFrame(
        [(str(i), "x y" if i % 2 else "y z", i * 10) for i in range(20)],
        "id string, t string, n long",
    ))
    ix = ix.reload()
    plan = _physical(ix.search_by_field(ix.term_query("t", "x"), "n", limit=5))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")
    assert "Python" not in plan


def test_offset_folds_into_take_ordered(plan_index):
    """Pagination must stay inside TakeOrderedAndProject (offset=...) —
    deep pages never trigger a global Sort or an extra exchange."""
    plan = _physical(
        plan_index.search_df(plan_index.term_query("t", "w3"), limit=5, offset=10)
    )
    assert "TakeOrderedAndProject" in plan
    assert "offset=10" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_json_term_plan_shape(spark, tmp_path_factory):
    """A json path term query is a plain Term on the encoded term: the
    (field, encoded-term) filter reaches the Parquet reader exactly like a
    text term, positions stay unread, no shuffle exchange."""
    s = IndexSchema()
    s.json("attrs")
    ix = Index(spark, str(tmp_path_factory.mktemp("jsonplan") / "idx"), s)
    ix.add_dataframe(spark.createDataFrame(
        [(str(i), f'{{"k": "v{i % 4}", "n": {i}}}') for i in range(40)],
        "id string, attrs string",
    ))
    ix = ix.reload()
    scored = compile_plan(ix.json_term_query("attrs", "k", "v1"), ix.ctx)
    plan = _physical(top_k(scored, ix.ctx, 10))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan and "EqualTo(term,k\x01sv1)" in plan
    assert "positions" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_suggest_is_dictionary_only(plan_index):
    """suggest never touches the postings or docs tables — the plan reads
    the (tiny) dictionary relation only and ends in a TakeOrdered."""
    plan = _physical(plan_index.suggest("t", "w00", distance=1))
    assert "TakeOrderedAndProject" in plan
    for table in ("postings", "docs"):
        assert f"/{table}" not in plan, f"suggest scanned {table}"


def test_significant_terms_single_corpus_pass(plan_index):
    """significant_terms makes ONE corpus-scale aggregation: exactly one
    hash exchange keyed on term over the postings side (the dictionary
    background join is broadcast/small)."""
    plan = _physical(plan_index.significant_terms(
        "t", plan_index.term_query("t", "w0"), min_doc_count=1))
    # one partial-aggregatable fg groupBy → one term-keyed exchange from
    # the postings scan; the bg dictionary agg is over the tiny cached
    # dictionary, never the corpus
    assert plan.count("Exchange hashpartitioning(term") <= 2
    assert "TakeOrderedAndProject" in plan


def test_build_reads_its_input_in_one_python_pass(
    spark, tmp_path, monkeypatch
):
    """A build's staging write is the input's one Python pass: its optimized
    plan holds exactly one MapInPandas (the analyzer, which numbers the
    docs) over the range-sorted input, and no cached relation; the build
    leaves no RDD persisted."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from tantiny_spark import build

    staged_plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        if os.path.basename(path) == "analyzed":
            staged_plans.append(
                self._df._jdf.queryExecution().optimizedPlan().toString()
            )
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    # several analyzer partitions, so the input is range-partitioned
    monkeypatch.setattr(build, "ANALYZER_MIN_DOCS_PER_PARTITION", 20)
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    before = persisted()
    s = IndexSchema()
    s.text("t")
    ix = Index(spark, str(tmp_path / "idx"), s)
    ix.add_dataframe(spark.createDataFrame(
        [(f"d{i:03d}", f"w{i % 5} common") for i in range(99, -1, -1)],
        "id string, t string",
    ))
    assert persisted() == before
    assert len(staged_plans) == 1
    plan = staged_plans[0]
    assert plan.count("MapInPandas") == 1, plan
    assert "RepartitionByExpression" in plan, plan
    assert "InMemoryRelation" not in plan, plan
    assert len(ix.reload().search("common", limit=200)) == 100
