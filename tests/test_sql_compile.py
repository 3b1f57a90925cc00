"""compile_plan builds one SQL text per query and runs it as one spark.sql
call: user strings reach the text only as exact literals, the tables it
binds as temporary views are gone when the call returns (also when a
query raises), and a cold term search is that one call and one Spark job.
"""

from __future__ import annotations

import gc
import json

import pytest

from tantiny_spark import executor
from tantiny_spark import plan as P
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema

# quotes, backslashes, str.format braces, variable substitution, parameter
# markers, comment openers, a newline and non-ASCII text
ODD = [
    "it's", "back\\slash", "{x}", "}{", "${x}", ":name", "q?", "a--b",
    "/*c*/", "new\nline", "été日本",
]


@pytest.fixture(scope="module")
def odd_index(spark, tmp_path_factory):
    """Doc ``d<i>`` holds ODD[i] as its string value, as a facet path
    (ODD[i] with a ``/`` is left out of the facet) and as a json key whose
    value is the text "new york"; one more doc holds plain values."""
    schema = IndexSchema()
    schema.string("s")
    schema.facet("cat")
    schema.json("j")
    idx = Index(spark, str(tmp_path_factory.mktemp("odd") / "idx"), schema)
    rows = [
        (f"d{i:02d}", v, None if "/" in v else f"/{v}/leaf",
         json.dumps({v: "new york"}))
        for i, v in enumerate(ODD)
    ] + [("plain", "plain", "/plain", json.dumps({"k": "new york"}))]
    idx.add_dataframe(spark.createDataFrame(
        rows, "id string, s string, cat string, j string"
    ))
    return idx.reload()


def _ids(idx, node) -> set:
    return set(idx.search(node, limit=100))


def _views(spark) -> list:
    return [t.name for t in spark.catalog.listTables()
            if t.name.startswith("_pyspark_")]


@pytest.mark.parametrize("i", range(len(ODD)), ids=[repr(v) for v in ODD])
def test_odd_strings_read_back_exactly(odd_index, i):
    idx, v, want = odd_index, ODD[i], {f"d{i:02d}"}
    assert idx.ctx.id_runs is not None  # the one-call path
    queries = [
        P.Term("s", v),
        P.Phrase("s", (v,)),
        P.Regex("s", "\\Q" + v + "\\E"),
        P.FuzzyTerm("s", v, 0),
        P.TermSet("s", (v, "no'such")),
        idx.json_term_query("j", v, "york"),
        idx.json_term_query("j", v, "new york"),  # a two-term phrase
    ]
    if "/" not in v:
        queries.append(idx.facet_query("cat", f"/{v}"))
    for node in queries:
        assert _ids(idx, node) == want, node
        assert idx.search_df(node, 100).count() == 1, node
    prefixed = {f"d{k:02d}" for k, w in enumerate(ODD) if w.startswith(v)}
    assert _ids(idx, P.Prefix("s", v)) == prefixed
    close = {
        f"d{k:02d}" for k, w in enumerate(ODD) if executor._osa(v, w) <= 1
    } | ({"plain"} if executor._osa(v, "plain") <= 1 else set())
    assert _ids(idx, P.FuzzyTerm("s", v, 1)) == close


def test_no_view_outlives_a_query(spark, odd_index):
    """Every spark.sql call drops the views it bound, when a query
    succeeds and when it raises."""
    idx = odd_index
    assert _ids(idx, P.Term("s", "plain")) == {"plain"}
    idx.search_many({"a": P.Term("s", "{x}"), "b": P.Prefix("s", "$")})
    assert _views(spark) == []
    with pytest.raises(Exception):
        idx.search(P.Regex("s", "("))  # an invalid Java regex
    with pytest.raises(Exception):
        idx.search(P.RegexPhrase("s", ("(", "x")))
    with pytest.raises(Exception):
        # fails inside the spark.sql call, after its views are bound
        executor.compile_plan(P.Range("nosuch", "integer", 1, 2), idx.ctx)
    assert _views(spark) == []


def test_cold_term_search_is_one_sql_call(spark, odd_index, monkeypatch):
    """On a snapshot with id runs a cold term search is ONE spark.sql call
    and ONE Spark job, and compiling it makes a handful of py4j calls
    whatever the size of its score expression."""
    idx = odd_index.reload()
    assert idx.ctx.id_runs is not None
    texts: list = []
    sql = type(spark).sql

    def spy(self, text, *args, **kwargs):
        texts.append(text)
        return sql(self, text, *args, **kwargs)

    monkeypatch.setattr(type(spark), "sql", spy)
    sc = spark.sparkContext
    sc.setJobGroup("one-sql-call", "one-sql-call")
    try:
        assert idx.search(P.Term("s", "it's")) == ["d00"]
    finally:
        sc._jsc.clearJobGroup()
    assert len(texts) == 1, texts
    assert "ORDER BY score DESC" in texts[0]
    assert len(sc.statusTracker().getJobIdsForGroup("one-sql-call")) == 1

    client = sc._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def count(*args, **kwargs):
        calls[0] += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", count)
    gc.disable()  # a collected JavaObject sends its own py4j call
    try:
        executor.compile_plan(
            P.Term("s", "q?"), idx.ctx, (idx.ctx.id_runs, 10, 0)
        )
    finally:
        gc.enable()
    assert calls[0] <= 20, calls
