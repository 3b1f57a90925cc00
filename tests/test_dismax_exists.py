"""DisjunctionMax / ConstScore / Exists queries and order-by-field top-k
(Tantivy query family: src/query/disjunction_max_query.rs,
const_score_query.rs, exists_query.rs; TopDocs::order_by_u64_field)."""

import pytest

from tantiny_spark import plan as P
from tantiny_spark.errors import QueryParseError, UnsupportedField
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    s = IndexSchema()
    s.text("text")
    s.string("tag")
    s.integer("n")
    idx = Index(spark, str(tmp_path_factory.mktemp("dismax") / "idx"), s)
    with idx.transaction():
        for i, (txt, tag, n) in enumerate(
            [
                ("apple banana", "x", 10),
                ("apple apple cherry", "x", 30),
                ("banana cherry", None, 20),
                ("cherry date", "y", None),
                ("date elder", "y", 40),
            ]
        ):
            idx.add({"id": i, "text": txt, "tag": tag, "n": n})
    return idx.reload()


def _scores(ix, q):
    return dict(ix.search_with_scores(q, limit=100))


# --- DisjunctionMax ---------------------------------------------------------

def test_dismax_math_matches_children(ix):
    a = _scores(ix, ix.term_query("text", "apple"))
    b = _scores(ix, ix.term_query("text", "banana"))
    got = _scores(
        ix, ix.dis_max_query(
            [ix.term_query("text", "apple"), ix.term_query("text", "banana")],
            tie_breaker=0.3,
        )
    )
    assert set(got) == set(a) | set(b)
    for doc in got:
        sa, sb = a.get(doc, 0.0), b.get(doc, 0.0)
        mx, sm = max(sa, sb), sa + sb
        assert got[doc] == pytest.approx(mx + 0.3 * (sm - mx), rel=1e-12)


def test_dismax_tie_zero_is_pure_max(ix):
    a = _scores(ix, ix.term_query("text", "apple"))
    b = _scores(ix, ix.term_query("text", "cherry"))
    got = _scores(
        ix, ix.dis_max_query(
            [ix.term_query("text", "apple"), ix.term_query("text", "cherry")]
        )
    )
    for doc in got:
        assert got[doc] == pytest.approx(
            max(a.get(doc, 0.0), b.get(doc, 0.0)), rel=1e-12
        )


def test_dismax_degenerate_forms():
    t1, t2 = P.Term("text", "a"), P.Term("text", "b")
    # tie=1.0 is score-summing: stays a Disjunction (one-scan term OR)
    assert isinstance(P.dis_max_query([t1, t2], 1.0), P.Disjunction)
    assert P.dis_max_query([t1]) is t1
    assert isinstance(P.dis_max_query([]), P.Empty)
    with pytest.raises(ValueError):
        P.dis_max_query([t1, t2], 1.5)
    with pytest.raises(TypeError):
        P.dis_max_query([t1, "nope"])


# --- ConstScore -------------------------------------------------------------

def test_const_score_gates_and_scores(ix):
    got = _scores(
        ix, ix.const_score_query(ix.term_query("text", "apple"), 0.5)
    )
    assert got == {"0": 0.5, "1": 0.5}


def test_const_score_composes_in_disjunction(ix):
    b = _scores(ix, ix.term_query("text", "banana"))
    got = _scores(
        ix,
        ix.const_score_query(ix.term_query("text", "apple"), 0.75)
        | ix.term_query("text", "banana"),
    )
    # doc 0 matches both: exactly 0.75 + banana's BM25; doc 1 const-only
    assert got["0"] == pytest.approx(0.75 + b["0"], rel=1e-12)
    assert got["1"] == pytest.approx(0.75, rel=1e-12)
    assert got["2"] == pytest.approx(b["2"], rel=1e-12)


# --- Exists -----------------------------------------------------------------

def test_exists_value_field_excludes_nulls(ix):
    assert ix.search(ix.exists_query("n"), limit=10) == ["0", "1", "2", "4"]


def test_exists_string_field_via_postings(ix):
    # tag is a string field: existence = at least one posting (doc 2's
    # null tag produced none)
    q = ix.exists_query("tag")
    assert isinstance(q, P.Exists) and q.via_postings
    assert ix.search(q, limit=10) == ["0", "1", "3", "4"]


def test_exists_validation(ix):
    with pytest.raises(UnsupportedField):
        ix.exists_query("nope")


# --- parser sugar -----------------------------------------------------------

def test_parser_field_star_is_exists(ix):
    q = ix.parse_query("n:*")
    assert q == P.Exists("n", via_postings=False)
    assert ix.search(q, limit=10) == ["0", "1", "2", "4"]


def test_parser_bare_star_is_all(ix):
    assert isinstance(ix.parse_query("*"), P.All)
    # Lucene-style filtered exists: docs with a tag, minus the 'y' ones
    got = ix.search(ix.parse_query("tag:* -tag:y"), limit=10)
    assert got == ["0", "1"]


def test_parser_star_unknown_field(ix):
    with pytest.raises(QueryParseError):
        ix.parse_query("nope:*")


# --- order-by-field top-k ----------------------------------------------------

def test_search_by_field_desc_and_asc(ix):
    rows = ix.search_by_field(
        ix.term_query("text", "cherry"), "n", limit=10
    ).collect()
    # matched docs 1,2,3; doc 3 has n=NULL and is excluded from the order
    assert [(r["id"], r["value"]) for r in rows] == [("1", 30), ("2", 20)]
    rows = ix.search_by_field(
        ix.all_query(), "n", limit=3, ascending=True
    ).collect()
    assert [r["value"] for r in rows] == [10, 20, 30]


def test_search_by_field_validation(ix):
    with pytest.raises(UnsupportedField):
        ix.search_by_field(ix.all_query(), "text")


# --- regex phrase -------------------------------------------------------------

def test_regex_phrase_adjacent(ix):
    # apple(0) banana(1) in doc 0; 'a.*e' also matches nothing else adjacent
    q = ix.regex_phrase_query("text", ["a.*e", "b.n.na"])
    assert ix.search(q, limit=10) == ["0"]
    # a pattern position with no dictionary match -> empty, not an error
    assert ix.search(
        ix.regex_phrase_query("text", ["a.*e", "zzz+"]), limit=10
    ) == []


def test_regex_phrase_multi_candidate_position(ix):
    # second position matches BOTH banana and cherry: docs 0 and 1 qualify
    q = ix.regex_phrase_query("text", ["apple", "banana|cherry"])
    assert ix.search(q, limit=10) == ["0", "1"]


def test_regex_phrase_slop(ix):
    # doc 1 'apple apple cherry': apple@0 -> cherry@2 needs slop >= 1
    q0 = ix.regex_phrase_query("text", ["ap+le", "ch.rry"])
    q1 = ix.regex_phrase_query("text", ["ap+le", "ch.rry"], slop=1)
    assert ix.search(q0, limit=10) == ["1"]  # apple@1 -> cherry@2 adjacent
    assert ix.search(q1, limit=10) == ["1"]
    # start-anchored: 'banana cherry' (doc 2) only via the banana pattern
    q2 = ix.regex_phrase_query("text", ["b.*", "cherry"], slop=1)
    assert ix.search(q2, limit=10) == ["2"]


def test_regex_phrase_single_position_and_validation(ix):
    from tantiny_spark.errors import UnsupportedRegexSyntax
    assert ix.search(
        ix.regex_phrase_query("text", ["d.te"]), limit=10
    ) == ["3", "4"]
    with pytest.raises(ValueError):
        ix.regex_phrase_query("text", ["a"], slop=-1)
    with pytest.raises(ValueError):
        ix.regex_phrase_query("text", ["a"], max_expansions=0)
    with pytest.raises(UnsupportedRegexSyntax):
        ix.regex_phrase_query("text", ["(?=look)ahead"])
    assert isinstance(ix.regex_phrase_query("text", []), P.Empty)


def test_regex_phrase_explain(ix):
    q = ix.regex_phrase_query("text", ["a.*e", "b.n.na"])
    tree = ix.explain(q, "0")
    assert tree["type"] == "RegexPhrase"
    assert tree["patterns"] == ["a.*e", "b.n.na"]
    assert tree["matches"] and tree["score"] == 1.0


# --- minimum_should_match -----------------------------------------------------

def test_msm_pure_should_gates_and_sums_all_matches(ix):
    shoulds = [ix.term_query("text", t) for t in ("apple", "banana", "cherry")]
    per = [_scores(ix, q) for q in shoulds]
    got = _scores(ix, ix.boolean_query(should=shoulds, minimum_should_match=2))
    # docs 0,1,2 match exactly two clauses; 3 (cherry only) and 4 (none) gate out
    assert set(got) == {"0", "1", "2"}
    for doc in got:  # ALL matching shoulds score, not just the counted two
        assert got[doc] == pytest.approx(
            sum(p.get(doc, 0.0) for p in per), rel=1e-12
        )


def test_msm_with_must_prunes_and_keeps_must_score(ix):
    must = ix.term_query("text", "cherry")
    shoulds = [ix.term_query("text", "apple"), ix.term_query("text", "date")]
    base = _scores(ix, must)
    per = [_scores(ix, q) for q in shoulds]
    got = _scores(
        ix, ix.boolean_query(must=[must], should=shoulds,
                             minimum_should_match=1)
    )
    # cherry docs are 1,2,3; doc 2 matches no should and is pruned
    assert set(got) == {"1", "3"}
    for doc in got:
        assert got[doc] == pytest.approx(
            base[doc] + sum(p.get(doc, 0.0) for p in per), rel=1e-12
        )


def test_msm_degenerate_and_validation():
    t = [P.Term("text", x) for x in "abc"]
    # pure-should msm<=1 keeps the plain Disjunction (one-scan term OR)
    assert isinstance(P.boolean_query(should=t, minimum_should_match=1),
                      P.Disjunction)
    assert isinstance(P.boolean_query(should=t, minimum_should_match=None),
                      P.Disjunction)
    # impossible gate can never match (Lucene BooleanWeight)
    assert isinstance(P.boolean_query(should=t, minimum_should_match=4),
                      P.Empty)
    with pytest.raises(ValueError):
        P.boolean_query(should=t, minimum_should_match=-1)
    with pytest.raises(ValueError):
        P.boolean_query(must=t, minimum_should_match=2)


def test_msm_with_must_not(ix):
    shoulds = [ix.term_query("text", t) for t in ("apple", "banana", "cherry")]
    got = ix.search(
        ix.boolean_query(should=shoulds,
                         must_not=[ix.term_query("text", "banana")],
                         minimum_should_match=2),
        limit=10,
    )
    assert got == ["1"]  # 0 and 2 excluded by banana, 3 fails the gate


# --- explain ----------------------------------------------------------------

def test_explain_new_nodes(ix):
    q = ix.dis_max_query(
        [ix.const_score_query(ix.term_query("text", "apple"), 0.5),
         ix.term_query("text", "banana")],
        tie_breaker=0.2,
    )
    tree = ix.explain(q, "0")
    assert tree["type"] == "DisjunctionMax"
    assert tree["tie_breaker"] == 0.2
    kinds = {c["type"] for c in tree["children"]}
    assert kinds == {"ConstScore", "Term"}
    const = next(c for c in tree["children"] if c["type"] == "ConstScore")
    assert const["const"] == 0.5 and const["score"] == 0.5


# --- wildcard ----------------------------------------------------------------

def test_wildcard_query(ix):
    from tantiny_spark import plan as P2
    q = ix.wildcard_query("text", "b?n*a")
    # translated onto the Regex node: b + one char + n + any run + a
    assert q == P2.Regex("text", "b.n.*a")
    assert ix.search(q, limit=10) == ["0", "2"]  # banana docs


def test_wildcard_escapes_regex_metachars(ix):
    # '.' must be literal, not regex-any: 'd.te' matches nothing
    assert ix.search(ix.wildcard_query("text", "d.te"), limit=10) == []
    assert ix.search(ix.wildcard_query("text", "d?te"), limit=10) == ["3", "4"]


def test_parser_wildcard_atom(ix):
    q = ix.parse_query("text:d?te")
    from tantiny_spark import plan as P2
    assert q == P2.Regex("text", "d.te")
    # trailing-* only stays the cheaper Prefix query
    assert isinstance(ix.parse_query("text:che*"), P2.Prefix)
    # but a second wildcard promotes to wildcard semantics
    assert ix.parse_query("text:c?er*") == P2.Regex("text", "c.er.*")
