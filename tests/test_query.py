"""Query-semantics tests — ports of spec/tantiny/query_spec.rb via FIXTURES.md §3.

The kitchen-sink schema (query_spec.rb:8-16): facet, string, text (simple),
en_text (English stemmer), double, integer, date; default id field.
"""

from datetime import datetime

import pytest

from tantiny_spark import plan as P
from tantiny_spark.analysis.tokenizers import Tokenizer
from tantiny_spark.errors import UnsupportedField, UnsupportedRange
from tantiny_spark.index import Index
from tantiny_spark.schema import IndexSchema


def kitchen_schema() -> IndexSchema:
    s = IndexSchema()
    s.facet("facet")
    s.string("string")
    s.text("text")
    s.text("en_text", tokenizer=Tokenizer.new("stemmer", language="en"))
    s.double("double")
    s.integer("integer")
    s.date("date")
    return s


def build(spark, tmp_path, docs) -> Index:
    idx = Index(spark, str(tmp_path / "idx"), kitchen_schema())
    with idx.transaction():
        for d in docs:
            idx.add(d)
    return idx.reload()


def ids(idx, query, limit=10):
    return sorted(idx.search(query, limit=limit))


def test_all_and_empty(spark, tmp_path):
    # query_spec.rb:55-67
    idx = build(spark, tmp_path, [{"id": 1}, {"id": 2}])
    assert ids(idx, P.all_query()) == ["1", "2"]
    assert ids(idx, P.empty_query()) == []


def test_term(spark, tmp_path):
    # query_spec.rb:69-93
    idx = build(
        spark, tmp_path,
        [{"id": 1, "string": "hi"}, {"id": 2, "text": "hi"}, {"id": 3, "text": "kek"}],
    )
    q = idx.term_query(["string", "text"], "hi")
    assert ids(idx, q) == ["1", "2"]
    # unsupported field
    with pytest.raises(UnsupportedField):
        idx.term_query("integer", "hi")


def test_fuzzy(spark, tmp_path):
    # query_spec.rb:95-119
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "string": "hello"},
            {"id": 2, "text": "hellp"},
            {"id": 3, "text": "kek"},
        ],
    )
    q = idx.fuzzy_term_query(["string", "text"], "helll", 1)
    assert ids(idx, q) == ["1", "2"]
    q0 = idx.fuzzy_term_query(["string", "text"], "helll", 0)
    assert ids(idx, q0) == []


def test_phrase(spark, tmp_path):
    # query_spec.rb:121-135 — "ones two" stems to "one two" on en_text
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "en_text": "one two three"},
            {"id": 2, "en_text": "three two one"},
        ],
    )
    q = idx.phrase_query("en_text", "ones two")
    assert ids(idx, q) == ["1"]
    # phrase is text-only
    with pytest.raises(UnsupportedField):
        idx.phrase_query("string", "one two")


def test_regex(spark, tmp_path):
    # query_spec.rb:137-161
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "string": "hello"},
            {"id": 2, "text": "holla"},
            {"id": 3, "text": "help"},
        ],
    )
    q = idx.regex_query(["string", "text"], "h[eo]ll[oa]")
    assert ids(idx, q) == ["1", "2"]


def test_prefix(spark, tmp_path):
    # query_spec.rb:163-192 incl. regex special chars
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "string": "hello"},
            {"id": 2, "text": "hell"},
            {"id": 3, "string": "he.*"},
        ],
    )
    assert ids(idx, idx.prefix_query(["string", "text"], "hell")) == ["1", "2"]
    assert ids(idx, idx.prefix_query(["string", "text"], "he.")) == ["3"]


def test_range(spark, tmp_path):
    # query_spec.rb:194-237
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "integer": 42},
            {"id": 2, "integer": 100},
            {"id": 3, "double": 42.0},
            {"id": 4, "double": 100.0},
            {"id": 5, "date": datetime(1995, 1, 1)},
            {"id": 6, "date": datetime(2022, 1, 1)},
        ],
    )
    assert ids(idx, idx.range_query("integer", (0, 50))) == ["1"]
    assert ids(idx, idx.range_query("double", (0.0, 50.0))) == ["3"]
    assert ids(
        idx, idx.range_query("date", (datetime(1900, 1, 1), datetime(2000, 1, 1)))
    ) == ["5"]
    # python range object mirrors the Ruby exclusive-end quirk: range(0, 43) = [0, 42]
    assert ids(idx, idx.range_query("integer", range(0, 43))) == ["1"]
    assert ids(idx, idx.range_query("integer", range(0, 42))) == []
    with pytest.raises(UnsupportedRange):
        idx.range_query("integer", ("a", "z"))
    with pytest.raises(UnsupportedField):
        idx.range_query("double", (0, 50))  # int range on double field


def test_facet(spark, tmp_path):
    # query_spec.rb:239-263 — hierarchy: /animals matches descendants
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "facet": "/animals/birds"},
            {"id": 2, "facet": "/animals/fish"},
            {"id": 3, "facet": "/humans"},
        ],
    )
    assert ids(idx, idx.facet_query("facet", "/animals")) == ["1", "2"]
    assert ids(idx, idx.facet_query("facet", "/animals/birds")) == ["1"]
    assert ids(idx, idx.facet_query("facet", "/humans")) == ["3"]


def test_smart_query(spark, tmp_path):
    # query_spec.rb:265-318
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "text": "one two three"},
            {"id": 2, "en_text": "one two three"},
            {"id": 3, "text": "ready steady go"},
        ],
    )
    fields = ["text", "en_text"]
    assert ids(idx, idx.smart_query(fields, "one three")) == ["1", "2"]
    # stemming only on en_text
    assert ids(idx, idx.smart_query(fields, "ones two threes")) == ["2"]
    # order-independent
    assert ids(idx, idx.smart_query(fields, "three two one")) == ["1", "2"]
    # last term matches as prefix
    assert ids(idx, idx.smart_query(fields, "one two thr")) == ["1", "2"]
    # non-last partial term does not match
    assert ids(idx, idx.smart_query(fields, "one tw three")) == []
    # fuzzy
    assert ids(idx, idx.smart_query(fields, "reaby steaby bo", fuzzy_distance=1)) == ["3"]
    # empty string
    assert ids(idx, idx.smart_query(fields, "")) == []


def test_boolean(spark, tmp_path):
    # query_spec.rb:320-360
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "text": "hello world"},
            {"id": 2, "text": "hello world war"},
            {"id": 3, "text": "world war"},
        ],
    )
    hello = idx.term_query("text", "hello")
    assert ids(idx, ~hello) == ["3"]
    p1 = idx.phrase_query("text", "hello world")
    p2 = idx.phrase_query("text", "world war")
    assert ids(idx, p1 & p2) == ["2"]
    assert ids(idx, p1 | p2) == ["1", "2", "3"]


def test_boost_ordering(spark, tmp_path):
    # query_spec.rb:362-380 — boost lifts doc 3 to the top
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "string": "hello"},
            {"id": 2, "text": "hello hello"},
            {"id": 3, "string": "world"},
        ],
    )
    q = idx.term_query(["string", "text"], "hello") | idx.term_query(
        "string", "world", boost=100
    )
    hits = idx.search(q)
    assert hits[0] == "3"
    # boost(1.0) is a no-op returning the same plan node (query.rb:160)
    base = idx.term_query("text", "hello")
    assert base.boost(1.0) is base


def test_operator_type_check(spark, tmp_path):
    idx = build(spark, tmp_path, [{"id": 1}])
    with pytest.raises(TypeError):
        idx.all_query() & "not a query"
    with pytest.raises(TypeError):
        idx.all_query() | 42


def test_regex_rejects_java_only_dialect():
    """The reference's Rust regex engine (src/query.rs:101-117) errors on
    backreferences, lookaround, possessive quantifiers and atomic groups;
    accepting them via Java rlike would silently diverge, so regex_query
    raises the same way on the non-portable constructs and accepts the
    common Rust∩Java subset."""
    from tantiny_spark import plan as P
    from tantiny_spark.errors import UnsupportedRegexSyntax
    from tantiny_spark.schema import IndexSchema

    schema = IndexSchema()
    schema.text("text")
    for bad in (r"(\w+) \1", "(?=foo)bar", "(?<!x)y", "a*+b", "(?>atomic)"):
        with pytest.raises(UnsupportedRegexSyntax):
            P.regex_query(schema, "text", bad)
    for good in ("a+b", r"\d{2,3}", "(?i)case", r"\p{L}+", "a|b|c"):
        P.regex_query(schema, "text", good)


def test_regex_dialect_translation():
    """Rust-regex (reference: src/query.rs:101-117) patterns evaluate
    identically under Java's Pattern after translation."""
    from tantiny_spark.plan import translate_rust_regex as t

    assert t("(?P<y>\\d{4})") == "(?<y>\\d{4})"
    assert t("[[:alpha:]]+") == "[\\p{Alpha}]+"       # class-wrapped: same set
    assert t("[[:^digit:]x]") == "[\\P{Digit}x]"
    assert t("[a&&b]") == "[a\\&\\&b]"                # Rust: literal &&
    assert t("\\p{Greek}+") == "\\p{IsGreek}+"        # script needs Is- in Java
    assert t("\\p{Lu}\\p{L}") == "\\p{Lu}\\p{L}"      # categories shared
    assert t("mor.*") == "mor.*"
    assert t("\\\\p{Greek}") == "\\\\p{Greek}"        # escaped backslash


def test_regex_dialect_end_to_end(spark, tmp_path):
    """POSIX classes and literal && survive translation and match through
    the engine exactly as Rust's regex crate would interpret them."""
    idx = build(spark, tmp_path, [
        {"id": "1", "text": "hello world"},
        {"id": "2", "text": "h&&llo there"},
    ])
    assert ids(idx, idx.regex_query("text", "[[:alpha:]]*ello")) == ["1"]
    # Rust: [a&&e] is the literal set {a,&,e} (contains e) — Java intersection
    # {a}&&{e} would be empty; matching proves the && was escaped
    assert ids(idx, idx.regex_query("text", "h[a&&e]llo")) == ["1"]


def test_facet_counts(spark, tmp_path):
    """FacetCollector-style aggregation: child counts under a prefix, with
    and without a query restriction; nested depth; validation."""
    import pytest as _pytest

    from tantiny_spark.errors import UnsupportedField
    from tantiny_spark.index import Index
    from tantiny_spark.schema import IndexSchema

    s = IndexSchema()
    s.text("t")
    s.facet("cat")
    ix = Index(spark, str(tmp_path / "fc"), s)
    with ix.transaction():
        ix.add({"id": 1, "t": "spark merge", "cat": "/en/news"})
        ix.add({"id": 2, "t": "spark join", "cat": "/en/blog"})
        ix.add({"id": 3, "t": "other text", "cat": "/en/news"})
        ix.add({"id": 4, "t": "spark scan", "cat": "/de/news"})
    ix.reload()

    top = [(r["path"], r["cnt"]) for r in ix.facet_counts("cat", "/").collect()]
    assert top == [("/en", 3), ("/de", 1)]

    children = [
        (r["path"], r["cnt"]) for r in ix.facet_counts("cat", "/en").collect()
    ]
    assert children == [("/en/news", 2), ("/en/blog", 1)]

    # restricted to docs matching a query: doc 3 drops out
    q = ix.term_query("t", "spark")
    restricted = [
        (r["path"], r["cnt"])
        for r in ix.facet_counts("cat", "/en", query=q).collect()
    ]
    assert restricted == [("/en/blog", 1), ("/en/news", 1)]

    # limit caps the children; validation rejects non-facet fields
    assert ix.facet_counts("cat", "/", limit=1).collect()[0]["path"] == "/en"
    with _pytest.raises(UnsupportedField):
        ix.facet_counts("t", "/")


def test_phrase_slop(spark, tmp_path):
    """Ordered-gap slop extension (Tantivy's PhraseQuery slop knob):
    slop=0 is the reference's exact adjacency; slop=s lets each next term
    land within 1+s positions of the previous match."""
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "text": "alpha beta"},
            {"id": 2, "text": "alpha gap beta"},
            {"id": 3, "text": "alpha gap gap beta"},
            {"id": 4, "text": "beta alpha"},  # wrong order never matches
            {"id": 5, "text": "alpha x y z beta"},
        ],
    )
    assert ids(idx, idx.phrase_query("text", "alpha beta")) == ["1"]
    assert ids(idx, idx.phrase_query("text", "alpha beta", slop=1)) == ["1", "2"]
    assert ids(idx, idx.phrase_query("text", "alpha beta", slop=2)) == ["1", "2", "3"]
    with pytest.raises(ValueError):
        idx.phrase_query("text", "alpha beta", slop=-1)


def test_phrase_slop_three_terms(spark, tmp_path):
    idx = build(
        spark, tmp_path,
        [
            # chain a(0)->b(1)->c(3) completes within slop=1 windows
            {"id": 1, "text": "a b b c"},
            # a(0)->b(2) needs slop>=1, then c(5) needs gap 3 -> slop>=2
            {"id": 2, "text": "a x b y z c"},
        ],
    )
    assert ids(idx, idx.phrase_query("text", "a b c", slop=1)) == ["1"]
    assert ids(idx, idx.phrase_query("text", "a b c", slop=2)) == ["1", "2"]


def test_phrase_slop_reachable_set_not_greedy(spark, tmp_path):
    """A greedy-minimal chain is NOT the defined semantics: in 'a b b x c'
    with slop=1 the valid chain is a(0)->b(2)->c(4); greedy would pick
    b(1) and strand c (c not in (1, 3]). The executor must track the full
    reachable-position set per start (ADVICE r03)."""
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "text": "a b b x c"},     # exists-chain only via b@2
            {"id": 2, "text": "a b x x c"},     # no chain at slop=1
            # 4-term chain where every step must take the LATER candidate:
            # a(0)->b(2)->c(4)->d(6), greedy strands at b(1)
            {"id": 3, "text": "a b b x c x d"},
            # multiple starts: both a@0 (via b@2) and a@1 (via b@2) chain
            {"id": 4, "text": "a a b c"},
        ],
    )
    assert ids(idx, idx.phrase_query("text", "a b c", slop=1)) == ["1", "3", "4"]
    assert ids(idx, idx.phrase_query("text", "a b c d", slop=1)) == ["3"]
    # slop=0 unaffected: exact adjacency only
    assert ids(idx, idx.phrase_query("text", "a b c", slop=0)) == ["4"]
    # phrase_tf counts valid STARTS: doc 4 has two chaining starts
    scores = dict(idx.search_with_scores(idx.phrase_query("text", "a b c", slop=1)))
    assert scores["4"] > scores["1"]


def test_phrase_slop_zero_equals_default(spark, tmp_path):
    idx = build(
        spark, tmp_path,
        [{"id": 1, "text": "one two three"}, {"id": 2, "text": "one x two"}],
    )
    q0 = idx.phrase_query("text", "one two", slop=0)
    qd = idx.phrase_query("text", "one two")
    assert idx.search_with_scores(q0) == idx.search_with_scores(qd)


def test_phrase_prefix(spark, tmp_path):
    """Search-as-you-type (Tantivy PhrasePrefixQuery): fixed terms adjacent,
    last token expanded as a dictionary prefix; constant score 1.0."""
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "text": "big data engine"},
            {"id": 2, "text": "big database rows"},
            {"id": 3, "text": "big apple data"},     # not adjacent
            {"id": 4, "text": "data big nothing"},   # wrong order
        ],
    )
    q = idx.phrase_prefix_query("text", "big dat")
    assert ids(idx, q) == ["1", "2"]
    # scores are constant 1.0
    assert all(s == 1.0 for _, s in idx.search_with_scores(q))
    # single token reduces to plain prefix
    q1 = idx.phrase_prefix_query("text", "dat")
    assert ids(idx, q1) == ["1", "2", "3", "4"]
    # unmatched prefix -> empty
    assert ids(idx, idx.phrase_prefix_query("text", "big zz")) == []
    # expansion cap: with max_expansions=1 only the alphabetically-first
    # expansion ("data") survives, dropping the "database" match
    qcap = idx.phrase_prefix_query("text", "big dat", max_expansions=1)
    assert ids(idx, qcap) == ["1"]
    with pytest.raises(UnsupportedField):
        idx.phrase_prefix_query("string", "big dat")


def test_search_offset_pagination(spark, tmp_path):
    """Tantivy pagination (TopDocs::with_limit(n).and_offset(m)): every
    page is exactly the corresponding slice of the full ranking, for a
    pure term query and a boolean, and past-the-end pages are empty."""
    docs = [
        {"id": i, "text": "common " + "pad " * (i % 5), "integer": i * 3}
        for i in range(1, 21)
    ]
    idx = build(spark, tmp_path, docs)
    q = idx.term_query("text", "common")
    full = idx.search_with_scores(q, limit=20)
    assert len(full) == 20
    for off, lim in ((0, 5), (5, 5), (18, 5), (25, 5)):
        assert idx.search_with_scores(q, limit=lim, offset=off) == \
            full[off:off + lim]
    # a conjunction pages identically
    qb = idx.term_query("text", "common") & idx.term_query("text", "pad")
    fullb = idx.search_with_scores(qb, limit=20)
    assert idx.search_with_scores(qb, limit=4, offset=3) == fullb[3:7]
    # order-by-field pagination
    byf = idx.search_by_field(q, "integer", limit=20).collect()
    assert len(byf) == 20
    page = idx.search_by_field(q, "integer", limit=3, offset=2).collect()
    assert page == byf[2:5]
    with pytest.raises(ValueError):
        idx.search_df(q, limit=5, offset=-1)


def test_fuzzy_prefix(spark, tmp_path):
    """Tantivy FuzzyTermQuery::new_prefix: a dictionary term matches when
    ANY of its prefixes is within distance of the query (typo-tolerant
    search-as-you-type); the whole-term variant stays unchanged."""
    idx = build(
        spark, tmp_path,
        [
            {"id": 1, "text": "streaming data"},
            {"id": 2, "text": "stream processing"},
            {"id": 3, "text": "strut pattern"},
            {"id": 4, "text": "other stuff"},
        ],
    )
    # whole-term: 'strem'~1 reaches 'stream' (1 insert) but not
    # 'streaming' (distance 4)
    assert ids(idx, idx.fuzzy_term_query("text", "strem", 1)) == ["2"]
    # prefix: 'streaming' carries prefix 'strea' at distance 1; 'strut'
    # never gets closer than 2 ('stru' = sub + delete)
    qp = idx.fuzzy_term_query("text", "strem", 1, prefix=True)
    assert ids(idx, qp) == ["1", "2"]
    assert all(s == 1.0 for _, s in idx.search_with_scores(qp))
    # distance 0 prefix degenerates to a plain prefix query
    q0 = idx.fuzzy_term_query("text", "stre", 0, prefix=True)
    assert ids(idx, q0) == ["1", "2"]


def test_search_after_cursor_pagination(spark, tmp_path):
    """ES-style search_after: walking the ranking page by page via the
    previous page's last (score, id) cursor reproduces the full ranking
    exactly; the cursor path costs no offset-deep work."""
    docs = [
        {"id": i, "text": "common " + "pad " * (i % 5)} for i in range(1, 21)
    ]
    idx = build(spark, tmp_path, docs)
    q = idx.term_query("text", "common")
    full = idx.search_with_scores(q, limit=20)
    got, cursor = [], None
    while True:
        page = idx.search_with_scores(q, limit=6, search_after=cursor)
        if not page:
            break
        got.extend(page)
        cursor = page[-1]
    assert got == full
    with pytest.raises(ValueError):  # cursor and offset are exclusive
        idx.search_df(q, limit=5, offset=3, search_after=(1.0, "5"))
    with pytest.raises(ValueError):  # malformed cursor
        idx.search_df(q, search_after="bogus")
