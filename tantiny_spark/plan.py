"""Query algebra — the logical plan the executor compiles to DataFrames.

Mirrors the reference's 10-type query surface and composition rules
(/root/reference/lib/tantiny/query.rb; signatures in sig/tantiny/query.rbs):

- a multi-field query is the disjunction of per-field queries (query.rb:125-136)
- empty field list → empty query (query.rb:133)
- unsupported field kind → UnsupportedField (query.rb:128)
- single-operand conjunction/disjunction collapse (query.rb:19,24)
- boost(1.0) is a no-op (query.rb:160)
- prefix is sugar over an escaped anchored regex (query.rb:61-63); we keep a
  dedicated Prefix node because a sorted term dictionary answers it with a
  range scan instead of a regex scan (SURVEY.md §4).
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field as dc_field
from datetime import date, datetime
from tantiny_spark.errors import (
    UnsupportedField,
    UnsupportedRange,
    UnsupportedRegexSyntax,
)
from tantiny_spark.schema import IndexSchema

DEFAULT_BOOST = 1.0
DEFAULT_FUZZY_DISTANCE = 1


class Query:
    """Base node; operators mirror query.rb:143-163."""

    def __or__(self, other: "Query") -> "Query":
        _check(other)
        return disjunction(self, other)

    def __and__(self, other: "Query") -> "Query":
        _check(other)
        return conjunction(self, other)

    def __invert__(self) -> "Query":
        return Negation(self)

    def boost(self, factor: float) -> "Query":
        if factor == DEFAULT_BOOST:
            return self
        return Boost(self, float(factor))


def _check(other):
    if not isinstance(other, Query):
        raise TypeError(f"Not a {Query.__name__}.")


@dataclass(frozen=True)
class All(Query):
    pass


@dataclass(frozen=True)
class Empty(Query):
    pass


@dataclass(frozen=True)
class Term(Query):
    field: str
    term: str


@dataclass(frozen=True)
class FuzzyTerm(Query):
    field: str
    term: str
    distance: int = DEFAULT_FUZZY_DISTANCE
    #: Tantivy FuzzyTermQuery::new_prefix — match dictionary terms with
    #: ANY prefix within ``distance`` of ``term`` (search-as-you-type with
    #: typo tolerance), instead of the whole term.
    prefix: bool = False


@dataclass(frozen=True)
class Phrase(Query):
    field: str
    terms: tuple
    #: ordered-gap slop: term i must appear within (prev, prev + 1 + slop]
    #: positions of term i-1. 0 = exact adjacency (the reference's phrase).
    slop: int = 0


@dataclass(frozen=True)
class PhrasePrefix(Query):
    """Fixed terms matched adjacently, then ANY dictionary term with the
    given prefix at the next position (Tantivy's PhrasePrefixQuery — the
    search-as-you-type query). Constant score 1.0, like the engine's other
    expansion queries (prefix/regex/fuzzy)."""
    field: str
    terms: tuple  # the fixed (exact) leading terms, len >= 1
    prefix: str
    max_expansions: int = 50


@dataclass(frozen=True)
class TermSet(Query):
    """Docs containing ANY of a set of exact terms on one field — Tantivy's
    ``TermSetQuery`` (src/query/term_set_query.rs): constant score 1.0,
    like the engine's other expansion queries. The Spark-natural shape is a
    literal IN predicate on the (field, term)-sorted postings layout, so
    the term set prunes at the scan like a dictionary range would."""
    field: str
    terms: tuple


@dataclass(frozen=True)
class BooleanOccur(Query):
    """Lucene/Tantivy BooleanQuery with per-clause occurs
    (``[(Occur, subquery)]`` — tantivy src/query/boolean_query.rs):

    - ``must`` clauses all gate matching and all contribute score;
    - ``should`` clauses contribute score when they match, and gate
      matching ONLY when there is no must clause (then: any-of);
    - ``must_not`` clauses exclude their matches and never score.

    This is strictly more expressive than Conjunction/Disjunction/Negation
    composition: a should clause alongside musts is *optional-scoring* —
    it widens no match set but raises the score of docs that also match
    it, which the plain operators cannot express.

    ``minimum_should_match`` (Lucene ``BooleanQuery.Builder
    .setMinimumNumberShouldMatch``): when > 0, a doc must additionally
    match at least that many should clauses; ALL matching shoulds still
    contribute score (Lucene sums every matching optional clause, not
    just the first m)."""
    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()
    minimum_should_match: int = 0


@dataclass(frozen=True)
class Regex(Query):
    field: str
    pattern: str


@dataclass(frozen=True)
class RegexPhrase(Query):
    """Tantivy RegexPhraseQuery (src/query/phrase_query/regex_phrase_query
    .rs): a positional phrase where every position matches a REGEX instead
    of a fixed term, with optional slop. Each position expands through the
    dictionary (capped at ``max_expansions`` in term order, the fst-seek
    shape), its postings' position lists union per doc, and the standard
    positional intersection / reachable-set slop DP runs over the unioned
    lists. Constant score 1.0 — the engine's convention for every
    expansion query (prefix/regex/fuzzy), which Tantivy's scored variant
    generalizes."""
    field: str
    patterns: tuple
    slop: int = 0
    max_expansions: int = 1024


@dataclass(frozen=True)
class Prefix(Query):
    field: str
    prefix: str


@dataclass(frozen=True)
class Range(Query):
    field: str
    kind: str  # integer | double | date
    low: object
    high: object  # both inclusive (src/query.rs:139-163)


@dataclass(frozen=True)
class Facet(Query):
    field: str
    path: str


@dataclass(frozen=True)
class JsonRange(Query):
    """Inclusive range over ONE json path's typed terms (Tantivy's
    json-field range support). kind='number' matches both integer ('i')
    and float ('f') encoded terms whose numeric value falls in [low,
    high]; kind='date' matches date ('d') terms — epoch microseconds, the
    ingest-side RFC3339 inference's canonical value — in the same way.
    Executes as a dictionary-expansion predicate on the path's contiguous
    term slice — the Prefix machinery with a numeric parse, constant 1.0."""
    field: str
    path: str
    low: float
    high: float
    kind: str = "number"


@dataclass(frozen=True)
class Conjunction(Query):
    children: tuple


@dataclass(frozen=True)
class Disjunction(Query):
    children: tuple


@dataclass(frozen=True)
class Negation(Query):
    child: Query


@dataclass(frozen=True)
class Boost(Query):
    child: Query
    factor: float


@dataclass(frozen=True)
class DisjunctionMax(Query):
    """Lucene/Tantivy DisjunctionMaxQuery (tantivy
    src/query/disjunction_max_query.rs): a doc matching any child scores
    ``max(child scores) + tie_breaker * (sum of the other child scores)``.
    The classic cross-field query — unlike Disjunction's sum, a doc hitting
    the same word in several fields is NOT rewarded multiplicatively."""
    children: tuple
    tie_breaker: float = 0.0


@dataclass(frozen=True)
class ConstScore(Query):
    """Tantivy ConstScoreQuery (src/query/const_score_query.rs): the child
    gates matching, the score is a constant — a filter clause that still
    participates in score-summing composition."""
    child: Query
    score: float = 1.0


@dataclass(frozen=True)
class Exists(Query):
    """Tantivy ExistsQuery (src/query/exists_query.rs): docs that have ANY
    value for the field, constant score 1.0. ``via_postings`` is resolved
    at build time from the schema: text/string/facet fields prove existence
    by having at least one posting; value fields (integer/double/date) by a
    non-null stored column (an IS NOT NULL scan-pushed filter)."""
    field: str
    via_postings: bool


def conjunction(*queries: Query) -> Query:
    if len(queries) == 1:
        return queries[0]
    return Conjunction(tuple(queries))


def disjunction(*queries: Query) -> Query:
    if len(queries) == 1:
        return queries[0]
    return Disjunction(tuple(queries))


# --- builders (the public query constructors, query.rb:27-119) -------------

def _listify(fields) -> list:
    if fields is None:
        return []
    if isinstance(fields, (list, tuple)):
        return list(fields)
    return [fields]


def _construct(schema: IndexSchema, allowed: list, fields, make, boost: float) -> Query:
    names = _listify(fields)
    queries = []
    for f in names:
        if f not in allowed:
            raise UnsupportedField(f)
        queries.append(make(f))
    if not names:
        return Empty()
    return disjunction(*queries).boost(boost)


def _text_and_strings(schema: IndexSchema) -> list:
    return list(schema.text_fields) + [
        f for f in schema.string_fields if f not in schema.text_fields
    ]


def all_query() -> Query:
    return All()


def empty_query() -> Query:
    return Empty()


def term_query(schema: IndexSchema, fields, term, boost: float = DEFAULT_BOOST) -> Query:
    return _construct(
        schema, _text_and_strings(schema), fields,
        lambda f: Term(f, str(term)), boost,
    )


def fuzzy_term_query(
    schema: IndexSchema, fields, term,
    distance: int = DEFAULT_FUZZY_DISTANCE, boost: float = DEFAULT_BOOST,
    prefix: bool = False,
) -> Query:
    return _construct(
        schema, _text_and_strings(schema), fields,
        lambda f: FuzzyTerm(f, str(term), int(distance), bool(prefix)), boost,
    )


def phrase_query(
    schema: IndexSchema, fields, phrase: str, boost: float = DEFAULT_BOOST,
    slop: int = 0,
) -> Query:
    """Tokenizes the phrase with each field's own tokenizer (query.rb:46-54);
    text fields only. ``slop`` extends the reference's exact-adjacency
    phrase (Tantivy's PhraseQuery slop knob) with ORDERED-GAP semantics:
    each successive term must appear within ``1 + slop`` positions after
    SOME reachable previous match (existential chain completion — the
    executor tracks the full reachable-position set per start, since a
    greedy-minimal chain can strand a later term when the window is
    bounded on both sides); slop=0 is exactly the reference behavior."""
    if slop < 0:
        raise ValueError("slop must be >= 0")
    names = _listify(fields)
    queries = []
    for f in names:
        terms = schema.tokenizer_for(f).terms(phrase)
        if f not in schema.text_fields:
            raise UnsupportedField(f)
        queries.append(Phrase(f, tuple(terms), int(slop)))
    if not queries:
        return Empty()
    return disjunction(*queries).boost(boost)


def phrase_prefix_query(
    schema: IndexSchema, fields, phrase: str, boost: float = DEFAULT_BOOST,
    max_expansions: int = 50,
) -> Query:
    """Search-as-you-type phrase: every token but the last matches exactly
    and adjacently; the last token is a dictionary PREFIX expanded to at
    most ``max_expansions`` terms in term order (Tantivy PhrasePrefixQuery
    semantics; expansion-capped like Lucene). A single-token input reduces
    to the plain prefix query. Text fields only; constant score 1.0."""
    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    names = _listify(fields)
    queries = []
    for f in names:
        if f not in schema.text_fields:
            raise UnsupportedField(f)
        terms = schema.tokenizer_for(f).terms(phrase)
        if not terms:
            continue
        if len(terms) == 1:
            queries.append(Prefix(f, terms[0]))
        else:
            queries.append(
                PhrasePrefix(f, tuple(terms[:-1]), terms[-1], int(max_expansions))
            )
    if not queries:
        return Empty()
    return disjunction(*queries).boost(boost)


# Java-only regex constructs that Rust's regex crate rejects (reference
# engine: src/query.rs:101-117). The executor evaluates patterns with Java's
# rlike, so accepting these would silently diverge from the reference, which
# ERRORS on them — raise the same way instead. Everything else (literals,
# classes, alternation, repetition, anchors, \d \w \s, (?i) flags, \p{..})
# means the same thing in both dialects.
_JAVA_ONLY_REGEX = re.compile(
    r"""
    \\[1-9]              # backreference \1..\9
    | \(\?=  | \(\?!    # lookahead
    | \(\?<= | \(\?<!   # lookbehind
    | \(\?>               # atomic group
    | [*+?]\+              # possessive quantifiers *+ ++ ?+
    | \\k<                # named backreference
    """,
    re.VERBOSE,
)

# POSIX classes (Rust's regex crate accepts them inside brackets; Java
# spells them \p{..}) and Unicode script names (Rust: \p{Greek}, Java:
# \p{IsGreek}). General categories (L, Lu, Nd, ...) are spelt the same.
_POSIX_TO_JAVA = {
    "alpha": r"\p{Alpha}", "digit": r"\p{Digit}", "alnum": r"\p{Alnum}",
    "upper": r"\p{Upper}", "lower": r"\p{Lower}", "space": r"\p{Space}",
    "punct": r"\p{Punct}", "xdigit": r"\p{XDigit}", "cntrl": r"\p{Cntrl}",
    "graph": r"\p{Graph}", "print": r"\p{Print}", "blank": r"\p{Blank}",
    "word": r"\w", "ascii": r"\p{ASCII}",
}
_GENERAL_CATEGORIES = {
    "L", "Lu", "Ll", "Lt", "Lm", "Lo", "M", "Mn", "Mc", "Me",
    "N", "Nd", "Nl", "No", "P", "Pc", "Pd", "Ps", "Pe", "Pi", "Pf", "Po",
    "S", "Sm", "Sc", "Sk", "So", "Z", "Zs", "Zl", "Zp",
    "C", "Cc", "Cf", "Co", "Cn",
}


def translate_rust_regex(pattern: str) -> str:
    r"""Rewrite a Rust-regex-dialect pattern (reference: src/query.rs:101-117,
    the regex crate) so Java's Pattern (Spark ``rlike``) evaluates it with
    identical semantics.

    - ``(?P<name>`` -> ``(?<name>`` (named groups)
    - ``[[:alpha:]]`` et al -> ``\p{Alpha}`` (POSIX classes)
    - ``\p{Greek}`` script names -> ``\p{IsGreek}`` (general categories
      are shared syntax and pass through)
    - ``&&`` inside a character class is literal in Rust but set
      intersection in Java -> escape it
    Java-only constructs the reference would reject raise
    UnsupportedRegexSyntax before this point.
    """
    out = []
    i, n = 0, len(pattern)
    in_class = False
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            if nxt in "pP" and pattern[i + 2: i + 3] == "{":
                end = pattern.find("}", i + 3)
                if end != -1:
                    name = pattern[i + 3: end]
                    if name not in _GENERAL_CATEGORIES and name.isalpha() and len(name) > 2 and not name.startswith("Is"):
                        out.append("\\" + nxt + "{Is" + name + "}")
                    else:
                        out.append(pattern[i: end + 1])
                    i = end + 1
                    continue
            out.append(pattern[i: i + 2])
            i += 2
            continue
        if not in_class:
            if pattern.startswith("(?P<", i):
                out.append("(?<")
                i += 4
                continue
            if ch == "[":
                in_class = True
                out.append(ch)
                i += 1
                continue
            out.append(ch)
            i += 1
            continue
        # inside a character class
        if pattern.startswith("[:", i):
            end = pattern.find(":]", i + 2)
            if end != -1:
                name = pattern[i + 2: end].lstrip("^")
                neg = pattern[i + 2: end].startswith("^")
                repl = _POSIX_TO_JAVA.get(name)
                if repl is not None:
                    if neg:
                        repl = repl.replace("{", "{In", 1) if False else repl
                        # Java spells negated POSIX as \P{..}
                        repl = "\\P" + repl[2:] if repl.startswith("\\p") else repl
                    out.append(repl)
                    i = end + 2
                    continue
        if ch == "&" and pattern.startswith("&&", i):
            out.append("\\&\\&")
            i += 2
            continue
        if ch == "]":
            in_class = False
        out.append(ch)
        i += 1
        continue
    return "".join(out)


def regex_query(schema: IndexSchema, fields, pattern: str, boost: float = DEFAULT_BOOST) -> Query:
    pattern = str(pattern)
    if _JAVA_ONLY_REGEX.search(pattern):
        raise UnsupportedRegexSyntax(pattern)
    pattern = translate_rust_regex(pattern)
    return _construct(
        schema, _text_and_strings(schema), fields,
        lambda f: Regex(f, pattern), boost,
    )


def regex_phrase_query(
    schema: IndexSchema, fields, patterns, slop: int = 0,
    max_expansions: int = 1024, boost: float = DEFAULT_BOOST,
) -> Query:
    """Tantivy RegexPhraseQuery constructor: ``patterns`` is one regex per
    phrase position (Rust dialect, translated like regex_query); a doc
    matches when some position sequence satisfies every pattern in order
    (adjacent, or within ``slop`` like phrase_query)."""
    pats = [str(p) for p in _listify(patterns)]
    if not pats:
        return Empty()
    if int(slop) < 0:
        raise ValueError("slop must be >= 0")
    if int(max_expansions) < 1:
        raise ValueError("max_expansions must be >= 1")
    checked = []
    for p in pats:
        if _JAVA_ONLY_REGEX.search(p):
            raise UnsupportedRegexSyntax(p)
        checked.append(translate_rust_regex(p))
    return _construct(
        schema, _text_and_strings(schema), fields,
        lambda f: RegexPhrase(
            f, tuple(checked), int(slop), int(max_expansions)
        ),
        boost,
    )


def wildcard_query(
    schema: IndexSchema, fields, pattern: str, boost: float = DEFAULT_BOOST
) -> Query:
    """Lucene WildcardQuery: ``*`` = any run of characters, ``?`` = exactly
    one; everything else is literal. Compiles onto the Regex node (anchored
    dictionary-expansion scan) — zero new execution machinery, and a
    pattern with no leading wildcard keeps the dictionary range prune the
    regex path gets from the literal prefix."""
    pattern = str(pattern)
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return _construct(
        schema, _text_and_strings(schema), fields,
        lambda f: Regex(f, "".join(out)), boost,
    )


def prefix_query(schema: IndexSchema, fields, prefix: str, boost: float = DEFAULT_BOOST) -> Query:
    """Reference rewrites prefix → regex (query.rb:61-63). We go the other
    way where possible: if the 'prefix' is regex-free it becomes a dictionary
    range scan; otherwise it must still behave as the escaped regex — which
    matches the literal string, so the Prefix node over the literal is always
    correct."""
    return _construct(
        schema, _text_and_strings(schema), fields,
        lambda f: Prefix(f, str(prefix)), boost,
    )


def range_query(schema: IndexSchema, fields, rng, boost: float = DEFAULT_BOOST) -> Query:
    """Reproduces the Ruby quirk (query.rb:65-85): an int range is collapsed
    with min/max (so ``range(1, 10)`` means [1, 9]) while float/date ranges
    use first/last and are always treated inclusive."""
    if isinstance(rng, range):
        if len(rng) == 0:
            raise UnsupportedRange("empty range")
        low, high, kind = min(rng), max(rng), "integer"
    else:
        first, last = rng[0], rng[-1]
        if isinstance(first, bool) or isinstance(last, bool):
            raise UnsupportedRange(type(first).__name__)
        if isinstance(first, int) and isinstance(last, int):
            low, high, kind = min(first, last), max(first, last), "integer"
        elif isinstance(first, float) or isinstance(last, float):
            low, high, kind = float(first), float(last), "double"
        elif isinstance(first, (date, datetime)):
            low, high, kind = _to_ts(first), _to_ts(last), "date"
        else:
            raise UnsupportedRange(type(first).__name__)
    allowed = {
        "integer": schema.integer_fields,
        "double": schema.double_fields,
        "date": schema.date_fields,
    }[kind]
    return _construct(schema, allowed, fields, lambda f: Range(f, kind, low, high), boost)


def _to_ts(value) -> datetime:
    if isinstance(value, datetime):
        return value
    return datetime(value.year, value.month, value.day)


def facet_query(schema: IndexSchema, field, path: str, boost: float = DEFAULT_BOOST) -> Query:
    return _construct(
        schema, schema.facet_fields, field, lambda f: Facet(f, str(path)), boost
    )


def term_set_query(
    schema: IndexSchema, fields, terms, boost: float = DEFAULT_BOOST
) -> Query:
    """Tantivy ``TermSetQuery``: docs containing ANY of ``terms`` (exact,
    already-analyzed — like term_query) on any of ``fields``; constant
    score 1.0 per matched field."""
    tset = tuple(sorted({str(t) for t in _listify(terms)}))
    if not tset:
        return Empty()
    return _construct(
        schema, _text_and_strings(schema), fields,
        lambda f: TermSet(f, tset), boost,
    )


def boolean_query(
    must=None, should=None, must_not=None,
    minimum_should_match: int | None = None, boost: float = DEFAULT_BOOST,
) -> Query:
    """Lucene/Tantivy BooleanQuery constructor. Degenerate occur mixes
    simplify to the plain algebra (keeping e.g. the pure-term-disjunction
    one-scan plan): only-must → conjunction, only-should → disjunction,
    only-must_not → negation of their disjunction.

    ``minimum_should_match`` follows Lucene's defaults when None: 0 with
    must clauses present (shoulds are purely optional-scoring), 1 without
    (any-of gating). Asking for more matches than there are should
    clauses can never match (Lucene BooleanWeight) → Empty."""
    must = tuple(_listify(must))
    should = tuple(_listify(should))
    must_not = tuple(_listify(must_not))
    for q in (*must, *should, *must_not):
        _check(q)
    if minimum_should_match is None:
        msm = 0 if must else (1 if should else 0)
    else:
        msm = int(minimum_should_match)
        if msm < 0:
            raise ValueError(f"minimum_should_match must be >= 0, got {msm}")
        if msm > 0 and not should:
            raise ValueError(
                "minimum_should_match requires should clauses"
            )
        if not must and should and msm == 0:
            msm = 1  # Lucene: pure-should queries always gate on >= 1
    if msm > len(should):
        return Empty()
    if not (must or should or must_not):
        return Empty()
    if must and not should and not must_not:
        return conjunction(*must).boost(boost)
    if should and not must and not must_not and msm <= 1:
        return disjunction(*should).boost(boost)
    if must_not and not must and not should:
        return Negation(disjunction(*must_not)).boost(boost)
    return BooleanOccur(must, should, must_not, msm).boost(boost)


def dis_max_query(queries, tie_breaker: float = 0.0,
                  boost: float = DEFAULT_BOOST) -> Query:
    """Tantivy DisjunctionMaxQuery constructor. ``tie_breaker`` must lie in
    [0, 1]; 1.0 degenerates to the plain score-summing Disjunction (kept as
    that node so a pure-term dis_max(tie=1) still compiles to the one-scan term OR)."""
    children = tuple(_listify(queries))
    for q in children:
        _check(q)
    tie = float(tie_breaker)
    if not 0.0 <= tie <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie}")
    if not children:
        return Empty()
    if len(children) == 1:
        return children[0].boost(boost)
    if tie == 1.0:
        return disjunction(*children).boost(boost)
    return DisjunctionMax(children, tie).boost(boost)


def const_score_query(query: Query, score: float = 1.0) -> Query:
    """Tantivy ConstScoreQuery constructor: ``query`` gates, score is
    constant."""
    _check(query)
    return ConstScore(query, float(score))


def exists_query(schema: IndexSchema, field, boost: float = DEFAULT_BOOST) -> Query:
    """Tantivy ExistsQuery constructor: docs with any value on ``field``.
    The storage route (postings presence vs stored-column IS NOT NULL) is
    resolved here from the schema so the executor stays schema-free."""
    indexed = set(schema.text_fields) | set(schema.string_fields) | set(
        schema.facet_fields
    ) | set(schema.json_fields)
    allowed = list(indexed) + list(schema.integer_fields) + list(
        schema.double_fields
    ) + list(schema.date_fields)
    return _construct(
        schema, allowed, field,
        lambda f: Exists(f, via_postings=f in indexed), boost,
    )


def _require_json(schema: IndexSchema, field: str) -> None:
    if schema.kind_of(field) != "json":
        raise UnsupportedField(
            f"field {field!r} is not a json field (json_* queries require "
            "a schema.json(...) field)"
        )


def json_term_query(
    schema: IndexSchema, field: str, path: str, value,
    boost: float = DEFAULT_BOOST,
) -> Query:
    """Query one path of a json field (Tantivy json-field term queries —
    the parser's ``attrs.color:red`` form). Compiles onto the EXISTING plan
    algebra via the encoded-term scheme (analysis/jsonpath.py):

    - a str value tokenizes with the field's tokenizer — one token becomes
      a plain :class:`Term`, several become an exact :class:`Phrase` (the
      Tantivy query-parser behavior for json text), zero become Empty;
    - int / float / bool values become single typed terms.

    Scoring is therefore the engine's own BM25 for text leaves (tf over the
    leaf, per-(doc,field) json fieldnorm) and tf=1 BM25 for typed terms —
    no new executor machinery."""
    from tantiny_spark.analysis.jsonpath import (
        MARK_STR, encode_json_term, encode_typed,
    )

    _require_json(schema, field)
    if isinstance(value, str):
        tokens = schema.tokenizer_for(field).terms(value)
        if not tokens:
            return Empty()
        encoded = [encode_json_term(path, MARK_STR, t) for t in tokens]
        if len(encoded) == 1:
            return Term(field, encoded[0]).boost(boost)
        return Phrase(field, tuple(encoded), slop=0).boost(boost)
    marker, text = encode_typed(value)
    return Term(field, encode_json_term(path, marker, text)).boost(boost)


def json_phrase_query(
    schema: IndexSchema, field: str, path: str, phrase: str, slop: int = 0,
    boost: float = DEFAULT_BOOST,
) -> Query:
    """Positional phrase within ONE json path's token stream (positions are
    recorded per path at build time, continuing across repeated values of
    a multi-valued path with a 1-gap so phrases cannot straddle values)."""
    from tantiny_spark.analysis.jsonpath import MARK_STR, encode_json_term

    _require_json(schema, field)
    tokens = schema.tokenizer_for(field).terms(phrase)
    if not tokens:
        return Empty()
    encoded = tuple(encode_json_term(path, MARK_STR, t) for t in tokens)
    if len(encoded) == 1:
        return Term(field, encoded[0]).boost(boost)
    return Phrase(field, encoded, slop=int(slop)).boost(boost)


def json_prefix_query(
    schema: IndexSchema, field: str, path: str, prefix: str,
    boost: float = DEFAULT_BOOST,
) -> Query:
    """Prefix match on the text tokens of one json path — rides the same
    dictionary range scan as a text-field Prefix because the encoded terms
    of a path are contiguous in the sorted (field, term) dictionary."""
    from tantiny_spark.analysis.jsonpath import MARK_STR, encode_json_term

    _require_json(schema, field)
    return Prefix(field, encode_json_term(path, MARK_STR, str(prefix))).boost(boost)


def json_range_query(
    schema: IndexSchema, field: str, path: str, rng,
    boost: float = DEFAULT_BOOST,
) -> Query:
    """Inclusive range on a json path — ``(low, high)`` tuple or a
    2-list, both ends inclusive like the engine's Range (src/query.rs:
    139-163). Numeric bounds match integer AND float leaves (one numeric
    domain, the way JSON numbers behave); datetime/date bounds match the
    typed date terms the ingest-side RFC3339 inference produced (Tantivy
    json date support, reference date parse src/index.rs:173-174). Mixed
    bound types are rejected loud."""
    import datetime as _dt

    _require_json(schema, field)
    low, high = rng
    lo_dt = isinstance(low, (_dt.datetime, _dt.date))
    hi_dt = isinstance(high, (_dt.datetime, _dt.date))
    if lo_dt != hi_dt:
        raise UnsupportedRange(
            f"json range bounds must both be numbers or both be dates, "
            f"got ({low!r}, {high!r})"
        )
    if lo_dt:
        from tantiny_spark.analysis.jsonpath import datetime_micros

        return JsonRange(
            field, path, float(datetime_micros(low)),
            float(datetime_micros(high)), kind="date",
        ).boost(boost)
    if not isinstance(low, (int, float)) or isinstance(low, bool) or \
            not isinstance(high, (int, float)) or isinstance(high, bool):
        raise UnsupportedRange(
            f"json range bounds must be numbers, got ({low!r}, {high!r})"
        )
    return JsonRange(field, path, float(low), float(high)).boost(boost)


def json_exists_query(
    schema: IndexSchema, field: str, path: str, boost: float = DEFAULT_BOOST,
) -> Query:
    """Docs with ANY value at ``path`` (Tantivy ExistsQuery on a json
    path): a dictionary-prefix scan on ``path + SEP`` — every typed term of
    the path shares that prefix, nothing else can (keys cannot contain the
    separator)."""
    from tantiny_spark.analysis.jsonpath import JSON_SEP

    _require_json(schema, field)
    return Prefix(field, f"{path}{JSON_SEP}").boost(boost)


def smart_query(  # noqa: C901
    schema: IndexSchema, fields, query_string: str,
    fuzzy_distance: int | None = None, boost: float = DEFAULT_BOOST,
) -> Query:
    """Per field: tokenize with the field's tokenizer, AND all terms, with the
    last term also matching as a prefix; OR across fields (query.rb:92-119)."""
    field_queries = []
    for f in _listify(fields):
        terms = schema.tokenizer_for(f).terms(query_string)
        if not terms:
            continue
        term_queries = [
            Term(f, t) if fuzzy_distance is None else FuzzyTerm(f, t, fuzzy_distance)
            for t in terms
        ]
        # field validation as in term/fuzzy construction
        if f not in _text_and_strings(schema):
            raise UnsupportedField(f)
        last = disjunction(Prefix(f, terms[-1]), term_queries[-1])
        field_queries.append(conjunction(last, *term_queries[:-1]))
    if not field_queries:
        return Empty()
    return disjunction(*field_queries).boost(boost)
