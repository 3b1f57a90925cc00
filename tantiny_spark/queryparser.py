"""Lucene/Tantivy-style query-string parser → plan algebra.

The reference engine family exposes a user-facing query language through
Tantivy's ``QueryParser`` (tantivy src/query_grammar + src/query/query_parser,
public); the reference Ruby wrapper only surfaces ``smart_query``, so this
module is a beyond-reference feature in the same family. Grammar::

    query    := clause+
    clause   := occur? atom boost?
    occur    := '+' | '-'                  (and the AND / OR / NOT connectors)
    atom     := '(' query ')'
              | FIELD ':' atom             (field override for the atom)
              | '"' words '"' ('~' INT)?   (phrase, optional slop)
              | '[' lit TO lit ']'         (inclusive range; needs FIELD ':')
              | WORD '*'                   (prefix)
              | WORD '~' INT?              (fuzzy, default distance 1)
              | '*'                        (match-all; FIELD ':' '*' = exists)
              | WORD with '*' / '?' inside (Lucene wildcard, e.g. fo*ba?r)
              | WORD
    boost    := '^' NUMBER

Semantics (Lucene classic parser / Tantivy UserInputAst):

- bare clauses are SHOULD; ``+`` promotes to MUST, ``-`` and ``NOT`` to
  MUST_NOT; an explicit ``AND`` promotes BOTH neighbouring clauses to MUST;
  ``OR`` keeps SHOULD. The clause list compiles through
  :func:`tantiny_spark.plan.boolean_query`, so a should clause next to
  musts is optional-scoring, exactly Lucene's BooleanQuery.
- WORDs and phrases are analyzed with each target field's own tokenizer
  (a word that analyzes to several terms becomes an adjacent phrase, like
  Tantivy's parser); string fields match raw values.
- without a ``field:`` override an atom targets every ``default_fields``
  entry, OR-composed across fields (the engine's multi-field fan-out).
- ranges parse ints, floats, or ISO dates (YYYY-MM-DD[THH:MM:SS]) and use
  the engine's inclusive range semantics.

Everything compiles onto the existing plan nodes — the parser adds zero
execution machinery, so every query it emits inherits the compiled plans'
scale story (one postings scan per field for term disjunctions, pushed-down
postings scans, left-join optional scoring).
"""

from __future__ import annotations

import re
from datetime import datetime

from tantiny_spark import plan as P
from tantiny_spark.errors import (
    QueryParseError,
    UnsupportedField,
    UnsupportedRange,
)
from tantiny_spark.schema import IndexSchema

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<lparen>\()
    | (?P<rparen>\))
    | (?P<plus>\+)
    | (?P<minus>-)
    | (?P<boost>\^(?P<bval>\d+(?:\.\d+)?))
    | (?P<field>[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z0-9_]+)*):
    | (?P<phrase>"(?P<ptext>[^"]*)"(?:~(?P<pslop>\d+))?)
    | (?P<range>\[(?P<rlo>[^\s\]]+)\s+TO\s+(?P<rhi>[^\s\]]+)\])
    | (?P<word>[^\s()^:"\[\]~]+)(?:~(?P<fuzzy>\d*))?
    """,
    re.X,
)


def _tokens(s: str) -> list:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if m is None:
            raise QueryParseError(f"cannot parse query at {s[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup if m.lastgroup in ("ws", "fuzzy", "pslop", "bval",
                                              "ptext", "rlo", "rhi") else None
        for k in ("lparen", "rparen", "plus", "minus", "boost", "field",
                  "phrase", "range", "word"):
            if m.group(k) is not None:
                kind = k
                break
        if kind == "ws" or kind is None:
            continue
        out.append((kind, m))
    return out


def _parse_literal(text: str):
    if re.fullmatch(r"-?\d+", text):
        return int(text)
    if re.fullmatch(r"-?\d+\.\d*", text):
        return float(text)
    for fmt in ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(text, fmt)
        except ValueError:
            pass
    raise QueryParseError(f"range literal {text!r} is not an int, float, or "
                          "ISO date")


class _Parser:
    def __init__(self, schema: IndexSchema, default_fields: list,
                 tokens: list):
        self.schema = schema
        self.defaults = list(default_fields)
        self.toks = tokens
        self.i = 0

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def _next(self):
        tok = self._peek()
        self.i += 1
        return tok

    # --- clause-list level -------------------------------------------------
    def parse_group(self, *, top: bool) -> P.Query:
        """Parse clauses until ')' (or end at top level) and fold them into
        a boolean_query by occur."""
        clauses: list = []  # [occur, query]
        promote_next = False
        while True:
            kind, m = self._peek()
            if kind is None:
                if not top:
                    raise QueryParseError("unbalanced '(' — missing ')'")
                break
            if kind == "rparen":
                if top:
                    raise QueryParseError("unbalanced ')'")
                self._next()
                break
            if kind == "word" and m.group("word") in ("AND", "OR", "NOT") \
                    and m.group("fuzzy") is None:
                conn = m.group("word")
                self._next()
                if conn == "AND":
                    # AND promotes BOTH neighbours (unless explicitly signed)
                    if clauses and clauses[-1][0] == "should":
                        clauses[-1][0] = "must"
                    promote_next = True
                elif conn == "NOT":
                    parsed = self._parse_clause()
                    if parsed is not None:
                        clauses.append(["must_not", parsed.query])
                    # the NOT clause CONSUMES a pending AND-promotion (it
                    # is already prohibited); without this, 'a AND NOT b c'
                    # leaks the promotion onto the unrelated clause c,
                    # wrongly making it a MUST (Lucene keeps c optional)
                    promote_next = False
                # OR: the default occur already is should
                continue
            parsed = self._parse_clause()
            promote = promote_next
            promote_next = False
            if parsed is not None:
                occur = parsed.occur  # explicit '+'/'-' wins
                if occur is None:
                    occur = "must" if promote else "should"
                clauses.append([occur, parsed.query])
        occurs = {"must": [], "should": [], "must_not": []}
        for occur, q in clauses:
            occurs[occur].append(q)
        if not any(occurs.values()):
            return P.Empty()
        return P.boolean_query(
            occurs["must"], occurs["should"], occurs["must_not"]
        )

    # --- single clause -----------------------------------------------------
    def _parse_clause(self):
        """One occur-signed atom; returns _Occurred(occur-or-None, query),
        or None when the atom analyzed away to nothing."""
        kind, m = self._peek()
        occur = None
        if kind == "plus":
            occur = "must"
            self._next()
        elif kind == "minus":
            occur = "must_not"
            self._next()
        atom = self._parse_atom()
        kind, m = self._peek()
        if kind == "boost":
            self._next()
            if atom is not None:
                atom = atom.boost(float(m.group("bval")))
        if atom is None:
            return None
        return _Occurred(occur, atom)

    def _parse_atom(self):
        kind, m = self._next()
        field = None
        json_target = None  # (json field, dotted path) for attrs.color:red
        if kind == "field":
            field = m.group("field")
            if "." in field:
                # dotted syntax addresses a PATH inside a json field — the
                # Tantivy query-parser form (attrs.color:red)
                head, jpath = field.split(".", 1)
                if self.schema.fields.get(head) != "json":
                    raise QueryParseError(
                        f"unknown field {field!r} (dotted field syntax "
                        f"targets json fields; {head!r} is not one)"
                    )
                json_target, field = (head, jpath), None
            elif field not in self.schema.fields:
                raise QueryParseError(f"unknown field {field!r}")
            kind, m = self._next()
        if kind == "lparen":
            if field is not None or json_target is not None:
                raise QueryParseError("field: cannot prefix a group")
            return self.parse_group(top=False)
        if kind == "phrase":
            slop = int(m.group("pslop") or 0)
            if json_target is not None:
                q = P.json_phrase_query(
                    self.schema, json_target[0], json_target[1],
                    m.group("ptext"), slop,
                )
                return None if isinstance(q, P.Empty) else q
            return self._phrase_atom(field, m.group("ptext"), slop)
        if kind == "range":
            if json_target is not None:
                lo = _parse_literal(m.group("rlo"))
                hi = _parse_literal(m.group("rhi"))
                # numeric pairs hit the number terms, ISO-date pairs the
                # typed date terms (attrs.when:[2020-01-01 TO 2021-01-01]);
                # json_range_query rejects mixed bounds loud
                try:
                    return P.json_range_query(
                        self.schema, json_target[0], json_target[1], (lo, hi)
                    )
                except (UnsupportedField, UnsupportedRange) as e:
                    raise QueryParseError(str(e)) from e
            if field is None:
                raise QueryParseError("a range needs an explicit field: "
                                      "prefix")
            lo = _parse_literal(m.group("rlo"))
            hi = _parse_literal(m.group("rhi"))
            try:
                return P.range_query(self.schema, [field], (lo, hi))
            except UnsupportedField as e:
                raise QueryParseError(str(e)) from e
        if kind == "word":
            if json_target is not None:
                return self._json_word_atom(
                    json_target[0], json_target[1],
                    m.group("word"), m.group("fuzzy"),
                )
            return self._word_atom(field, m.group("word"), m.group("fuzzy"))
        raise QueryParseError(
            f"unexpected token {m.group(0) if m else '<end>'!r}"
        )

    def _json_word_atom(self, head, jpath, word: str, fuzzy):
        """Atom addressed at a json PATH. Like the Tantivy parser, a word
        that also reads as a number/bool matches BOTH the text and the
        typed term (OR of interpretations)."""
        if fuzzy is not None:
            raise QueryParseError("fuzzy~ is not supported on json paths")
        if word == "*":
            return P.json_exists_query(self.schema, head, jpath)
        if word.endswith("*") and "*" not in word[:-1] and "?" not in word \
                and len(word) > 1:
            toks = self.schema.tokenizer_for(head).terms(word[:-1])
            if len(toks) != 1:
                raise QueryParseError(
                    f"json prefix atom {word!r} must analyze to one token"
                )
            return P.json_prefix_query(self.schema, head, jpath, toks[0])
        if "*" in word or "?" in word:
            raise QueryParseError(
                "wildcards inside json path atoms are not supported"
            )
        parts = [P.json_term_query(self.schema, head, jpath, word)]
        if re.fullmatch(r"-?\d+", word):
            parts.append(P.json_term_query(self.schema, head, jpath, int(word)))
        elif re.fullmatch(r"-?\d+\.\d*", word):
            parts.append(P.json_term_query(self.schema, head, jpath, float(word)))
        elif word in ("true", "false"):
            parts.append(
                P.json_term_query(self.schema, head, jpath, word == "true")
            )
        parts = [p for p in parts if not isinstance(p, P.Empty)]
        if not parts:
            return None
        return P.disjunction(*parts)

    # --- leaf constructors -------------------------------------------------
    def _fields_for(self, field):
        fields = [field] if field is not None else self.defaults
        allowed = set(self.schema.text_fields) | set(self.schema.string_fields)
        bad = [f for f in fields if f not in allowed]
        if bad:
            raise QueryParseError(
                f"field {bad[0]!r} does not support text atoms"
            )
        return fields

    def _phrase_atom(self, field, text: str, slop: int):
        per_field = []
        for f in self._fields_for(field):
            if f in self.schema.string_fields:
                # string fields are ONE exact case-sensitive term
                # (build.py): the quoted text matches raw, never analyzed
                per_field.append(P.Term(f, text))
                continue
            terms = self.schema.tokenizer_for(f).terms(text)
            if not terms:
                continue
            if len(terms) == 1:
                per_field.append(P.Term(f, terms[0]))
            else:
                per_field.append(P.Phrase(f, tuple(terms), slop))
        if not per_field:
            return None
        return P.disjunction(*per_field)

    def _word_atom(self, field, word: str, fuzzy):
        if word == "*" and fuzzy is None:
            # Lucene classic: bare '*' matches every doc; 'field:*' matches
            # docs that have ANY value for the field (ExistsQuery)
            if field is None:
                return P.All()
            try:
                return P.exists_query(self.schema, field)
            except UnsupportedField as e:
                raise QueryParseError(str(e)) from e
        if ("*" in word or "?" in word) and not (
            word.endswith("*") and "*" not in word[:-1] and "?" not in word
        ):
            # internal/multiple wildcards: a Lucene WildcardQuery atom
            # (trailing-*-only words stay the cheaper Prefix query below;
            # wildcard terms are matched verbatim-lowercased, not analyzed)
            per_field = []
            for f in self._fields_for(field):
                try:
                    # text terms are lowercased by analysis, so the pattern
                    # lowercases too; string-field terms are raw/exact
                    pat = word if f in self.schema.string_fields else word.lower()
                    per_field.append(P.wildcard_query(self.schema, f, pat))
                except UnsupportedField as e:  # pragma: no cover
                    raise QueryParseError(str(e)) from e
            return P.disjunction(*per_field)
        prefix = word.endswith("*") and len(word) > 1
        if prefix:
            word = word[:-1]
        distance = None
        if fuzzy is not None:
            distance = int(fuzzy) if fuzzy else P.DEFAULT_FUZZY_DISTANCE
        per_field = []
        for f in self._fields_for(field):
            if f in self.schema.string_fields:
                # string fields are ONE exact case-sensitive term: the
                # atom matches raw (lang:EN matches stored 'EN'), prefix
                # and fuzzy apply to the raw value
                if prefix:
                    per_field.append(P.Prefix(f, word))
                elif distance is not None:
                    per_field.append(P.FuzzyTerm(f, word, distance))
                else:
                    per_field.append(P.Term(f, word))
                continue
            terms = self.schema.tokenizer_for(f).terms(word)
            if not terms:
                continue
            if prefix and len(terms) == 1:
                per_field.append(P.Prefix(f, terms[0]))
            elif prefix:
                # a prefix atom the analyzer splits ('data-base*') is a
                # search-as-you-type phrase: fixed leading terms adjacent,
                # last token expanded as a prefix — NOT a bare prefix on
                # the last token, which would match docs containing none
                # of the leading words
                per_field.append(
                    P.PhrasePrefix(f, tuple(terms[:-1]), terms[-1])
                )
            elif distance is not None:
                if len(terms) > 1:
                    # 'data-base~1' analyzes to two tokens: fuzzy applies
                    # per token, ALL required — silently fuzzing only the
                    # first token would broaden results (a fuzzy PHRASE is
                    # not supported, so adjacency is not enforced)
                    per_field.append(P.conjunction(*[
                        P.FuzzyTerm(f, t, distance) for t in terms
                    ]))
                else:
                    per_field.append(P.FuzzyTerm(f, terms[0], distance))
            elif len(terms) == 1:
                per_field.append(P.Term(f, terms[0]))
            else:
                # a word the analyzer splits becomes an adjacent phrase,
                # like Tantivy's parser
                per_field.append(P.Phrase(f, tuple(terms), 0))
        if not per_field:
            return None
        return P.disjunction(*per_field)


class _Occurred:
    """Internal carrier pairing a parsed atom with its resolved occur."""

    def __init__(self, occur: str, query: P.Query):
        self.occur = occur
        self.query = query


def parse_query(
    schema: IndexSchema, query_string: str, default_fields=None,
    boost: float = P.DEFAULT_BOOST,
) -> P.Query:
    """Parse a Lucene/Tantivy-style query string into a plan Query.

    ``default_fields`` defaults to the schema's text fields. Raises
    :class:`QueryParseError` on bad syntax or unknown fields; atoms whose
    analysis yields no terms (stopword-only, empty phrase) drop out, and a
    query with no surviving atoms is ``Empty()``.
    """
    if default_fields is None:
        default_fields = list(schema.text_fields)
    if not default_fields:
        raise QueryParseError("no default fields to search")
    parser = _Parser(schema, default_fields, _tokens(query_string))
    return parser.parse_group(top=True).boost(boost)
