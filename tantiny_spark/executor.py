"""Query execution: compile a plan tree to ONE SQL text, run as
DataFrame[doc_id, score].

The read-path equivalent of the reference's __search
(/root/reference/src/index.rs:244-274): Query → Weight (global stats) →
scorer over postings → top-k. Here the "weight" is the manifest's BM25
totals plus driver-side lookups of the (tiny) dictionary rows the query
needs, baked into the text as literals; the "scorer" is a JVM-side BM25
expression over a term-pruned postings scan, and top-k compiles to
TakeOrderedAndProject.

compile_plan is pure Python: every plan node has one builder that returns
a SQL query text over the snapshot's tables, named ``{postings}`` and
``{docs}``, and the whole tree runs as ONE
``spark.sql(text, postings=..., docs=...)`` call, which
binds each named table as a temporary view for the one call and drops it
after. Building the plan costs a handful of py4j calls whatever its size,
where one PySpark Column per expression cost one round trip each, and
Catalyst analyzes the plan once instead of once per DataFrame
transformation. Every literal is exact: a string reads back through
_sql_str, a double through _sql_double, and the text rebuilds each score
expression operand for operand, so the doubles are the ones a Column
build would compute. The only frame the text cannot name is an expansion
that overflows its cap: its dictionary slice (the head's predicate, which
for fuzzy holds the OSA pandas UDF) is bound as one more named frame.

Score semantics per SURVEY.md §2.5: term/facet tf=1 (IndexRecordOption::Basic,
src/query.rs:53,190), phrase scores with phrase frequency and the summed idf
of its terms, fuzzy/regex/prefix/range/all are constant 1.0, conjunction and
disjunction sum matching children, negation is all-minus-child at 1.0, boost
multiplies.

Every scan is pruned before it leaves Parquet: term lookups filter on
(field, term) — pushed down onto the sorted postings layout — and only the
columns a query type needs are read (no positions for term queries).

A cold term search is ONE spark.sql call and ONE Spark job on a snapshot
whose id runs are disjoint (every append-only snapshot and its merge,
deletes included):
- term dfs and prefix heads are read on the driver from the live
  segments' dict files (storage.SegmentFiles: pyarrow, pruned by row-group
  min/max), so planning starts no job; field stats come from the manifest;
- the scan reads each table once over every live segment, deletes applied
  as one filter (storage.Snapshot.context);
- the text ranks the hits by (score desc, run rank, doc_id asc) in one
  TakeOrderedAndProject (compile_plan's ``top``), and the driver reads the
  k hits' ids from the docs files.
A snapshot whose id ranges overlap (an upsert re-adding an id, interleaved
ids), ``search_after`` and the other reads (search_df, rescore,
search_many) join the (doc_id, id) map before ranking (top_k). Regex,
fuzzy and JSON-range heads need Java regex or the JVM ``levenshtein``
prefilter, so each stays ONE shuffle-free Spark job: raw per-segment rows
collected and deduplicated on the driver.
Fuzzy expansion usually needs no Python worker: a JVM Levenshtein
prefilter bounds the candidates and the exact OSA test runs on the driver
over the collected head; the OSA pandas UDF runs only when the candidates
overflow the expansion cap.
"""

from __future__ import annotations

from dataclasses import dataclass
import math

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from tantiny_spark import plan as P
from tantiny_spark import scoring
from tantiny_spark.errors import TantinyError

# the snapshot's tables in a query text (bound by _run)
_POSTINGS, _DOCS = "{postings}", "{docs}"

#: no rows, with the result's columns; Spark folds it to an empty local
#: relation, so a plan holding only it starts no job
_EMPTY = "SELECT doc_id, score FROM VALUES (0L, 0.0D) AS e(doc_id, score) WHERE false"

_N = "CAST(norm_id AS INT)"
#: ``norm_id`` fieldnorm byte id → document length (scoring.FIELDNORM_TABLE):
#: the SmallFloat byte4 decode in integer arithmetic, JVM-side (no UDF)
_DECODE_NORM = (
    f"CAST(CASE WHEN {_N} < 32 THEN {_N} ELSE 24 + shiftleft((({_N} - 24)"
    f" & 7) | 8, shiftright({_N} - 24, 3) - 1) END AS DOUBLE)"
)


def _sql_str(s: str) -> str:
    """A SQL expression that reads back as exactly the string ``s``. Plain
    quoted text when ``s`` holds no quote, backslash, ``$`` (variable
    substitution), brace (spark.sql formats its text with str.format) or
    non-printable character, so the parsed literal does not depend on
    spark.sql.parser.escapedStringLiterals; otherwise the UTF-8 bytes in
    hex, which constant-fold to the same literal."""
    if s.isprintable() and not any(c in "'\\${}" for c in s):
        return f"'{s}'"
    return f"decode(unhex('{s.encode('utf-8').hex()}'), 'UTF-8')"


def _sql_double(v) -> str:
    v = float(v)
    return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"


def _sql_name(name: str) -> str:
    """A column name, backtick-quoted (braces doubled for str.format)."""
    name = name.replace("`", "``").replace("{", "{{").replace("}", "}}")
    return f"`{name}`"


def _sql_value(v) -> str:
    """A range bound as the literal F.lit would build: a timestamp by its
    internal microseconds (never a formatted string, which the session
    time zone would re-read), a float as a double, an int as a bigint."""
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        return _sql_double(v)
    return f"timestamp_micros({T.TimestampType().toInternal(v)})"


def _field_is(field: str) -> str:
    return f"field = {_sql_str(field)}"


def _term_in(terms) -> str:
    """``term IN (...)`` over literal terms: Spark plans it as an In (one
    term: EqualTo) over literals, pushed down to the Parquet reader."""
    return f"term IN ({', '.join(_sql_str(t) for t in terms)})"


def _by_term(values: dict) -> str:
    """The double ``values[term]`` of each row: ``element_at`` over one
    literal term → value map. Spark inlines a double literal into the
    generated code but keeps a map literal as a reference, so a query with
    other values reuses the compiled class instead of compiling a new one."""
    pairs = ", ".join(
        f"{_sql_str(t)}, {_sql_double(v)}" for t, v in values.items()
    )
    return f"element_at(map({pairs}), term)"


@dataclass
class SearchContext:
    """The live snapshot a query runs against: each table read once over
    every live segment, deletes already applied (see
    storage.Snapshot.context). Nothing in it is cached by Spark."""

    docs: DataFrame
    postings: DataFrame
    dictionary: DataFrame
    # driver-side reads of the live segments' dict and docs files
    # (storage.SegmentFiles): term dfs, prefix heads, the hits' ids
    files: object
    # field -> (num_docs, total_tokens) summed over the live segments'
    # manifest entries, as Tantivy reads segment metadata before scoring
    totals: dict
    # live segments unioned into ``dictionary``: a term has at most one
    # dict row per segment, so the first k distinct terms of a slice lie
    # within its first k × segments raw rows (_first_terms)
    segments: int
    # a live segment whose manifest entry predates BM25 totals
    untallied: str | None = None
    # the live docs' id runs in doc id order when their id ranges are
    # disjoint (storage.rank_runs), else None: then (score desc, run rank,
    # doc_id asc) ranks as (score desc, id asc) (_top_doc_ids)
    id_runs: list | None = None

    def __post_init__(self):
        # memoized doc-freq lookups: the rest of the "Weight" phase. One
        # pruned driver read per batch of keys, then pure literals in the
        # scoring expressions.
        self._df_cache: dict = {}
        # memoized dictionary-expansion heads (prefix/regex/fuzzy/json-range
        # nodes are frozen dataclasses → hashable keys); the matched term
        # slice of an immutable snapshot never changes, so repeating the
        # query must not repeat the capped read
        self._expansion_cache: dict = {}

    @property
    def id_map(self) -> DataFrame:
        return self.docs.select("doc_id", "id")

    def field_stats(self, field: str) -> tuple:
        """(num_docs, avgdl) for a field across live segments, from the
        summed manifest totals: a dict lookup that starts no job."""
        if self.untallied is not None:
            raise TantinyError(
                f"segment {self.untallied} has no BM25 totals in its manifest "
                "entry (an older version wrote it); merge_segments() rewrites it"
            )
        n, tot = self.totals.get(field, (0, 0))
        return (n, (tot / n) if n else 1.0)

    def term_dfs(self, field: str, terms: list) -> dict:
        """doc-freq per term (0 when absent), batched + memoized: the
        per-segment dict rows are read on the driver from the row groups
        that may hold the terms and summed there; no Spark job."""
        missing = [t for t in terms if (field, t) not in self._df_cache]
        if missing:
            found = self.files.term_dfs(field, missing)
            for t in missing:
                self._df_cache[(field, t)] = found.get(t, 0)
        return {t: self._df_cache[(field, t)] for t in terms}


def _idf(df: str, n) -> str:
    return f"ln(((({_sql_double(n)} - {df}) + 0.5D) / ({df} + 0.5D)) + 1.0D)"


def _bm25(tf: str, idf: str, avgdl) -> str:
    """scoring.bm25 over the ``norm_id`` column, operand for operand as
    ``idf * (K1 + 1) * tf / (tf + K1 * (1 - B + B * dl / avgdl))``."""
    B, K1 = scoring.B, scoring.K1
    norm = (
        f"((({_DECODE_NORM} * {_sql_double(B)}) / {_sql_double(avgdl)})"
        f" + {_sql_double(1.0 - B)}) * {_sql_double(K1)}"
    )
    return f"(({idf} * {_sql_double(K1 + 1.0)}) * {tf}) / ({tf} + ({norm}))"


def prime_stats_many(nodes: list, ctx: SearchContext) -> None:
    """Warm the df cache for a whole query BATCH: per distinct field across
    all plans, one shuffle-free dictionary lookup of all its terms
    (search_many pays the driver round-trips once per batch, not once per
    query)."""
    per_field: dict = {}
    for node in nodes:
        _collect_stat_keys(node, per_field)
    for field, terms in per_field.items():
        ctx.term_dfs(field, sorted(terms))


def prime_stats(node: P.Query, ctx: SearchContext) -> None:
    """:func:`prime_stats_many` for one plan."""
    prime_stats_many([node], ctx)


def _collect_stat_keys(node: P.Query, per_field: dict) -> None:
    def walk(n: P.Query):
        if isinstance(n, P.Term):
            per_field.setdefault(n.field, set()).add(n.term)
        elif isinstance(n, P.Phrase):
            per_field.setdefault(n.field, set()).update(n.terms)
        elif isinstance(n, P.Facet):
            per_field.setdefault(n.field, set()).add(n.path)
        elif isinstance(n, (P.Conjunction, P.Disjunction, P.DisjunctionMax)):
            for c in n.children:
                walk(c)
        elif isinstance(n, P.BooleanOccur):
            for c in (*n.must, *n.should, *n.must_not):
                walk(c)
        elif isinstance(n, P.Negation):
            walk(n.child)
        elif isinstance(n, P.Boost):
            walk(n.child)
        elif isinstance(n, P.ConstScore):
            walk(n.child)

    walk(node)


def compile_plan(
    node: P.Query, ctx: SearchContext, top: tuple | None = None
) -> DataFrame:
    """Compile ``node`` to one SQL text and run it: DataFrame[doc_id: long,
    score: double]. ``top`` is ``(id runs, limit, offset)`` on a snapshot
    with id runs: the same text then also ranks the hits (_top_doc_ids),
    so a search is this one spark.sql call and its collect."""
    frames: dict = {}
    text = _sql(node, ctx, frames)
    if top is not None:
        text = _top_doc_ids(text, *top)
    return _run(ctx, text, frames)


def _run(ctx: SearchContext, text: str, frames: dict) -> DataFrame:
    """ONE spark.sql call: the snapshot's tables and ``frames`` are bound
    by name, each as a temporary view dropped when the call returns."""
    return ctx.docs.sparkSession.sql(
        text, postings=ctx.postings, docs=ctx.docs, **frames
    )


def _sql(node: P.Query, ctx: SearchContext, frames: dict) -> str:
    """The SQL text of ``node``: a query with columns (doc_id, score), one
    row per matching doc. ``frames`` collects the extra named frames."""
    if isinstance(node, P.All):
        return f"SELECT doc_id, 1.0D AS score FROM {_DOCS}"
    if isinstance(node, P.Empty):
        return _EMPTY
    if isinstance(node, P.Term):
        return _term_or(node.field, {node.term: 1.0}, ctx)
    if isinstance(node, P.Phrase):
        return _phrase(node, ctx)
    if isinstance(node, P.PhrasePrefix):
        return _phrase_prefix(node, ctx)
    if isinstance(node, P.RegexPhrase):
        return _regex_phrase(node, ctx)
    if isinstance(node, P.FuzzyTerm):
        return _fuzzy(node, ctx, frames)
    if isinstance(node, P.Regex):
        return _expansion(
            ctx, frames, node.field,
            F.col("term").rlike("^(?:" + node.pattern + ")$"), cache_key=node,
        )
    if isinstance(node, P.Prefix):
        return _expansion(ctx, frames, node.field, node.prefix, cache_key=node)
    if isinstance(node, P.JsonRange):
        return _json_range(node, ctx, frames)
    if isinstance(node, P.Range):
        col = _sql_name(node.field)
        return (
            f"SELECT doc_id, 1.0D AS score FROM {_DOCS} WHERE {col} IS NOT NULL"
            f" AND {col} BETWEEN {_sql_value(node.low)} AND {_sql_value(node.high)}"
        )
    if isinstance(node, P.Facet):
        return _facet(node, ctx)
    if isinstance(node, P.TermSet):
        # literal IN predicate on the (field, term)-sorted postings layout:
        # pushes to the scan exactly like a dictionary range; constant 1.0,
        # grouped because several set members can hit the same doc
        return _matching(f"{_field_is(node.field)} AND {_term_in(node.terms)}")
    if isinstance(node, P.BooleanOccur):
        return _boolean_occur(node, ctx, frames)
    if isinstance(node, P.Conjunction):
        children = [_sql(c, ctx, frames) for c in node.children]
        total = " + ".join(f"c{i}.score" for i in range(len(children)))
        return f"SELECT doc_id, {total} AS score FROM {_joined(children)}"
    if isinstance(node, P.Disjunction):
        return _disjunction(node, ctx, frames)
    if isinstance(node, P.Negation):
        matched = _sql(node.child, ctx, frames)
        return (
            f"SELECT doc_id, 1.0D AS score FROM {_DOCS}"
            f" LEFT ANTI JOIN ({matched}) m USING (doc_id)"
        )
    if isinstance(node, P.Boost):
        child = _sql(node.child, ctx, frames)
        return (
            f"SELECT doc_id, score * {_sql_double(node.factor)} AS score"
            f" FROM ({child}) c"
        )
    if isinstance(node, P.DisjunctionMax):
        # same single partial-aggregatable groupBy shape as Disjunction —
        # max and sum ride the one shuffle, then the tie-breaker combine is
        # a codegen'd Project (Lucene DisMax: max + tie * (sum - max))
        union = _union([_sql(c, ctx, frames) for c in node.children])
        tie = _sql_double(node.tie_breaker)
        return (
            f"SELECT doc_id, max(score) + {tie} * (sum(score) - max(score))"
            f" AS score FROM ({union}) u GROUP BY doc_id"
        )
    if isinstance(node, P.ConstScore):
        child = _sql(node.child, ctx, frames)
        return f"SELECT doc_id, {_sql_double(node.score)} AS score FROM ({child}) c"
    if isinstance(node, P.Exists):
        if node.via_postings:
            # ≥1 posting on the field proves existence; the grouping is a
            # partial-aggregatable groupBy on the (field)-pruned scan
            return _matching(_field_is(node.field))
        return (
            f"SELECT doc_id, 1.0D AS score FROM {_DOCS}"
            f" WHERE {_sql_name(node.field)} IS NOT NULL"
        )
    raise TantinyError(f"Unknown plan node {type(node).__name__}")


def _matching(where: str) -> str:
    """Constant 1.0 for each doc with a posting matching ``where``."""
    return (
        f"SELECT doc_id, 1.0D AS score FROM {_POSTINGS} WHERE {where}"
        " GROUP BY doc_id"
    )


def _joined(texts: list) -> str:
    """``texts`` as relations c0, c1, ... inner-joined on doc_id."""
    joins = [f"({t}) c{i}" for i, t in enumerate(texts)]
    return " JOIN ".join(joins[:1] + [f"{j} USING (doc_id)" for j in joins[1:]])


def _union(texts: list) -> str:
    return " UNION ALL ".join(f"({t})" for t in texts)


def _boolean_occur(node: P.BooleanOccur, ctx: SearchContext, frames: dict) -> str:
    """Lucene BooleanQuery semantics (plan.BooleanOccur docstring). Plan
    shape: musts compose as score-summing inner joins (identical to
    Conjunction); shoulds as ONE union + partial-aggregatable sum groupBy
    (identical to Disjunction); the optional-scoring attach is a LEFT join
    of the should sums onto the must base (coalesce 0) — no window, no
    driver materialization; must_nots are a final left_anti join, so
    tombstone-style exclusion never touches scoring.

    minimum_should_match > gate rides the SAME single union + groupBy:
    each compiled child emits at most one row per doc, so a count
    alongside the sum is the matched-clause count and the gate is a
    post-agg filter — no extra shuffle vs the plain Disjunction, and the
    optional LEFT join becomes an INNER join (the gate prunes)."""
    base = None
    msm = node.minimum_should_match
    if node.must:
        base = _sql(P.conjunction(*node.must), ctx, frames)
    if node.should:
        if msm <= (1 if base is None else 0):
            shoulds = _sql(P.disjunction(*node.should), ctx, frames)
            if base is not None:
                base = (
                    "SELECT doc_id, b.score + coalesce(s.score, 0.0D) AS score"
                    f" FROM ({base}) b LEFT JOIN ({shoulds}) s USING (doc_id)"
                )
            else:
                base = shoulds
        else:
            union = _union([_sql(c, ctx, frames) for c in node.should])
            hits = (
                f"SELECT doc_id, sum(score) AS score FROM ({union}) u"
                f" GROUP BY doc_id HAVING count(1) >= {int(msm)}"
            )
            if base is not None:
                base = (
                    "SELECT doc_id, b.score + s.score AS score"
                    f" FROM ({base}) b JOIN ({hits}) s USING (doc_id)"
                )
            else:
                base = hits
    if base is None:
        # must_not only: pure negation over their disjunction
        base = _sql(P.All(), ctx, frames)
    if node.must_not:
        excluded = _sql(P.disjunction(*node.must_not), ctx, frames)
        base = (
            f"SELECT doc_id, score FROM ({base}) b"
            f" LEFT ANTI JOIN ({excluded}) x USING (doc_id)"
        )
    return base


def _disjunction(node: P.Disjunction, ctx: SearchContext, frames: dict) -> str:
    """Sum of the matching children's scores: one union + partial-
    aggregatable sum groupBy. The (possibly boosted) Term children are
    gathered by field first; each field compiles to ONE pruned postings
    scan (_term_or) instead of a scan per term, so an N-term OR reads and
    shuffles its postings once. Every other child compiles on its own."""
    by_field: dict = {}  # field -> [(term, boost factor)]
    others = []
    for child in node.children:
        inner, factor = child, 1.0
        while isinstance(inner, P.Boost):
            factor *= inner.factor
            inner = inner.child
        if isinstance(inner, P.Term):
            by_field.setdefault(inner.field, []).append((inner.term, factor))
        else:
            others.append(child)
    parts = [_sql(c, ctx, frames) for c in others]
    for field, terms in by_field.items():
        weights: dict = {}
        for term, factor in terms:
            weights[term] = weights.get(term, 0.0) + factor
        parts.append(_term_or(field, weights, ctx))
    return (
        f"SELECT doc_id, sum(score) AS score FROM ({_union(parts)}) u"
        " GROUP BY doc_id"
    )


def _term_or(field: str, weights: dict, ctx: SearchContext) -> str:
    """One ``field = f AND term IN (...)`` postings scan; a single term is a
    plain term query (Spark plans a one-element IN as ``EqualTo``). Each row
    scores with tf = 1 (reference term queries read postings without freqs)
    and its term's df, times the term's weight: the sum of its boosts over
    its occurrences in the OR, so a duplicated term adds up exactly as
    separate children do. Dfs and weights enter as map literals (_by_term),
    a lone term's too, so a term query with another df compiles no new
    class."""
    n, avgdl = ctx.field_stats(field)
    terms = sorted(weights)
    score = _bm25("1.0D", _idf(_by_term(ctx.term_dfs(field, terms)), n), avgdl)
    if any(w != 1.0 for w in weights.values()):
        score = f"({score}) * {_by_term(weights)}"
    return (
        f"SELECT doc_id, {score} AS score FROM {_POSTINGS}"
        f" WHERE {_field_is(field)} AND {_term_in(terms)}"
    )


def _positions(field: str, terms: list, shift: int, i: int, per_doc=False) -> str:
    """``pos_i``: the positions of ``field``'s postings of ``terms``,
    shifted back by ``shift``, one row per posting (with its term and
    norm_id), or ``per_doc`` flattened into one list per doc (one agg)."""
    pos = f"transform(positions, x -> x - {int(shift)})"
    scan = f"FROM {_POSTINGS} WHERE {_field_is(field)} AND {_term_in(terms)}"
    if per_doc:
        return (
            f"SELECT doc_id, flatten(collect_list({pos})) AS pos_{i} {scan}"
            " GROUP BY doc_id"
        )
    return f"SELECT doc_id, {pos} AS pos_{i}, term, norm_id {scan}"


def _intersect(k: int) -> str:
    """Positions present in every one of ``pos_0 .. pos_{k-1}``."""
    inter = "pos_0"
    for i in range(1, k):
        inter = f"array_intersect({inter}, pos_{i})"
    return inter


def _phrase(node: P.Phrase, ctx: SearchContext) -> str:
    terms = list(node.terms)
    if not terms:
        return _EMPTY
    n, avgdl = ctx.field_stats(node.field)
    dfs = ctx.term_dfs(node.field, sorted(set(terms)))
    # per-query doubles (a df, the summed idf) enter through a map keyed by
    # the first term's ``term`` column, kept for it: an inlined double
    # literal would compile a new class per query (see _by_term)
    if len(terms) == 1:
        # single-term phrase behaves as a term query with true tf
        idf = _idf(_by_term({terms[0]: dfs[terms[0]]}), n)
        return (
            f"SELECT doc_id, {_bm25('CAST(tf AS DOUBLE)', idf, avgdl)} AS score"
            f" FROM {_POSTINGS} WHERE {_field_is(node.field)}"
            f" AND {_term_in(terms[:1])}"
        )

    # k-way positional intersection: shift each term's positions back by its
    # offset; a phrase occurrence is a position present in every shifted list.
    slop = getattr(node, "slop", 0)
    parts = [
        _positions(node.field, [t], 0 if slop else i, i)
        for i, t in enumerate(terms)
    ]
    tf = (
        _slop_phrase_tf(len(terms), slop) if slop
        else f"size({_intersect(len(terms))})"
    )
    # summed idf over ALL phrase terms INCLUDING repeats (Tantivy's
    # Bm25Weight::for_terms sums per occurrence), phrase frequency as tf
    idf_sum = sum(scoring.idf(dfs[t], n) for t in terms)
    score = _bm25(
        "CAST(phrase_tf AS DOUBLE)", _by_term({terms[0]: idf_sum}), avgdl
    )
    return (
        f"SELECT doc_id, {score} AS score FROM (SELECT doc_id, c0.term,"
        f" c0.norm_id, {tf} AS phrase_tf FROM {_joined(parts)}) j"
        " WHERE phrase_tf > 0"
    )


def _slop_phrase_tf(n_terms: int, slop: int) -> str:
    """Ordered-gap slop over ``pos_0 .. pos_{n-1}`` array columns: a start
    s in pos_0 is a phrase occurrence when SOME chain completes — each
    next position falls in the window (prev, prev + 1 + slop] after ANY
    reachable previous match. A greedy-minimal chain is NOT sufficient:
    the window is bounded on both sides, so taking the smallest candidate
    can strand a later term ('a b b x c' with slop=1 needs b@2, not b@1).
    We therefore track the full reachable-position SET per start:
      reach_1[s] = {x in pos_1 : s < x <= s + 1 + slop}
      reach_i[s] = {x in pos_i : EXISTS p in reach_{i-1}[s]
                                 with p < x <= p + 1 + slop}
    and a start matches iff reach_{n-1}[s] is non-empty. Each step's
    reachable set is the COLLECTION argument of the next transform()
    (evaluated once per row, lambdas only reference its elements), so the
    DP is polynomial, order-independent over the input arrays, and stays
    a JVM array expression — no UDF, no explode. Returns the phrase-tf
    (count of starts with a completed chain)."""

    def window(p):
        return f"x > {p} AND x <= {p} + 1 + {int(slop)}"

    reach = f"transform(pos_0, s -> filter(pos_1, x -> {window('s')}))"
    for i in range(2, n_terms):
        reach = (
            f"transform({reach}, prev -> filter(pos_{i},"
            f" x -> exists(prev, p -> {window('p')})))"
        )
    return f"size(filter({reach}, r -> size(r) > 0))"


def _regex_phrase(node: P.RegexPhrase, ctx: SearchContext) -> str:
    """Tantivy RegexPhraseQuery (plan.RegexPhrase docstring): per position,
    the matching dictionary slice expands (capped, term-ordered — the
    fst-seek shape _phrase_prefix uses for its one expanding position,
    generalized to every position), its postings' position lists union per
    doc via ONE flatten agg, and the standard adjacency intersection /
    reachable-set slop DP runs over the unioned lists. Constant 1.0."""
    k = len(node.patterns)
    if k == 0:
        return _EMPTY
    parts = []
    for i, pat in enumerate(node.patterns):
        exp = _first_terms(
            ctx, node.field, F.col("term").rlike("^(?:" + pat + ")$"),
            node.max_expansions,
        )
        if not exp:
            return _EMPTY
        parts.append(
            _positions(node.field, exp, 0 if node.slop else i, i, per_doc=True)
        )
    if k == 1:
        cond = "size(pos_0) > 0"
    elif node.slop:
        cond = f"{_slop_phrase_tf(k, node.slop)} > 0"
    else:
        cond = f"size({_intersect(k)}) > 0"
    return f"SELECT doc_id, 1.0D AS score FROM {_joined(parts)} WHERE {cond}"


def _phrase_prefix(node: P.PhrasePrefix, ctx: SearchContext) -> str:
    """Search-as-you-type: fixed terms adjacent, then ANY of the first
    ``max_expansions`` dictionary terms (term order) with the prefix at the
    next position. Constant score 1.0 like the other expansion queries.

    The expansion collect is bounded by max_expansions (<=50 default) over
    the pushdown-pruned dictionary slice — the fst-seek shape, never a
    corpus scan; per-doc expansion positions union via ONE flatten agg
    bounded by expansions-per-doc."""
    k = len(node.terms)
    exp = _first_terms(ctx, node.field, node.prefix, node.max_expansions)
    if not exp:
        return _EMPTY
    parts = [_positions(node.field, [t], i, i) for i, t in enumerate(node.terms)]
    parts.append(_positions(node.field, exp, k, k, per_doc=True))
    return (
        f"SELECT doc_id, 1.0D AS score FROM {_joined(parts)}"
        f" WHERE size({_intersect(k + 1)}) > 0"
    )


MAX_EXPANSION_LITERALS = 10_000
#: cached expansion-head marker: more than MAX_EXPANSION_LITERALS matches
_OVERFLOW = object()


def _sorted_terms(ctx: SearchContext, field: str, match, n: int) -> list:
    """The first ``n`` raw dictionary rows of ``field`` matching ``match``,
    in term order (a term repeats once per segment holding it). A prefix
    string is read on the driver from the dict files (SegmentFiles
    .term_head: no job); a Column predicate (Java regex, the JVM
    Levenshtein prefilter, a JSON range) is ONE TakeOrdered job
    (per-partition top rows, merged on the driver), no distinct and no
    shuffle."""
    if isinstance(match, str):
        return ctx.files.term_head(field, match, n)
    rows = (
        ctx.dictionary.where((F.col("field") == field) & match)
        .select("term")
        .orderBy("term")
        .limit(n)
        .collect()
    )
    return [r["term"] for r in rows]


def _first_terms(ctx: SearchContext, field: str, match, k: int) -> list:
    """The first ``k`` distinct dictionary terms of ``field`` matching
    ``match`` (see _sorted_terms), in term order. A term has at most one
    dict row per segment, so the first ``k × segments`` raw rows hold them;
    for the small ``max_expansions`` heads of the phrase expansions only."""
    rows = _sorted_terms(ctx, field, match, k * ctx.segments)
    return list(dict.fromkeys(rows))[:k]


def _capped_terms(ctx: SearchContext, field: str, match):
    """The distinct matching terms, or _OVERFLOW when they may not fit:
    at most MAX_EXPANSION_LITERALS + 1 raw rows reach the driver whatever
    the segment count. A head that is not full holds every matching row,
    so its dedupe is exact; a full head is treated as overflow."""
    rows = _sorted_terms(ctx, field, match, MAX_EXPANSION_LITERALS + 1)
    if len(rows) > MAX_EXPANSION_LITERALS:
        return _OVERFLOW
    return list(dict.fromkeys(rows))


def _dict_expansion(
    ctx: SearchContext, field: str, match, cache_key=None, refine=None,
) -> DataFrame:
    """One expansion (_expansion) run on its own as DataFrame[doc_id, score]."""
    frames: dict = {}
    return _run(ctx, _expansion(ctx, frames, field, match, cache_key, refine), frames)


def _expansion(
    ctx: SearchContext, frames: dict, field: str, match, cache_key=None,
    refine=None,
) -> str:
    """Automaton-style queries (regex/prefix/fuzzy): enumerate matching
    dictionary terms, union their postings, constant score 1.0. ``match``
    is a prefix string, whose head the driver reads from the dict files,
    or a Column predicate, whose head is one Spark job (_sorted_terms).

    Typical patterns match a tiny dictionary slice, which is collected and
    re-injected as an IN literal list so the postings scan gets *term-level
    Parquet pushdown* — the fst-dictionary-first strategy of the reference
    (README.md:274) rather than a full field scan. A pathological pattern
    (`.*`, one-letter prefix on a web-scale dictionary) could match millions
    of terms, so the collect is CAPPED (_capped_terms): a head of
    MAX_EXPANSION_LITERALS+1 raw rows detects overflow, and the fallback is
    a semi-join of the postings against the matched dictionary slice —
    fully distributed, no driver materialization (AQE picks broadcast vs
    shuffle by actual size). The slice is the one frame the text binds
    besides the snapshot's tables: its predicate is the head's Column.

    ``refine`` is ``(keep, column)`` when ``match`` only bounds a
    superset of the matches: the same exact test as a Python predicate,
    applied to the collected head on the driver, and as a 0-arg callable
    returning a Column. The column runs only when the superset overflows:
    first in a second capped head, so the literal path stays whenever the
    exact matches fit, then inside the semi-join if they do not."""

    def exact():
        pred = F.col("term").startswith(match) if isinstance(match, str) else match
        return pred if refine is None else pred & refine[1]()

    # memoize the capped head per plan node: the snapshot's dictionary is
    # immutable, so a repeated prefix/regex/fuzzy query must not re-run
    # the expansion read (the dominant fixed cost of a repeated smart query)
    matched = ctx._expansion_cache.get(cache_key) if cache_key is not None else None
    if matched is None:
        matched = _capped_terms(ctx, field, match)
        if refine is not None:
            matched = (
                _capped_terms(ctx, field, exact()) if matched is _OVERFLOW
                else [t for t in matched if refine[0](t)]
            )
        if cache_key is not None:
            ctx._expansion_cache[cache_key] = matched
    if not matched:
        return _EMPTY
    if matched is not _OVERFLOW:
        return _matching(f"{_field_is(field)} AND {_term_in(matched)}")
    name = f"slice{len(frames)}"
    frames[name] = (
        ctx.dictionary.where(F.col("field") == field).where(exact())
        .select("term").distinct()
    )
    return (
        f"SELECT doc_id, 1.0D AS score FROM {_POSTINGS} LEFT SEMI JOIN {{{name}}}"
        f" USING (term) WHERE {_field_is(field)} GROUP BY doc_id"
    )


def _json_range(node: P.JsonRange, ctx: SearchContext, frames: dict) -> str:
    """The path's typed terms are contiguous dictionary slices (path SEP
    marker value); parse the value suffix and range-test it. startswith
    gates the substr/cast, so foreign terms never parse. Date terms are
    epoch micros (< 2^53, exact in double)."""
    from tantiny_spark.analysis.jsonpath import (
        JSON_SEP, MARK_DATE, MARK_FLOAT, MARK_INT,
    )

    marks = [MARK_DATE] if node.kind == "date" else [MARK_INT, MARK_FLOAT]
    prefixes = [f"{node.path}{JSON_SEP}{m}" for m in marks]
    num = f"CAST(substr(term, {len(prefixes[0]) + 1}, 64) AS DOUBLE)"
    starts = " OR ".join(f"startswith(term, {_sql_str(p)})" for p in prefixes)
    pred = (
        f"({starts}) AND {num} IS NOT NULL AND {num} >= {_sql_double(node.low)}"
        f" AND {num} <= {_sql_double(node.high)}"
    )
    return _expansion(ctx, frames, node.field, F.expr(pred), cache_key=node)


def _fuzzy(node: P.FuzzyTerm, ctx: SearchContext, frames: dict) -> str:
    """Levenshtein-with-transpositions (OSA) within ``distance``, matching
    FuzzyTermQuery::new(term, distance, true) (src/query.rs:58-77), with no
    Python worker on the usual path. Spark's builtin levenshtein() lacks
    transpositions, but a transposition is two substitutions, so an OSA
    distance of c is a Levenshtein distance of at most 2c: the candidates
    are the length band AND ``levenshtein(term, q, 2d) >= 0`` (the
    thresholded form, -1 beyond 2d), a JVM-side superset of the answer.
    The exact OSA test then runs on the driver over the collected head
    (_expansion's ``refine``). Only when the candidates overflow the
    cap (a loose bound: at distance 2 it admits Levenshtein 4) does the
    OSA run as a vectorized pandas UDF, first in a capped head of the
    exact matches, then inside the semi-join if those overflow too.

    ``node.prefix`` is Tantivy's FuzzyTermQuery::new_prefix: a dictionary
    term matches when ANY of its prefixes is within ``distance`` of the
    query (typo-tolerant search-as-you-type). The same DP computes it —
    row i of the OSA table is OSA(query, term[:i]), so min over the final
    column is the best prefix distance; the length band keeps only the
    lower bound (a long term can still carry a close short prefix), and
    the prefilter ORs the Levenshtein test over the prefixes whose length
    is within ``distance`` of the query's."""
    exact = _osa_prefix if node.prefix else _osa
    query, dist = node.term, node.distance
    return _expansion(
        ctx, frames, node.field, _fuzzy_candidates(query, dist, node.prefix),
        cache_key=node,
        refine=(
            lambda t: exact(query, t) <= dist,
            lambda: _osa_udf(query, node.prefix)(F.col("term")) <= F.lit(dist),
        ),
    )


def _fuzzy_candidates(query: str, dist: int, prefix: bool = False) -> Column:
    """JVM-side superset of the terms within OSA distance ``dist`` of
    ``query`` (of a prefix of the term when ``prefix``): the length band
    and a Levenshtein distance of at most ``2 * dist``, one SQL expression.
    Spark's length/levenshtein and Python's str both count code points."""
    q, low, high = _sql_str(query), len(query) - dist, len(query) + dist
    if not prefix:
        return F.expr(
            f"length(term) BETWEEN {low} AND {high}"
            f" AND levenshtein(term, {q}, {2 * dist}) >= 0"
        )
    tests = " OR ".join(
        f"levenshtein(substring(term, 1, {j}), {q}, {2 * dist}) >= 0"
        for j in range(max(low, 0), high + 1)
    )
    return F.expr(f"length(term) >= {low} AND ({tests})")


def _osa_udf(query: str, prefix: bool = False):
    fn = _osa_prefix if prefix else _osa

    def _osa_batch(series: pd.Series) -> pd.Series:
        cache: dict = {}

        def dist(t: str) -> int:
            hit = cache.get(t)
            if hit is not None:
                return hit
            d = fn(query, t)
            cache[t] = d
            return d

        return series.map(dist).astype("int32")

    return F.pandas_udf(_osa_batch, T.IntegerType())


def _osa_final_row(a: str, b: str) -> list:
    """Final row of the OSA DP table (restricted Damerau-Levenshtein:
    substitution/insert/delete cost 1, adjacent transposition cost 1):
    entry j is OSA(a, b[:j])."""
    la, lb = len(a), len(b)
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev


def _osa(a: str, b: str) -> int:
    """Optimal string alignment distance between the full strings."""
    return _osa_final_row(a, b)[len(b)]


def _osa_prefix(a: str, b: str) -> int:
    """min over prefixes p of ``b`` of OSA(a, p) — the final DP row holds
    OSA(a, b[:j]) at column j (the Levenshtein-automaton prefix acceptance
    FuzzyTermQuery::new_prefix compiles to)."""
    return min(_osa_final_row(a, b))


def _facet(node: P.Facet, ctx: SearchContext) -> str:
    """Facet = term query on the facet field's ancestor postings with
    tf=1, dl=avgdl=1 ⇒ score = idf(df, N) (SURVEY.md §2.5 note on Basic),
    a map literal keyed by ``term`` (no new class per idf, see _by_term)."""
    n, _ = ctx.field_stats(node.field)
    df = ctx.term_dfs(node.field, [node.path])[node.path]
    return (
        f"SELECT doc_id, {_by_term({node.path: scoring.idf(df, n)})} AS score"
        f" FROM {_POSTINGS} WHERE {_field_is(node.field)}"
        f" AND {_term_in([node.path])}"
    )


def _top_doc_ids(
    text: str, runs: list, limit: int = 10, offset: int = 0
) -> str:
    """top_k on a snapshot with id runs (SearchContext.id_runs): there
    (score desc, rank of the doc's run by id, doc_id asc) is (score desc,
    id asc), so the hits rank without the (doc_id, id) join, in ONE
    TakeOrderedAndProject job over the scored rows, like Tantivy's TopDocs
    ranks DocAddresses. The run rank is a CASE over the runs' doc ranges,
    left out when the runs' doc order is their id order (one run, or ids
    appended in order). The caller reads the ``limit`` ids on the driver
    (SegmentFiles.ids). Wraps ``text``, keeping its (doc_id, score)."""
    by_id = sorted(range(len(runs)), key=lambda k: runs[k][2])
    order = "score DESC, doc_id ASC"
    if by_id != sorted(by_id):
        rank = {k: r for r, k in enumerate(by_id)}
        cases = " ".join(
            f"WHEN doc_id <= {int(runs[k][1])} THEN {rank[k]}"
            for k in range(len(runs) - 1)
        )
        last = rank[len(runs) - 1]
        order = f"score DESC, CASE {cases} ELSE {last} END, doc_id ASC"
    page = f" LIMIT {int(limit)}" + (f" OFFSET {int(offset)}" if offset else "")
    return f"SELECT doc_id, score FROM ({text}) r ORDER BY {order}{page}"


def top_k(
    result: DataFrame, ctx: SearchContext, limit: int = 10, offset: int = 0,
    search_after: tuple | None = None,
) -> DataFrame:
    """Deterministic top-k: score desc, then id asc (the reference's heap tie
    order is incidental; ours is pinned). Compiles to TakeOrderedAndProject —
    per-partition partial top-k, no global sort. A non-zero ``offset``
    (pagination) stays inside the same operator: Spark's ordered
    offset+limit folds into TakeOrderedAndProject(offset=...), so page 100
    costs a partial top-(offset+limit), never a corpus sort.

    ``search_after`` is ES-style cursor pagination: the previous page's
    last hit (id, score), exactly as search_with_scores returns it; only
    hits strictly after it in the (score desc, id asc) order are ranked.
    Unlike ``offset``, page depth costs nothing extra — the cursor is a
    plain filter ahead of the same top-k, so page 10^6 scans and ranks
    exactly like page 1."""
    out = result.join(ctx.id_map, "doc_id")
    if search_after is not None:
        if offset:
            raise ValueError("search_after and offset are exclusive")
        try:
            after_id, after_score = search_after
            after_score = float(after_score)
            after_id = str(after_id)
        except (TypeError, ValueError) as e:
            raise ValueError(
                "search_after must be an (id, score) cursor — the last hit "
                "of the previous page as search_with_scores returns it"
            ) from e
        out = out.where(
            (F.col("score") < F.lit(after_score))
            | (
                (F.col("score") == F.lit(after_score))
                & (F.col("id") > F.lit(after_id))
            )
        )
    out = out.orderBy(F.col("score").desc(), F.col("id").asc())
    if offset:
        out = out.offset(offset)
    return out.limit(limit).select("id", "score")


def collapse_top_k(
    result: DataFrame, ctx: SearchContext, field: str, limit: int = 10
) -> DataFrame:
    """Field collapsing (the ES ``collapse`` request): rank the matched
    docs by (score desc, id asc), keep only the BEST hit per value of a
    fast field, and return the top ``limit`` group representatives in hit
    order, each carrying how many matches its group absorbed.

    Scale shape — one partial-aggregatable groupBy, never a per-group
    window: the representative is ``min(struct(-score, id))`` (IEEE
    negation is exact, so -(-score) round-trips bit-for-bit), which
    combines map-side even when one group holds half the corpus (the
    classic collapse skew case — e.g. collapsing a web crawl by host),
    and the final rank is a TakeOrderedAndProject over #groups rows,
    not #docs. NULL field values collapse into one group (documented
    divergence from ES, which keeps missing-field docs as singletons —
    a null group is the Spark/SQL-natural and oracle-replayable choice).

    Returns DataFrame[id, score, <field>, group_count].
    """
    vals = ctx.docs.select("doc_id", field)
    hits = result.join(vals, "doc_id").join(ctx.id_map, "doc_id")
    reps = hits.groupBy(field).agg(
        F.min(
            F.struct((-F.col("score")).alias("ns"), F.col("id").alias("id"))
        ).alias("best"),
        F.count(F.lit(1)).cast("long").alias("group_count"),
    )
    return (
        reps.select(
            F.col("best.id").alias("id"),
            (-F.col("best.ns")).alias("score"),
            field,
            "group_count",
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(limit)
    )


def facet_counts(
    ctx: SearchContext,
    field: str,
    prefix: str,
    matched: DataFrame | None = None,
    k: int | None = None,
) -> DataFrame:
    """Per-child document counts under a facet path prefix, optionally
    restricted to a matched doc-set — the FacetCollector analog (the
    reference exposes facet FILTERING only; counting is the Spark-natural
    aggregation extension a 100 TB corpus wants).

    The facet field's postings hold one row per ANCESTOR path (build.py),
    so children of ``/a`` are exactly the postings whose term starts with
    ``/a/`` and has one more path segment; the startswith predicate is a
    range pushdown on the (field, term)-sorted postings layout, the
    optional restriction is a semi-join on doc_id, and the count is one
    partial-aggregated groupBy — no explode, no full scan.

    Returns DataFrame[path, cnt] ordered cnt desc, path asc (capped at k
    when given)."""
    base = prefix.rstrip("/")
    depth = base.count("/")
    p = ctx.postings.where(
        (F.col("field") == field) & F.col("term").startswith(base + "/")
    )
    # the term base + "/" (the root "/" under base "") also splits into
    # depth + 2 parts, but it is the prefix itself, not one of its children
    p = p.where(
        (F.size(F.split(F.col("term"), "/")) == depth + 2)
        & (F.col("term") != base + "/")
    )
    if matched is not None:
        p = p.join(matched.select("doc_id"), "doc_id", "left_semi")
    out = (
        p.groupBy(F.col("term").alias("path"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("path").asc())
    )
    return out.limit(k) if k is not None else out
