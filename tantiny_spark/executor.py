"""Query execution: compile a plan tree to a DataFrame[doc_id, score].

The read-path equivalent of the reference's __search
(/root/reference/src/index.rs:244-274): Query → Weight (global stats) →
scorer over postings → top-k. Here the "weight" is a broadcast join against
the (tiny) dictionary/stats rows the query needs, the "scorer" is a JVM-side
BM25 expression over a term-pruned postings scan, and top-k compiles to
TakeOrderedAndProject.

Score semantics per SURVEY.md §2.5: term/facet tf=1 (IndexRecordOption::Basic,
src/query.rs:53,190), phrase scores with phrase frequency and the summed idf
of its terms, fuzzy/regex/prefix/range/all are constant 1.0, conjunction and
disjunction sum matching children, negation is all-minus-child at 1.0, boost
multiplies.

Every scan is pruned before it leaves Parquet: term lookups filter on
(field, term) — pushed down onto the sorted postings layout — and only the
columns a query type needs are read (no positions for term queries).
"""

from __future__ import annotations

from dataclasses import dataclass
import weakref

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tantiny_spark import plan as P
from tantiny_spark import scoring
from tantiny_spark.errors import TantinyError

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

#: per-session cache of the 256-entry SmallFloat decode table Column —
#: building it costs 256 py4j literal round-trips (~130 ms, measured), which
#: used to be paid by EVERY scored query; Column expressions are immutable
#: and session-scoped, so one per live session is exactly right
_NORM_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _decode_norm(col):
    """fieldnorm byte id → document length, JVM-side (no UDF)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    table = _NORM_TABLE_CACHE.get(spark) if spark is not None else None
    if table is None:
        table = F.array(*[F.lit(v) for v in scoring.FIELDNORM_TABLE])
        if spark is not None:
            _NORM_TABLE_CACHE[spark] = table
    return F.element_at(table, col.cast("int") + 1).cast("double")


@dataclass
class SearchContext:
    """The live snapshot a query runs against: unioned segment tables with
    tombstones already applied (see storage.Snapshot.context)."""

    docs: DataFrame
    postings: DataFrame
    dictionary: DataFrame
    stats: DataFrame
    # slim persisted (doc_id, id) projection: the only per-query hot join.
    # The full docs table is NOT cached — at web scale it can't be, and
    # range/negation scans want Parquet fast-field pushdown instead.
    ids: DataFrame | None = None

    def __post_init__(self):
        # memoized global stats / doc-freq lookups: the "Weight" phase. One
        # tiny pushdown-pruned collect per distinct key, then pure literals in
        # the scoring expressions — exactly how Tantivy resolves global stats
        # from the searcher before scoring (src/index.rs:244-274).
        self._stats_cache: dict = {}
        self._df_cache: dict = {}
        # memoized dictionary-expansion heads (prefix/regex/fuzzy/json-range
        # nodes are frozen dataclasses → hashable keys); the matched term
        # slice of an immutable snapshot never changes, so repeating the
        # query must not repeat the capped collect job
        self._expansion_cache: dict = {}

    def release(self) -> None:
        """Unpersist the cached hot tables (ids/dictionary/stats). Called by
        Index.reload() so long-running readers don't accumulate one cached
        relation set per snapshot generation."""
        for df in (self.ids, self.dictionary, self.stats):
            if df is None:
                continue
            try:
                df.unpersist()
            except Exception:
                pass

    @property
    def id_map(self) -> DataFrame:
        return self.ids if self.ids is not None else self.docs.select("doc_id", "id")

    def field_stats(self, field: str) -> tuple:
        """(num_docs, avgdl) for a field across live segments."""
        hit = self._stats_cache.get(field)
        if hit is None:
            rows = (
                self.stats.where(F.col("field") == field)
                .groupBy("field")
                .agg(
                    F.sum("num_docs").alias("num_docs"),
                    F.sum("total_tokens").alias("total_tokens"),
                )
                .collect()
            )
            if rows:
                n = int(rows[0]["num_docs"])
                tot = int(rows[0]["total_tokens"])
                hit = (n, (tot / n) if n else 1.0)
            else:
                hit = (0, 1.0)
            self._stats_cache[field] = hit
        return hit

    def term_dfs(self, field: str, terms: list) -> dict:
        """doc-freq per term (0 when absent), batched + memoized."""
        missing = [t for t in terms if (field, t) not in self._df_cache]
        if missing:
            rows = (
                self.dictionary.where(
                    (F.col("field") == field) & (F.col("term").isin(missing))
                )
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[(field, t)] = found.get(t, 0)
        return {t: self._df_cache[(field, t)] for t in terms}


def _idf_expr(df_col, n_col):
    return F.log(1.0 + (n_col - df_col + 0.5) / (df_col + 0.5))


def _bm25_expr(tf_col, dl_col, avgdl_col, df_col, n_col):
    norm = scoring.K1 * (1.0 - scoring.B + scoring.B * dl_col / avgdl_col)
    return _idf_expr(df_col, n_col) * (scoring.K1 + 1.0) * tf_col / (tf_col + norm)


def prime_stats_many(nodes: list, ctx: SearchContext) -> None:
    """Warm the stats/df caches for a whole query BATCH: one dictionary
    lookup per distinct field across all plans (search_many pays the driver
    round-trips once per batch, not once per query)."""
    per_field: dict = {}
    for node in nodes:
        _collect_stat_keys(node, per_field)
    for field, terms in per_field.items():
        ctx.field_stats(field)
        if terms:
            ctx.term_dfs(field, sorted(terms))


def prime_stats(node: P.Query, ctx: SearchContext) -> None:
    """Warm the stats/df memo caches for a whole plan in two batched lookups
    per field (instead of one driver job per node during compilation)."""
    per_field: dict = {}
    _collect_stat_keys(node, per_field)
    for field, terms in per_field.items():
        ctx.field_stats(field)
        if terms:
            ctx.term_dfs(field, sorted(terms))


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


def compile_plan(node: P.Query, ctx: SearchContext) -> DataFrame:
    """Recursively compile to DataFrame[doc_id: long, score: double]."""
    if isinstance(node, P.All):
        return ctx.docs.select("doc_id", F.lit(1.0).alias("score"))
    if isinstance(node, P.Empty):
        return ctx.docs.sparkSession.createDataFrame([], RESULT_SCHEMA)
    if isinstance(node, P.Term):
        return _term_or(node.field, {node.term: 1.0}, ctx)
    if isinstance(node, P.Phrase):
        return _phrase(node, ctx)
    if isinstance(node, P.PhrasePrefix):
        return _phrase_prefix(node, ctx)
    if isinstance(node, P.RegexPhrase):
        return _regex_phrase(node, ctx)
    if isinstance(node, P.FuzzyTerm):
        return _fuzzy(node, ctx)
    if isinstance(node, P.Regex):
        return _dict_expansion(
            ctx, node.field,
            F.col("term").rlike("^(?:" + node.pattern + ")$"),
            cache_key=node,
        )
    if isinstance(node, P.Prefix):
        return _dict_expansion(
            ctx, node.field, F.col("term").startswith(node.prefix),
            cache_key=node,
        )
    if isinstance(node, P.JsonRange):
        from tantiny_spark.analysis.jsonpath import (
            JSON_SEP, MARK_DATE, MARK_FLOAT, MARK_INT,
        )

        # the path's typed terms are contiguous dictionary slices
        # (path SEP marker value); parse the value suffix and range-test it.
        # startswith gates the substr/cast, so foreign terms never parse.
        # date terms are epoch micros (< 2^53, exact in double).
        if node.kind == "date":
            prefixes = [f"{node.path}{JSON_SEP}{MARK_DATE}"]
        else:
            prefixes = [
                f"{node.path}{JSON_SEP}{MARK_INT}",
                f"{node.path}{JSON_SEP}{MARK_FLOAT}",
            ]
        num = F.col("term").substr(
            F.lit(len(prefixes[0]) + 1), F.lit(64)
        ).cast("double")
        starts = F.col("term").startswith(prefixes[0])
        for p in prefixes[1:]:
            starts = starts | F.col("term").startswith(p)
        pred = (
            starts
            & num.isNotNull()
            & (num >= F.lit(node.low)) & (num <= F.lit(node.high))
        )
        return _dict_expansion(ctx, node.field, pred, cache_key=node)
    if isinstance(node, P.Range):
        col = F.col(node.field)
        return ctx.docs.where(col.isNotNull() & col.between(F.lit(node.low), F.lit(node.high))).select(
            "doc_id", F.lit(1.0).alias("score")
        )
    if isinstance(node, P.Facet):
        return _facet(node, ctx)
    if isinstance(node, P.TermSet):
        # literal IN predicate on the (field, term)-sorted postings layout:
        # pushes to the scan exactly like a dictionary range; constant 1.0,
        # distinct because several set members can hit the same doc
        return (
            ctx.postings.where(
                (F.col("field") == node.field)
                & F.col("term").isin(*node.terms)
            )
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(1.0).alias("score"))
        )
    if isinstance(node, P.BooleanOccur):
        return _boolean_occur(node, ctx)
    if isinstance(node, P.Conjunction):
        children = [compile_plan(c, ctx) for c in node.children]
        out = children[0]
        for i, child in enumerate(children[1:], start=1):
            right = child.withColumnRenamed("score", f"score_{i}")
            out = out.join(right, "doc_id").select(
                "doc_id", (F.col("score") + F.col(f"score_{i}")).alias("score")
            )
        return out
    if isinstance(node, P.Disjunction):
        return _disjunction(node, ctx)
    if isinstance(node, P.Negation):
        matched = compile_plan(node.child, ctx)
        return ctx.docs.join(matched, "doc_id", "left_anti").select(
            "doc_id", F.lit(1.0).alias("score")
        )
    if isinstance(node, P.Boost):
        child = compile_plan(node.child, ctx)
        return child.select("doc_id", (F.col("score") * F.lit(node.factor)).alias("score"))
    if isinstance(node, P.DisjunctionMax):
        # same single partial-aggregatable groupBy shape as Disjunction —
        # max and sum ride the one shuffle, then the tie-breaker combine is
        # a codegen'd Project (Lucene DisMax: max + tie * (sum - max))
        children = [compile_plan(c, ctx) for c in node.children]
        unioned = children[0]
        for child in children[1:]:
            unioned = unioned.unionByName(child)
        return (
            unioned.groupBy("doc_id")
            .agg(F.max("score").alias("__mx"), F.sum("score").alias("__sm"))
            .select(
                "doc_id",
                (
                    F.col("__mx")
                    + F.lit(node.tie_breaker) * (F.col("__sm") - F.col("__mx"))
                ).alias("score"),
            )
        )
    if isinstance(node, P.ConstScore):
        child = compile_plan(node.child, ctx)
        return child.select("doc_id", F.lit(node.score).alias("score"))
    if isinstance(node, P.Exists):
        if node.via_postings:
            # ≥1 posting on the field proves existence; distinct is a
            # partial-aggregatable groupBy on the (field)-pruned scan
            return (
                ctx.postings.where(F.col("field") == node.field)
                .select("doc_id")
                .distinct()
                .select("doc_id", F.lit(1.0).alias("score"))
            )
        col = F.col(node.field)
        return ctx.docs.where(col.isNotNull()).select(
            "doc_id", F.lit(1.0).alias("score")
        )
    raise TantinyError(f"Unknown plan node {type(node).__name__}")


def _boolean_occur(node: P.BooleanOccur, ctx: SearchContext) -> DataFrame:
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
        base = compile_plan(P.conjunction(*node.must), ctx)
    if node.should:
        if msm <= (1 if base is None else 0):
            shoulds = compile_plan(P.disjunction(*node.should), ctx)
            if base is None:
                base = shoulds
            else:
                extra = shoulds.withColumnRenamed("score", "__should")
                base = base.join(extra, "doc_id", "left").select(
                    "doc_id",
                    (F.col("score")
                     + F.coalesce(F.col("__should"), F.lit(0.0))
                     ).alias("score"),
                )
        else:
            children = [compile_plan(c, ctx) for c in node.should]
            unioned = children[0]
            for child in children[1:]:
                unioned = unioned.unionByName(child)
            hits = (
                unioned.groupBy("doc_id")
                .agg(
                    F.sum("score").alias("__should"),
                    F.count(F.lit(1)).alias("__n_should"),
                )
                .where(F.col("__n_should") >= F.lit(msm))
                .select("doc_id", "__should")
            )
            if base is None:
                base = hits.select(
                    "doc_id", F.col("__should").alias("score")
                )
            else:
                base = base.join(hits, "doc_id").select(
                    "doc_id",
                    (F.col("score") + F.col("__should")).alias("score"),
                )
    if base is None:
        # must_not only: pure negation over their disjunction
        base = ctx.docs.select("doc_id", F.lit(1.0).alias("score"))
    if node.must_not:
        excluded = compile_plan(P.disjunction(*node.must_not), ctx)
        base = base.join(excluded.select("doc_id"), "doc_id", "left_anti")
    return base


def _disjunction(node: P.Disjunction, ctx: SearchContext) -> DataFrame:
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
    parts = [compile_plan(c, ctx) for c in others]
    for field, terms in by_field.items():
        weights: dict = {}
        for term, factor in terms:
            weights[term] = weights.get(term, 0.0) + factor
        parts.append(_term_or(field, weights, ctx))
    unioned = parts[0]
    for part in parts[1:]:
        unioned = unioned.unionByName(part)
    return unioned.groupBy("doc_id").agg(F.sum("score").alias("score"))


def _term_or(field: str, weights: dict, ctx: SearchContext) -> DataFrame:
    """One ``field = f AND term IN (...)`` postings scan; a single term is a
    plain term query (Spark plans a one-element IN as ``EqualTo``). Each row
    scores with tf = 1 (reference term queries read postings without freqs)
    and its term's df, times the term's weight: the sum of its boosts over
    its occurrences in the OR, so a duplicated term adds up exactly as
    separate children do."""
    n, avgdl = ctx.field_stats(field)
    terms = sorted(weights)
    dfs = ctx.term_dfs(field, terms)
    keys = [F.lit(t) for t in terms]

    def per_term(values: dict):
        if len(terms) == 1:
            return F.lit(float(values[terms[0]]))
        pairs = [
            c for t, key in zip(terms, keys) for c in (key, F.lit(float(values[t])))
        ]
        return F.element_at(F.create_map(*pairs), F.col("term"))

    score = _bm25_expr(
        F.lit(1.0), _decode_norm(F.col("norm_id")),
        F.lit(float(avgdl)), per_term(dfs), F.lit(float(n)),
    )
    if any(w != 1.0 for w in weights.values()):
        score = score * per_term(weights)
    return ctx.postings.where(
        (F.col("field") == field) & F.col("term").isin(*keys)
    ).select("doc_id", score.alias("score"))


def _phrase(node: P.Phrase, ctx: SearchContext) -> DataFrame:
    terms = list(node.terms)
    if not terms:
        return ctx.docs.sparkSession.createDataFrame([], RESULT_SCHEMA)
    n, avgdl = ctx.field_stats(node.field)
    dfs = ctx.term_dfs(node.field, sorted(set(terms)))
    if len(terms) == 1:
        # single-term phrase behaves as a term query with true tf
        p = ctx.postings.where(
            (F.col("field") == node.field) & (F.col("term") == terms[0])
        ).select("doc_id", "tf", "norm_id")
        return p.select(
            "doc_id",
            _bm25_expr(
                F.col("tf").cast("double"), _decode_norm(F.col("norm_id")),
                F.lit(float(avgdl)), F.lit(float(dfs[terms[0]])), F.lit(float(n)),
            ).alias("score"),
        )

    # k-way positional intersection: shift each term's positions back by its
    # offset; a phrase occurrence is a position present in every shifted list.
    slop = getattr(node, "slop", 0)
    parts = []
    for i, t in enumerate(terms):
        shift = 0 if slop else i
        part = (
            ctx.postings.where((F.col("field") == node.field) & (F.col("term") == t))
            .select(
                "doc_id",
                F.transform(F.col("positions"), lambda x: x - F.lit(shift)).alias(f"pos_{i}"),
                *( [F.col("norm_id")] if i == 0 else [] ),
            )
        )
        parts.append(part)
    joined = parts[0]
    for i in range(1, len(parts)):
        joined = joined.join(parts[i], "doc_id")
    if slop:
        joined = joined.select(
            "doc_id", "norm_id",
            _slop_phrase_tf(len(terms), slop).alias("phrase_tf"),
        ).where(F.col("phrase_tf") > 0)
    else:
        inter = F.col("pos_0")
        for i in range(1, len(terms)):
            inter = F.array_intersect(inter, F.col(f"pos_{i}"))
        joined = joined.select(
            "doc_id", "norm_id", F.size(inter).alias("phrase_tf")
        ).where(F.col("phrase_tf") > 0)

    # summed idf over ALL phrase terms INCLUDING repeats (Tantivy's
    # Bm25Weight::for_terms sums per occurrence), phrase frequency as tf
    idf_sum = sum(scoring.idf(dfs[t], n) for t in terms)
    tf = F.col("phrase_tf").cast("double")
    norm = scoring.K1 * (
        1.0 - scoring.B + scoring.B * _decode_norm(F.col("norm_id")) / F.lit(float(avgdl))
    )
    return joined.select(
        "doc_id",
        (F.lit(idf_sum) * (scoring.K1 + 1.0) * tf / (tf + norm)).alias("score"),
    )


def _slop_phrase_tf(n_terms: int, slop: int):
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

    def _window(p):
        # single-arg lambda (a 2-arg callable would get (element, INDEX))
        return lambda x: (x > p) & (x <= p + 1 + slop)

    reach = F.transform(
        F.col("pos_0"), lambda s: F.filter(F.col("pos_1"), _window(s))
    )
    for i in range(2, n_terms):
        pos_i = F.col(f"pos_{i}")
        reach = F.transform(
            reach,
            lambda prev: F.filter(
                pos_i,
                lambda x: F.exists(
                    prev, lambda p: (x > p) & (x <= p + 1 + slop)
                ),
            ),
        )
    return F.size(F.filter(reach, lambda r: F.size(r) > 0))


def _regex_phrase(node: P.RegexPhrase, ctx: SearchContext) -> DataFrame:
    """Tantivy RegexPhraseQuery (plan.RegexPhrase docstring): per position,
    the matching dictionary slice expands (capped, term-ordered — the
    fst-seek shape _phrase_prefix uses for its one expanding position,
    generalized to every position), its postings' position lists union per
    doc via ONE flatten agg, and the standard adjacency intersection /
    reachable-set slop DP runs over the unioned lists. Constant 1.0."""
    k = len(node.patterns)
    if k == 0:
        return ctx.docs.sparkSession.createDataFrame([], RESULT_SCHEMA)
    parts = []
    for i, pat in enumerate(node.patterns):
        exp = [
            r["term"]
            for r in (
                ctx.dictionary.where(
                    (F.col("field") == node.field)
                    & F.col("term").rlike("^(?:" + pat + ")$")
                )
                .select("term").distinct()
                .orderBy("term").limit(node.max_expansions).collect()
            )
        ]
        if not exp:
            return ctx.docs.sparkSession.createDataFrame([], RESULT_SCHEMA)
        shift = 0 if node.slop else i
        parts.append(
            ctx.postings.where(
                (F.col("field") == node.field) & F.col("term").isin(exp)
            )
            .select(
                "doc_id",
                F.transform(
                    F.col("positions"), lambda x: x - F.lit(shift)
                ).alias("__pe"),
            )
            .groupBy("doc_id")
            .agg(F.flatten(F.collect_list("__pe")).alias(f"pos_{i}"))
        )
    joined = parts[0]
    for p in parts[1:]:
        joined = joined.join(p, "doc_id")
    if k == 1:
        cond = F.size("pos_0") > 0
    elif node.slop:
        cond = _slop_phrase_tf(k, node.slop) > 0
    else:
        inter = F.col("pos_0")
        for i in range(1, k):
            inter = F.array_intersect(inter, F.col(f"pos_{i}"))
        cond = F.size(inter) > 0
    return joined.where(cond).select("doc_id", F.lit(1.0).alias("score"))


def _phrase_prefix(node: P.PhrasePrefix, ctx: SearchContext) -> DataFrame:
    """Search-as-you-type: fixed terms adjacent, then ANY of the first
    ``max_expansions`` dictionary terms (term order) with the prefix at the
    next position. Constant score 1.0 like the other expansion queries.

    The expansion collect is bounded by max_expansions (<=50 default) over
    the pushdown-pruned dictionary slice — the fst-seek shape, never a
    corpus scan; per-doc expansion positions union via ONE flatten agg
    bounded by expansions-per-doc."""
    k = len(node.terms)
    exp = [
        r["term"]
        for r in (
            ctx.dictionary.where(
                (F.col("field") == node.field)
                & F.col("term").startswith(node.prefix)
            )
            .select("term").distinct()
            .orderBy("term").limit(node.max_expansions).collect()
        )
    ]
    if not exp:
        return ctx.docs.sparkSession.createDataFrame([], RESULT_SCHEMA)
    parts = []
    for i, t in enumerate(node.terms):
        parts.append(
            ctx.postings.where(
                (F.col("field") == node.field) & (F.col("term") == t)
            ).select(
                "doc_id",
                F.transform(F.col("positions"), lambda x: x - F.lit(i)).alias(f"pos_{i}"),
            )
        )
    exp_part = (
        ctx.postings.where(
            (F.col("field") == node.field) & F.col("term").isin(exp)
        )
        .select(
            "doc_id",
            F.transform(F.col("positions"), lambda x: x - F.lit(k)).alias("__pe"),
        )
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("__pe")).alias(f"pos_{k}"))
    )
    joined = parts[0]
    for p in parts[1:]:
        joined = joined.join(p, "doc_id")
    joined = joined.join(exp_part, "doc_id")
    inter = F.col("pos_0")
    for i in range(1, k + 1):
        inter = F.array_intersect(inter, F.col(f"pos_{i}"))
    return (
        joined.where(F.size(inter) > 0)
        .select("doc_id", F.lit(1.0).alias("score"))
    )


MAX_EXPANSION_LITERALS = 10_000


def _dict_expansion(
    ctx: SearchContext, field: str, term_predicate, cache_key=None,
) -> DataFrame:
    """Automaton-style queries (regex/prefix/fuzzy): enumerate matching
    dictionary terms, union their postings, constant score 1.0.

    Typical patterns match a tiny dictionary slice, which is collected and
    re-injected as an isin() literal so the postings scan gets *term-level
    Parquet pushdown* — the fst-dictionary-first strategy of the reference
    (README.md:274) rather than a full field scan. A pathological pattern
    (`.*`, one-letter prefix on a web-scale dictionary) could match millions
    of terms, so the collect is CAPPED: fetching MAX_EXPANSION_LITERALS+1
    rows detects overflow, and the fallback is a semi-join of the postings
    against the matched dictionary slice — fully distributed, no driver
    materialization (AQE picks broadcast vs shuffle by actual size)."""
    matched_df = (
        ctx.dictionary.where(F.col("field") == field)
        .where(term_predicate)
        .select("term")
        .distinct()
    )
    # memoize the capped head per plan node: the snapshot's dictionary is
    # immutable, so a repeated prefix/regex/fuzzy query must not re-run
    # the expansion job (the dominant fixed cost of a repeated smart query)
    head = ctx._expansion_cache.get(cache_key) if cache_key is not None else None
    if head is None:
        head = matched_df.limit(MAX_EXPANSION_LITERALS + 1).collect()
        if cache_key is not None:
            ctx._expansion_cache[cache_key] = head
    if not head:
        return ctx.docs.sparkSession.createDataFrame([], RESULT_SCHEMA)
    if len(head) <= MAX_EXPANSION_LITERALS:
        matched = [r["term"] for r in head]
        return (
            ctx.postings.where(
                (F.col("field") == field) & F.col("term").isin(matched)
            )
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(1.0).alias("score"))
        )
    return (
        ctx.postings.where(F.col("field") == field)
        .join(matched_df, "term", "left_semi")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(1.0).alias("score"))
    )


def _fuzzy(node: P.FuzzyTerm, ctx: SearchContext) -> DataFrame:
    """Levenshtein-with-transpositions (OSA) within ``distance``, matching
    FuzzyTermQuery::new(term, distance, true) (src/query.rs:58-77). Spark's
    builtin levenshtein() lacks transpositions, so candidates are length-band
    pruned JVM-side and the OSA distance runs as a vectorized pandas UDF over
    the (small) surviving dictionary slice.

    ``node.prefix`` is Tantivy's FuzzyTermQuery::new_prefix: a dictionary
    term matches when ANY of its prefixes is within ``distance`` of the
    query (typo-tolerant search-as-you-type). The same DP computes it —
    row i of the OSA table is OSA(query, term[:i]), so min over the final
    column is the best prefix distance; the length band keeps only the
    lower bound (a long term can still carry a close short prefix)."""
    query = node.term
    dist = node.distance
    osa = _osa_udf(query, node.prefix)
    band = F.length(F.col("term")) >= F.lit(len(query) - dist)
    if not node.prefix:
        band = band & (F.length(F.col("term")) <= F.lit(len(query) + dist))
    return _dict_expansion(
        ctx, node.field, band & (osa(F.col("term")) <= F.lit(dist)),
        cache_key=node,
    )


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


def _facet(node: P.Facet, ctx: SearchContext) -> DataFrame:
    """Facet = term query on the facet field's ancestor postings with
    tf=1, dl=avgdl=1 ⇒ score = idf(df, N) (SURVEY.md §2.5 note on Basic)."""
    n, _ = ctx.field_stats(node.field)
    df = ctx.term_dfs(node.field, [node.path])[node.path]
    p = ctx.postings.where(
        (F.col("field") == node.field) & (F.col("term") == node.path)
    ).select("doc_id")
    return p.select("doc_id", F.lit(scoring.idf(df, n)).alias("score"))


def top_k(
    result: DataFrame, ctx: SearchContext, limit: int = 10, offset: int = 0
) -> DataFrame:
    """Deterministic top-k: score desc, then id asc (the reference's heap tie
    order is incidental; ours is pinned). Compiles to TakeOrderedAndProject —
    per-partition partial top-k, no global sort. A non-zero ``offset``
    (pagination) stays inside the same operator: Spark's ordered
    offset+limit folds into TakeOrderedAndProject(offset=...), so page 100
    costs a partial top-(offset+limit), never a corpus sort."""
    out = result.join(ctx.id_map, "doc_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    if offset:
        out = out.offset(offset)
    return out.limit(limit).select("id", "score")


BATCH_SCHEMA = T.StructType(
    [
        T.StructField("query", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def batch_rank_prune(tagged: DataFrame, k: int) -> DataFrame:
    """Per-partition, per-query top-(k+ties) pre-filter for the batched
    search path: a shuffle-free prune keyed by query tag.

    A row whose own partition already holds >=k strictly-greater scores
    FOR ITS QUERY has global per-query rank >k, so dropping it cannot
    change the final row_number<=k set; rows tied with the local k-th
    score survive, so the (score desc, id asc) tie-break still sees every
    boundary candidate. Without this, the final Window.partitionBy(query)
    ranks each query's ENTIRE matched doc-set in one task (a negation
    matches ~the whole corpus); with it, each task forwards O(k) rows per
    query."""

    import numpy as np

    def prune(batches):
        best: pd.DataFrame | None = None
        for pdf in batches:
            cur = pdf if best is None else pd.concat((best, pdf))
            kept = []
            for _, g in cur.groupby("query", sort=False):
                if len(g) > k:
                    s = g["score"].to_numpy()
                    kth = np.partition(s, len(s) - k)[len(s) - k]
                    g = g[g["score"] >= kth]
                kept.append(g)
            best = pd.concat(kept) if kept else None
        if best is not None and len(best):
            yield best[["query", "doc_id", "score"]]

    return tagged.mapInPandas(prune, BATCH_SCHEMA)


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
    p = p.where(F.size(F.split(F.col("term"), "/")) == depth + 2)
    if matched is not None:
        p = p.join(matched.select("doc_id"), "doc_id", "left_semi")
    out = (
        p.groupBy(F.col("term").alias("path"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("path").asc())
    )
    return out.limit(k) if k is not None else out
