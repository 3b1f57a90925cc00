"""Snippet generation — Tantivy's ``SnippetGenerator`` re-expressed for a
store-nothing index.

The reference engine keeps no stored fields (search returns ids,
index.rb:87-94), so snippets join the top-k hits BACK to the source corpus
and fragment there — the Spark-first shape: the expensive side (the corpus)
is scanned once with the tiny hit set broadcast against it, never the other
way around.

Deterministic spec (a fragment-scored simplification of Tantivy
snippet.rs): the document's original whitespace-delimited words are cut
into non-overlapping ``window``-word fragments; a word matches when the
field tokenizer's analysis of that word intersects the query's term set
(for simple/stemmer tokenizers a word analyzes to <=1 term, so this equals
full-text analysis); the snippet is the fragment with the most matched
words, ties to the earliest fragment. Matching runs in a vectorized pandas
UDF over ONLY the <=limit hit rows — never the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from tantiny_spark import plan as P


def query_terms(node: P.Query, field: str) -> list:
    """The query's literal term set for ``field``: Term nodes plus Phrase
    tokens (expansion-style nodes — prefix/fuzzy/regex — highlight their
    literal form only when it is itself a term of the plan)."""
    out: set = set()

    def walk(n: P.Query):
        if isinstance(n, P.Term) and n.field == field:
            out.add(n.term)
        elif isinstance(n, P.Phrase) and n.field == field:
            out.update(n.terms)
        elif isinstance(n, P.PhrasePrefix) and n.field == field:
            out.update(n.terms)
        elif isinstance(n, P.TermSet) and n.field == field:
            out.update(n.terms)
        elif isinstance(n, P.Boost):
            walk(n.child)
        elif isinstance(n, (P.Conjunction, P.Disjunction, P.DisjunctionMax)):
            for c in n.children:
                walk(c)
        elif isinstance(n, P.ConstScore):
            walk(n.child)
        elif isinstance(n, P.BooleanOccur):
            # must_not terms never appear in the doc — don't highlight them
            for c in (*n.must, *n.should):
                walk(c)
        elif isinstance(n, P.Negation):
            walk(n.child)

    walk(node)
    return sorted(out)


def _match_flags_udf(tokenizer, qterms: list):
    qs = frozenset(qterms)

    def _flags(series: pd.Series) -> pd.Series:
        terms = tokenizer.terms
        return series.map(
            lambda ws: [bool(qs.intersection(terms(w))) for w in ws]
            if ws is not None else []
        )

    return F.pandas_udf(_flags, T.ArrayType(T.BooleanType()))


def snippets(
    index,
    query,
    source_df: DataFrame,
    field: str = "text",
    id_col: str = "id",
    window: int = 20,
    limit: int = 10,
    n_fragments: int = 1,
) -> DataFrame:
    """Top-``limit`` search + best-fragment snippet per hit.

    Returns (id, score, snippet, n_hits) where ``snippet`` is the
    best ``window``-word fragment of the hit's original text and
    ``n_hits`` counts matched words inside that fragment, both 0/empty
    when the scored doc contains no query term on ``field`` (negation-only
    matches, range filters).

    ``n_fragments > 1`` switches to the ES-highlight multi-fragment shape:
    (id, score, fragments, n_hits) where ``fragments`` is up to
    ``n_fragments`` matching (hits > 0) fragments — selected by
    (hits desc, position asc), returned in DOCUMENT order (ES's default) —
    and ``n_hits`` counts matched words across the returned fragments.
    The selection is a pure array aggregation (sort_array over the
    per-chunk structs), still no window function: the frame is bounded by
    the top-``limit`` hit set.

    Plan shape: search_df's top-k → broadcast-size hit set
    joined against the source corpus (id pushdown on the scan) → word
    windows and the (n_hits desc, fragment asc) argmax as ONE
    partial-aggregatable min-struct groupBy over the exploded words of the
    <=limit hit docs.
    """
    if n_fragments < 1:
        raise ValueError("n_fragments must be >= 1")
    plan = index._as_plan(query, {})
    qterms = query_terms(plan, field)
    tokenizer = index.schema.tokenizer_for(field)

    hits = index.search_df(query, limit=limit)
    src = source_df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(field).cast("string").alias("__text"),
    )
    docs = src.join(F.broadcast(hits), "id").select(
        "id", "score",
        F.filter(F.split(F.coalesce("__text", F.lit("")), r"\s+"),
                 lambda w: w != "").alias("__words"),
    )
    docs = docs.withColumn(
        "__flags", _match_flags_udf(tokenizer, qterms)(F.col("__words"))
    )
    ex = docs.select(
        "id", "score", "__words",
        F.posexplode_outer("__flags").alias("pos", "flag"),
    )
    per_chunk = (
        ex.groupBy("id", "score", "__words",
                   F.floor(F.col("pos") / window).alias("__chunk"))
        .agg(F.sum(F.col("flag").cast("int")).alias("__hits"))
    )
    if n_fragments > 1:
        agg = per_chunk.groupBy("id", "score", "__words").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("__hits")).alias("neg_hits"),
                        F.col("__chunk").alias("chunk"),
                    )
                )
            ).alias("__all")
        )
        # top-N matching chunks by (hits desc, position asc) ...
        sel = F.slice(
            F.filter(F.col("__all"), lambda c: c["neg_hits"] < 0),
            1, n_fragments,
        )
        n_hits = F.aggregate(
            sel, F.lit(0).cast("long"),
            lambda acc, c: acc - c["neg_hits"].cast("long"),
        )
        # ... emitted in document order (ES highlight default)
        chunks = F.array_sort(F.transform(sel, lambda c: c["chunk"]))
        frags = F.transform(
            chunks,
            lambda ch: F.array_join(
                F.slice(
                    F.col("__words"), (ch * window + 1).cast("int"), window
                ),
                " ",
            ),
        )
        return (
            agg.select(
                "id", "score",
                frags.alias("fragments"), n_hits.alias("n_hits"),
            )
            .orderBy(F.col("score").desc(), F.col("id").asc())
        )

    best = (
        per_chunk.groupBy("id", "score", "__words")
        .agg(
            F.min(
                F.struct(
                    (-F.col("__hits")).alias("neg_hits"),
                    F.col("__chunk").alias("chunk"),
                )
            ).alias("__b")
        )
        .select(
            "id", "score",
            F.array_join(
                F.slice(
                    "__words",
                    (F.col("__b.chunk") * window + 1).cast("int"),
                    window,
                ),
                " ",
            ).alias("snippet"),
            (-F.col("__b.neg_hits")).cast("long").alias("n_hits"),
        )
    )
    # zero-hit docs (negation-only matches, range filters, or no words at
    # all — the posexplode_outer null row) -> empty snippet, n_hits = 0,
    # exactly as the docstring promises (ADVICE r03: previously a worded
    # zero-hit doc leaked its first fragment)
    return best.withColumn(
        "n_hits", F.coalesce("n_hits", F.lit(0))
    ).withColumn(
        "snippet",
        F.when(F.col("n_hits") == 0, F.lit("")).otherwise(F.col("snippet")),
    ).orderBy(F.col("score").desc(), F.col("id").asc())
