"""Distributed inverted-index build — the write path.

The Spark-native equivalent of the reference's write pipeline
(lib/tantiny/index.rb:67-79 → src/index.rs:123-188): coerce fields per schema,
tokenize, and build the three index tables of one *segment*, plus its BM25
totals:

- ``docs``      doc_id, id, fast-field and facet columns, json sources with
                their token counts, and per text field a 1-byte quantized
                fieldnorm plus the token count
- ``postings``  (field, term, doc_id, tf, positions, norm_id), sorted by
                (field, term, doc_id) so Parquet row-group min/max stats prune
                term lookups — the columnar stand-in for Tantivy's posting
                lists + fieldnorm file
- ``dict``      (field, term, df) — the term dictionary, derived by the
                storage layer from the written postings
- BM25 totals  ``{"num_docs": n, "tokens": {field: total_tokens}}`` — a few
                numbers the storage layer keeps in the segment's manifest
                entry, not in a table (Tantivy's segment metadata), with
                the segment's one ``id_runs`` run: its doc-id range, over
                which doc_id order is id order, and its id range

Scale notes (the 100 TB story):
- doc_id assignment is a deterministic global rank of ``id`` computed with
  repartitionByRange + per-partition offsets — never
  monotonically_increasing_id (which is partition-layout-dependent and would
  break resume + rank identity). The analyzer runs on the same partitions,
  one doc-id range each, so ``docs`` is written in doc-id ranges and its
  row groups' doc_id min/max prune id lookups.
- the tf/positions aggregation keys on (field, term, doc_id) — high
  cardinality, so Zipfian head terms do NOT concentrate on one reducer; the
  dictionary count uses map-side partial aggregation.
- all per-row work is Arrow-batched pandas UDFs; everything else is built-in
  JVM expressions inside whole-stage codegen.
"""

from __future__ import annotations

import os
from typing import Optional

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from tantiny_spark.analysis.jsonpath import json_postings
from tantiny_spark.errors import TantinyError
from tantiny_spark.schema import IndexSchema

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
        T.StructField("norm_id", T.IntegerType(), True),
    ]
)


def bm25_totals(
    schema: IndexSchema, docs: DataFrame, doc_ids: tuple | None = None
) -> dict:
    """The BM25 totals of a set of per-doc rows carrying ``id`` and each
    text/json field's ``<field>__len``, in a segment's manifest-entry form
    ``{"num_docs": n, "tokens": {field: total_tokens}}``: ONE aggregation
    job for the doc count and every field's token total. String and facet
    fields count one token per doc. With ``doc_ids``, the (first, last)
    doc id of rows whose ``doc_id`` order is their ``id`` order (a
    build's), the same job also gives the entry's one id run, ``"id_runs":
    [[first, last, min id, max id]]`` (None when an id is null)."""
    agg_cols = [F.count("*").alias("__n")]
    if doc_ids is not None:
        agg_cols += [
            F.count("id").alias("__n_id"),
            F.min("id").alias("__min_id"), F.max("id").alias("__max_id"),
        ]
    for f in schema.text_fields + schema.json_fields:
        agg_cols.append(F.sum(F.col(f"{f}__len")).alias(f"__tot_{f}"))
    agg_row = docs.agg(*agg_cols).collect()[0]
    n_docs = int(agg_row["__n"])
    tokens = dict.fromkeys(schema.string_fields + schema.facet_fields, n_docs)
    for f in schema.text_fields + schema.json_fields:
        tokens[f] = int(agg_row[f"__tot_{f}"] or 0)
    out = {"num_docs": n_docs, "tokens": tokens}
    if doc_ids is not None:
        out["id_runs"] = (
            [[*doc_ids, agg_row["__min_id"], agg_row["__max_id"]]]
            if n_docs and agg_row["__n_id"] == n_docs else None
        )
    return out


def assign_doc_ids(
    df: DataFrame, order_col: str = "id", doc_id_base: int = 0,
    num_partitions: Optional[int] = None, cleanup: Optional[list] = None,
) -> DataFrame:
    """Deterministic, parallelism-invariant doc_id = doc_id_base + global rank
    of ``order_col``; duplicate keys get distinct consecutive ids.

    Two-pass pattern that scales to arbitrarily many partitions: range-
    repartition + sort by the key into a cache (the input's only read),
    count rows per partition (small driver collect: one long per
    partition), then stamp ids inside mapInPandas with the per-partition
    offset. The global order — hence every doc_id — depends only on the key
    ordering, not on partition boundaries, so local[8] and local[32] (or
    1000 executors) produce identical ids, and output partition p holds
    the p-th doc-id range. One partition starts no range-sampling job.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    arranged = df.repartitionByRange(
        num_partitions, F.col(order_col)
    ).sortWithinPartitions(order_col)
    arranged = arranged.cache()
    if cleanup is not None:
        # caller unpersists once the stamped output has been fully
        # consumed (long-running writers must not accumulate caches)
        cleanup.append(arranged)
    counts = (
        arranged.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    offsets = {}
    acc = doc_id_base
    for row in sorted(counts, key=lambda r: r["pid"]):
        offsets[row["pid"]] = acc
        acc += row["count"]
    offsets_b = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False)] + list(df.schema.fields)
    )

    def _stamp(batches):
        pid = TaskContext.get().partitionId()
        base = offsets_b.value.get(pid, 0)
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf.insert(0, "doc_id", range(base + seen, base + seen + len(pdf)))
            seen += len(pdf)
            yield pdf

    return arranged.mapInPandas(_stamp, out_schema)


DOC_SENTINEL = "__doc__"

# sizing targets for the two wide exchanges: ~100k docs per doc-id-sort
# partition (~120 MB of web text) and ~64 MB of staged parquet per postings
# sort partition (≈ 250-400 MB decompressed — sorts stay in memory)
DOCS_PER_PARTITION = 100_000
POSTINGS_BYTES_PER_PARTITION = 64 << 20
# lower bounds, applied as a CEILING on partition counts for small inputs:
# a 5k-doc build sliced 32 ways pays 32 Python-worker forks in the analyzer
# and writes 32-file tables that every downstream phase re-reads — pure
# scheduling overhead. Keep at least ~500 docs per doc-id (= analyzer)
# partition and ~2 MB of staged parquet per postings partition; large
# builds are unaffected (their data-based counts exceed the core count).
ANALYZER_MIN_DOCS_PER_PARTITION = 500
POSTINGS_MIN_BYTES_PER_PARTITION = 2 << 20


def _flat_stream_schema(schema: IndexSchema) -> T.StructType:
    """Union row schema for the single-pass analyzer stream: one 'doc' row
    per document (id + fast fields + per-text-field len/norm) and one 'post'
    row per (text field, term, doc)."""
    fields = [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), True),
        T.StructField("tf", T.IntegerType(), True),
        T.StructField("positions", T.ArrayType(T.IntegerType()), True),
        T.StructField("norm_id", T.IntegerType(), True),
        T.StructField("id", T.StringType(), True),
    ]
    for f in schema.string_fields:
        fields.append(T.StructField(f, T.StringType(), True))
    for f in schema.integer_fields:
        fields.append(T.StructField(f, T.LongType(), True))
    for f in schema.double_fields:
        fields.append(T.StructField(f, T.DoubleType(), True))
    for f in schema.date_fields:
        fields.append(T.StructField(f, T.TimestampType(), True))
    for f in schema.facet_fields:
        fields.append(T.StructField(f, T.StringType(), True))
    for f in schema.json_fields:
        fields.append(T.StructField(f, T.StringType(), True))
        fields.append(T.StructField(f"{f}__len", T.IntegerType(), True))
    for f in schema.text_fields:
        fields.append(T.StructField(f"{f}__len", T.IntegerType(), True))
        fields.append(T.StructField(f"{f}__norm", T.IntegerType(), True))
    return T.StructType(fields)


def docs_schema(schema: IndexSchema) -> T.StructType:
    """The ``docs`` table's columns and types, in the order build_segment
    writes them: doc_id, id, the fast-field and facet columns, each json
    source with its token count, and each text field's quantized fieldnorm
    with its token count. Readers pass it to ``spark.read``, so loading a
    segment infers nothing from its files."""
    stream = _flat_stream_schema(schema)
    names = ["doc_id", "id"] + (
        schema.string_fields + schema.integer_fields + schema.double_fields
        + schema.date_fields + schema.facet_fields
    )
    for f in schema.json_fields:
        names += [f, f"{f}__len"]
    for f in schema.text_fields:
        names += [f"{f}__norm", f"{f}__len"]
    return T.StructType([stream[n] for n in names])


def _flat_analyzer(schema: IndexSchema):
    """mapInPandas kernel: tokenize + doc-local posting construction with
    FLAT list building (no per-term dicts-of-dicts — ~2.5× less Python time
    than nested struct assembly, measured) emitting doc rows + post rows in
    one stream."""
    import numpy as np

    from tantiny_spark import scoring

    text_fields = list(schema.text_fields)
    json_fields = list(schema.json_fields)
    tokenizers = {
        f: schema.tokenizer_for(f) for f in text_fields + json_fields
    }
    fast_cols = (
        list(schema.string_fields) + list(schema.integer_fields)
        + list(schema.double_fields) + list(schema.date_fields)
        + list(schema.facet_fields)
    )
    norm_table = None
    ordered = [f.name for f in _flat_stream_schema(schema).fields]

    string_fields = list(schema.string_fields)
    facet_fields = list(schema.facet_fields)

    def _facet_ancestors(value: str) -> list:
        # split on '/', drop empty parts, emit every '/'-prefixed prefix
        # (pinned by tests/test_index.py::test_facet_postings_terms). A
        # part-less value ('', '/', '//') is the root: one '/' posting.
        parts = [p for p in value.split("/") if p]
        if not parts:
            return ["/"]
        return ["/" + "/".join(parts[: i + 1]) for i in range(len(parts))]

    def stream(batches):
        nonlocal norm_table
        if norm_table is None:
            norm_table = np.asarray(scoring.FIELDNORM_TABLE, dtype=np.int64)

        def finish_post(post: dict) -> pd.DataFrame:
            # fill the union-schema columns every post row leaves null
            post["id"] = None
            for c in fast_cols:
                post[c] = None
            for g in json_fields:
                post[g] = None
                post[f"{g}__len"] = None
            for g in text_fields:
                post[f"{g}__len"] = None
                post[f"{g}__norm"] = None
            return pd.DataFrame(post)

        for pdf in batches:
            n = len(pdf)
            doc_ids = pdf["doc_id"].to_numpy()
            doc_out = {
                "doc_id": doc_ids,
                "field": [DOC_SENTINEL] * n,
                "term": [None] * n,
                "tf": [None] * n,
                "positions": [None] * n,
                "norm_id": [None] * n,
                "id": pdf["id"],
            }
            for c in fast_cols:
                doc_out[c] = pdf[c]
            post_frames = []
            # json fields: path-expand every leaf into typed terms under the
            # field name (analysis/jsonpath.py); ONE fieldnorm per (doc,
            # field) — the quantized total text-token count — stamped on all
            # of the doc's posting rows, exactly like Tantivy's json
            # fieldnorm model
            for f in json_fields:
                p_doc, p_term, p_tf, p_pos, p_norm = [], [], [], [], []
                lens = np.zeros(n, dtype=np.int64)
                tokenizer = tokenizers[f]
                for row_i, raw in enumerate(pdf[f]):
                    if not isinstance(raw, str) or not raw:
                        continue
                    try:
                        acc, n_tok = json_postings(raw, tokenizer)
                    except (ValueError, TypeError) as e:
                        raise ValueError(
                            f"json field {f!r}, doc id "
                            f"{pdf['id'].iloc[row_i]!r}: {e}"
                        ) from e
                    lens[row_i] = n_tok
                    norm = int(
                        min(max(np.searchsorted(norm_table, n_tok, side="right") - 1, 0), 255)
                    )
                    did = doc_ids[row_i]
                    for t, ps in acc.items():
                        p_doc.append(did)
                        p_term.append(t)
                        p_tf.append(len(ps))
                        p_pos.append(ps)
                        p_norm.append(norm)
                doc_out[f] = pdf[f]
                doc_out[f"{f}__len"] = lens.astype("int32")
                if p_doc:
                    post_frames.append(
                        finish_post(
                            {
                                "doc_id": np.asarray(p_doc, dtype=np.int64),
                                "field": f,
                                "term": p_term,
                                "tf": np.asarray(p_tf, dtype=np.int32),
                                "positions": p_pos,
                                "norm_id": np.asarray(p_norm, dtype="int32"),
                            }
                        )
                    )
            for f in text_fields:
                terms_fn = tokenizers[f].terms
                p_doc, p_term, p_tf, p_pos = [], [], [], []
                lens = np.zeros(n, dtype=np.int64)
                post_counts = np.zeros(n, dtype=np.int64)
                for row_i, txt in enumerate(pdf[f]):
                    if not isinstance(txt, str):
                        continue
                    terms = terms_fn(txt)
                    lens[row_i] = len(terms)
                    acc: dict = {}
                    for i, t in enumerate(terms):
                        e = acc.get(t)
                        if e is None:
                            acc[t] = [i]
                        else:
                            e.append(i)
                    post_counts[row_i] = len(acc)
                    did = doc_ids[row_i]
                    for t, ps in acc.items():
                        p_doc.append(did)
                        p_term.append(t)
                        p_tf.append(len(ps))
                        p_pos.append(ps)
                norms = np.clip(
                    np.searchsorted(norm_table, lens, side="right") - 1, 0, 255
                ).astype("int32")
                doc_out[f"{f}__len"] = lens.astype("int32")
                doc_out[f"{f}__norm"] = norms
                if p_doc:
                    post_frames.append(
                        finish_post(
                            {
                                "doc_id": np.asarray(p_doc, dtype=np.int64),
                                "field": f,
                                "term": p_term,
                                "tf": np.asarray(p_tf, dtype=np.int32),
                                "positions": p_pos,
                                "norm_id": np.repeat(norms, post_counts).astype("int32"),
                            }
                        )
                    )
            # string / facet fields: one exact posting per value (facets: one
            # per ancestor path), emitted HERE so the postings job never has
            # to re-scan the doc rows and union them in (the union used to
            # cost the range sampler and the shuffle one extra pass each).
            # Semantics identical to the former JVM projection: tf=1,
            # positions=[0], norm_id=1 (dl=avgdl=1 ⇒ term score = idf).
            for f in string_fields:
                vals = pdf[f]
                mask = vals.notna().to_numpy()
                if mask.any():
                    k = int(mask.sum())
                    post_frames.append(
                        finish_post(
                            {
                                "doc_id": doc_ids[mask],
                                "field": f,
                                "term": list(vals[mask]),
                                "tf": np.ones(k, dtype=np.int32),
                                "positions": [[0]] * k,
                                "norm_id": np.ones(k, dtype=np.int32),
                            }
                        )
                    )
            for f in facet_fields:
                p_doc, p_term = [], []
                for did, v in zip(doc_ids, pdf[f]):
                    if not isinstance(v, str):  # null (None/NaN) facet value
                        continue
                    for anc in _facet_ancestors(v):
                        p_doc.append(did)
                        p_term.append(anc)
                if p_doc:
                    k = len(p_doc)
                    post_frames.append(
                        finish_post(
                            {
                                "doc_id": np.asarray(p_doc, dtype=np.int64),
                                "field": f,
                                "term": p_term,
                                "tf": np.ones(k, dtype=np.int32),
                                "positions": [[0]] * k,
                                "norm_id": np.ones(k, dtype=np.int32),
                            }
                        )
                    )
            yield pd.DataFrame(doc_out)[ordered]
            for frame in post_frames:
                yield frame[ordered]

    return stream


def build_segment(
    spark: SparkSession,
    source: DataFrame,
    schema: IndexSchema,
    doc_id_base: int = 0,
    *,
    work_dir: str,
) -> dict:
    """Run the full build pipeline over ``source`` (one column per schema
    field, id column named per schema.id_field). Returns the segment tables.
    Pure transformation — the caller (storage layer) commits.

    ``work_dir``: staging directory for the materialize-then-derive pattern —
    the analyzed rows land in Parquet once (the tokenizer's single pass) and
    every derived table reads the columnar files back (column-pruned,
    JVM-only). The caller deletes it once the tables are written. The
    ``dict`` is not built here: the storage layer derives it from the
    written postings files (see storage.write_segment)."""
    sid = schema.id_field
    cols = [F.col(sid).cast("string").alias("id")]
    for f in schema.string_fields:
        cols.append(F.col(f).cast("string").alias(f))
    for f in schema.integer_fields:
        cols.append(F.col(f).cast("long").alias(f))
    for f in schema.double_fields:
        cols.append(F.col(f).cast("double").alias(f))
    for f in schema.date_fields:
        cols.append(F.col(f).cast("timestamp").alias(f))
    for f in schema.facet_fields:
        cols.append(F.col(f).cast("string").alias(f))
    for f in schema.json_fields:
        # complex Spark types (struct/map/array) serialize via to_json so
        # callers can pass structured columns directly; strings pass through
        dtype = dict(source.dtypes).get(f, "string")
        if dtype.startswith(("struct", "map", "array")):
            cols.append(F.to_json(F.col(f)).alias(f))
        else:
            cols.append(F.col(f).cast("string").alias(f))
    for f in schema.text_fields:
        cols.append(F.col(f).cast("string").alias(f))

    projected = source.select(*cols)
    # Size the wide exchanges to the DATA, not defaultParallelism: at 8
    # shuffle partitions a 1.5M-doc build spills its sorts to disk and the
    # build goes super-linear (measured: postings sort 4.3s at 100k docs but
    # 139s at 1.5M before this fix). One cheap count scan prices the doc-id
    # exchange; the postings exchange is priced from the staged file bytes.
    n_input = projected.count()
    # one doc-id range per partition, and the analyzer runs on the same
    # partitions: ~DOCS_PER_PARTITION docs each and at least one partition
    # per core, but at least ~ANALYZER_MIN_DOCS_PER_PARTITION docs each, so
    # a build under that many docs is one partition (no range-sampling job)
    num_partitions = min(
        max(
            spark.sparkContext.defaultParallelism,
            n_input // DOCS_PER_PARTITION + 1,
        ),
        n_input // ANALYZER_MIN_DOCS_PER_PARTITION + 1,
    )
    # Guard against an under-partitioned source (one giant file, a narrow
    # explode, a fresh createDataFrame): the doc-id range exchange runs a
    # sampling pass AND a shuffle-map pass over the FULL input lineage, and
    # with K source partitions both passes run at parallelism K no matter
    # how many cores the cluster has — a 1-file source serializes the whole
    # corpus-side compute (measured: 2×~30 s single-task stages on a 500k-doc
    # bench input). One round-robin shuffle here makes every downstream pass
    # data-parallel; real 100 TB inputs have thousands of splits and skip it.
    if n_input > DOCS_PER_PARTITION and projected.rdd.getNumPartitions() < min(
        num_partitions, spark.sparkContext.defaultParallelism
    ):
        projected = projected.repartition(num_partitions)
    cached: list = []
    staged_path = os.path.join(work_dir, "analyzed")
    try:
        with_ids = assign_doc_ids(
            projected, "id", doc_id_base, num_partitions, cleanup=cached
        )
        stream_df = with_ids.mapInPandas(
            _flat_analyzer(schema), _flat_stream_schema(schema)
        )
        stream_df.write.mode("overwrite").parquet(staged_path)
    finally:
        # the staging write was the single pass over the tokenizer; the
        # doc-id-ordered input cache has no further consumers, and a failed
        # write must not leave it behind either
        for c in cached:
            c.unpersist()
    staged = spark.read.parquet(staged_path)

    doc_rows = staged.where(F.col("field") == DOC_SENTINEL)

    # --- docs table -------------------------------------------------------
    docs = doc_rows.select(*docs_schema(schema).fieldNames())

    # --- postings ----------------------------------------------------------
    # string/facet postings are emitted by the analyzer itself (tf=1,
    # positions=[0], norm_id=1 — single exact case-sensitive term, no norms,
    # src/index.rs:78-80; facets: one posting per ancestor path), so the
    # whole postings input is ONE filter of the staged stream — the former
    # doc-rows re-scan + union cost the range sampler and the shuffle one
    # extra pass of the staged files each.
    postings = staged.where(F.col("field") != DOC_SENTINEL).select(
        "field", "term", "doc_id", "tf", "positions", "norm_id"
    )

    # sorted layout: term lookups prune via Parquet min/max; doc_id in the
    # range key splits Zipfian head terms across partitions instead of
    # concentrating them (skew handling, SURVEY.md §4). The range sampler and
    # the real pass each re-scan the explode — a cheap column-pruned read of
    # the staged analyzed Parquet. Partition count scales with the staged
    # bytes so each partition's sort fits in memory at any corpus size.
    staged_bytes = 0
    for root, _, files in os.walk(staged_path):
        for f in files:
            if f.endswith(".parquet"):
                staged_bytes += os.path.getsize(os.path.join(root, f))
    n_post_parts = max(
        spark.sparkContext.defaultParallelism, 2,
        (staged_bytes // POSTINGS_BYTES_PER_PARTITION) + 1,
    )
    # small-input ceiling: don't range-shuffle a few MB of postings into a
    # partition per core — each downstream phase (dict, stored reads) pays
    # per-partition overhead
    n_post_parts = max(
        2,
        min(n_post_parts, (staged_bytes // POSTINGS_MIN_BYTES_PER_PARTITION) + 1),
    )
    postings = postings.repartitionByRange(
        n_post_parts, "field", "term", "doc_id"
    ).sortWithinPartitions("field", "term", "doc_id")

    # stats: one aggregation job for every field's token totals, the doc
    # count and the segment's one id run (assign_doc_ids stamps doc_id =
    # base + rank(id), so doc_id order is id order), for the segment's
    # manifest entry — DEFERRED (0-arg callable) so
    # storage.write_segment runs it concurrently with the docs/postings
    # writes instead of as a serial barrier between staging and the table
    # writes. The doc count itself is n_input (the analyzer emits exactly
    # one doc row per input row), so the commit path never waits on this
    # job.
    def stats():
        # the job counts the stamped doc rows anyway, so checking them
        # against n_input costs nothing: the count and the doc-id
        # assignment read the input separately, and an input that yields
        # another row count on each read (a source whose files changed in
        # between, a filter on a nondeterministic UDF) must fail the write
        # before the commit, not record n_input
        totals = bm25_totals(
            schema, doc_rows, (doc_id_base, doc_id_base + n_input - 1)
        )
        n_stamped = totals["num_docs"]
        if n_stamped != n_input:
            raise TantinyError(
                f"build stamped {n_stamped} documents for {n_input} input "
                "rows: the input must yield the same rows each time it is "
                "read (the build counts it before it assigns doc ids)"
            )
        return totals

    return {
        "docs": docs,
        "postings": postings,
        "stats": stats,
        "n_docs": n_input,  # one doc row per input row, counted up front
    }
