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
- doc_id is a deterministic global rank of ``id``, assigned in the one
  Python pass over the input: the input is range-partitioned and sorted by
  ``id``, the analyzer numbers each partition's docs as it reads them, and
  one aggregation of the staged doc rows per partition gives each
  partition's offset — never monotonically_increasing_id (which is
  partition-layout-dependent and would break resume + rank identity).
  Nothing is cached. Each analyzer partition is one doc-id range, so
  ``docs`` is written in doc-id ranges and its row groups' doc_id min/max
  prune id lookups.
- the tf/positions aggregation keys on (field, term, doc_id) — high
  cardinality, so Zipfian head terms do NOT concentrate on one reducer; the
  dictionary count uses map-side partial aggregation.
- all per-row work is Arrow-batched pandas UDFs; everything else is built-in
  JVM expressions inside whole-stage codegen.
"""

from __future__ import annotations

import os

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


def doc_aggregates(schema: IndexSchema, docs: DataFrame, *by: str) -> list:
    """ONE aggregation job over per-doc rows carrying ``id`` and each
    text/json field's ``<field>__len``, grouped by ``by`` (no column: one
    row for all of them): the doc count ``__n``, the non-null id count
    ``__n_id``, the id range ``__min_id``/``__max_id`` and each field's
    token total ``__tot_<field>``."""
    return docs.groupBy(*by).agg(
        F.count("*").alias("__n"), F.count("id").alias("__n_id"),
        F.min("id").alias("__min_id"), F.max("id").alias("__max_id"),
        *(
            F.sum(F.col(f"{f}__len")).alias(f"__tot_{f}")
            for f in schema.text_fields + schema.json_fields
        ),
    ).collect()


def bm25_totals(schema: IndexSchema, rows: list) -> dict:
    """The BM25 totals of ``doc_aggregates`` rows, summed, in a segment's
    manifest-entry form ``{"num_docs": n, "tokens": {field:
    total_tokens}}``. String and facet fields count one token per doc."""
    n_docs = sum(r["__n"] for r in rows)
    tokens = dict.fromkeys(schema.string_fields + schema.facet_fields, n_docs)
    for f in schema.text_fields + schema.json_fields:
        tokens[f] = sum(int(r[f"__tot_{f}"] or 0) for r in rows)
    return {"num_docs": n_docs, "tokens": tokens}


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
    row per (text field, term, doc). ``doc_id`` is the doc's number inside
    its analyzer partition ``__part``."""
    fields = [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("__part", T.IntegerType(), False),
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
    one stream. It numbers the docs as it reads them, as Tantivy's writer
    does: ``doc_id`` counts the partition's rows across its batches from
    0, and every row carries the partition id in ``__part``."""
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
        part = TaskContext.get().partitionId()
        seen = 0

        def finish_post(post: dict) -> pd.DataFrame:
            # fill the union-schema columns every post row leaves null
            post["__part"] = part
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
            doc_ids = np.arange(seen, seen + n, dtype=np.int64)
            seen += n
            doc_out = {
                "doc_id": doc_ids,
                "__part": part,
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
    field, id column named per schema.id_field). Returns the segment tables,
    with ``stats`` returning the manifest-entry totals and id run, and
    ``n_docs``. Pure transformation — the caller (storage layer) commits.

    The input is read by one Python pass: range-partitioned and sorted by
    ``id``, then analyzed, the analyzer numbering each partition's docs from
    0. ``work_dir`` is the staging directory for the materialize-then-derive
    pattern — the analyzed rows land in Parquet once and every derived
    table reads the columnar files back (column-pruned, JVM-only). One
    aggregation of the staged doc rows per partition gives the partition
    offsets, the BM25 totals and the id run, and fails the build before any
    table is written when the input yielded another row count than its
    first read; docs and postings add the offsets by one broadcast join.
    The caller deletes ``work_dir`` once the tables are written. The
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
    # the input's one Python pass: the analyzer numbers each range
    # partition's docs from 0, straight into the staging write
    staged_path = os.path.join(work_dir, "analyzed")
    projected.repartitionByRange(num_partitions, "id").sortWithinPartitions(
        "id"
    ).mapInPandas(
        _flat_analyzer(schema), _flat_stream_schema(schema)
    ).write.mode("overwrite").parquet(staged_path)
    staged = spark.read.schema(_flat_stream_schema(schema)).parquet(staged_path)

    # one aggregation job over the staged doc rows per analyzer partition
    # gives every partition's offset, the BM25 totals and the segment's one
    # id run (doc_id = base + rank(id), so doc_id order is id order)
    parts = {
        r["__part"]: r for r in doc_aggregates(
            schema, staged.where(F.col("field") == DOC_SENTINEL), "__part"
        )
    }
    totals = bm25_totals(schema, list(parts.values()))
    if totals["num_docs"] != n_input:
        # an input that yields another row count on each read (a source
        # whose files changed in between, a filter on a nondeterministic
        # UDF) must fail the build before any table is written, not record
        # n_input
        raise TantinyError(
            f"build stamped {totals['num_docs']} documents for {n_input} "
            "input rows: the input must yield the same rows each time it is "
            "read (the build counts it before it assigns doc ids)"
        )
    totals["id_runs"] = (
        [[
            doc_id_base, doc_id_base + n_input - 1,
            min(r["__min_id"] for r in parts.values()),
            max(r["__max_id"] for r in parts.values()),
        ]]
        if n_input and all(r["__n_id"] == r["__n"] for r in parts.values())
        else None
    )
    # the offsets are a local relation, one SQL text (one JVM call), added
    # to every staged row by one broadcast join
    values, offset = [], doc_id_base
    for p in range(num_partitions):
        values.append(f"({p}, {offset}L)")
        offset += parts[p]["__n"] if p in parts else 0
    offsets = spark.sql(
        f"SELECT * FROM VALUES {', '.join(values)} AS t(__part, __base)"
    )
    staged = staged.join(F.broadcast(offsets), "__part").withColumn(
        "doc_id", F.col("doc_id") + F.col("__base")
    )

    # --- docs table -------------------------------------------------------
    docs = staged.where(F.col("field") == DOC_SENTINEL).select(
        *docs_schema(schema).fieldNames()
    )

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

    return {
        "docs": docs,
        "postings": postings,
        "stats": lambda: totals,
        "n_docs": n_input,  # one doc row per input row, counted up front
    }
