"""Nested aggregation requests (Tantivy aggregation module,
src/aggregation/mod.rs — the Elasticsearch-compatible request tree of
bucket aggregations carrying metric sub-aggregations).

The reference engine gets this tree via Tantivy's ``AggregationCollector``;
the Spark-first re-expression compiles the WHOLE request to ONE
DataFrame aggregation:

- every bucket level becomes a groupBy key expression (term column from
  the field-pruned postings scan, or a codegen'd floor()/timestamp bucket
  over the docs table's fast fields);
- every metric sub-aggregation becomes one more agg expression riding the
  SAME partial-aggregatable groupBy — counts and metrics share a single
  shuffle, there is never a per-bucket re-query or a window;
- ``range`` roots compile to a single global one-pass agg (one
  conditional expression set per range, overlap-safe), stack-unpivoted —
  zero shuffles keyed by bucket.

At 100 TB this matters: an ES-style nested request (terms → stats) over a
trillion postings is exactly one map-side-combined shuffle whose key
space is the bucket space, not the doc space.

Request shape (ES / Tantivy JSON, Python dicts)::

    {
      "langs": {
        "terms": {"field": "lang"},
        "aggs": {
          "chars": {"stats": {"field": "n_chars"}},
          "hosts": {"cardinality": {"field": "n_chars"}}
        }
      }
    }

Output is a FLAT DataFrame: one column per bucket level (named by the
aggregation name), ``doc_count``, then one column per metric (``stats``
expands to ``<name>_count/_min/_max/_sum/_avg``). Flat-over-nested is
deliberate: it is the shape a distributed engine can stream and a caller
can re-aggregate, and parent-bucket totals are one trivial groupBy away.

Scale-honest restrictions (each raises with guidance instead of silently
planning a window):

- ``size`` / ``order`` (top-N buckets; ES order by ``_count``, ``_key``
  or a metric's flat output column) are only supported on a SINGLE-level
  terms root — per-parent top-N inside a nested request would need a
  per-group rank; run a second request for the parents instead;
- metrics live at the DEEPEST bucket level; parent-level metrics are a
  second one-line ``aggregate()`` call;
- ``range`` roots take metrics but not nested buckets (the one-pass
  conditional form has no grouping key to nest under).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tantiny_spark.errors import UnsupportedField

BUCKET_KINDS = ("terms", "histogram", "date_histogram", "range", "composite")
METRIC_KINDS = (
    "avg", "min", "max", "sum", "value_count", "stats", "extended_stats",
    "cardinality",
)


def _split_spec(name: str, spec: dict):
    """Return (kind, params, sub_aggs) for one named aggregation node."""
    if not isinstance(spec, dict):
        raise ValueError(f"aggregation '{name}' must be a dict spec")
    kinds = [k for k in spec if k in BUCKET_KINDS + METRIC_KINDS]
    extra = [k for k in spec if k not in BUCKET_KINDS + METRIC_KINDS + ("aggs",)]
    if len(kinds) != 1 or extra:
        raise ValueError(
            f"aggregation '{name}' needs exactly one kind of "
            f"{BUCKET_KINDS + METRIC_KINDS}, got {sorted(spec)}"
        )
    return kinds[0], spec[kinds[0]], spec.get("aggs", {})


def _numeric_col(ix, field: str):
    if field not in (ix.schema.integer_fields + ix.schema.double_fields):
        raise UnsupportedField(field)
    return F.col(field).cast("double")


#: output-column suffixes for the multi-column metric kinds
_METRIC_SUFFIXES = {
    "stats": ("count", "min", "max", "sum", "avg"),
    "extended_stats": (
        "count", "min", "max", "sum", "avg", "variance", "std_deviation"
    ),
}


def _metric_raw(ix, kind: str, params: dict, cond=None) -> list:
    """UNALIASED agg expressions for one metric kind — the single source
    both the groupBy path (:func:`_metric_exprs`) and the range root's
    one-pass conditional form use; ``cond`` restricts the metric's input
    to rows inside one range bucket."""
    col = _numeric_col(ix, params["field"])
    if cond is not None:
        col = F.when(cond, col)
    if kind == "avg":
        return [F.round(F.avg(col), 6)]
    if kind == "min":
        return [F.min(col)]
    if kind == "max":
        return [F.max(col)]
    if kind == "sum":
        return [F.sum(col)]
    if kind == "value_count":
        return [F.count(col).cast("long")]
    if kind == "cardinality":
        agg = (
            F.approx_count_distinct(col, params.get("rsd", 0.05))
            if params.get("approx") else F.count_distinct(col)
        )
        return [agg.cast("long")]
    if kind == "stats":
        return [
            F.count(col).cast("long"), F.min(col), F.max(col), F.sum(col),
            F.round(F.avg(col), 6),
        ]
    if kind == "extended_stats":
        # ES/Tantivy ExtendedStats: POPULATION variance/std; rounded to 4
        # decimals (like host_stats' means) so cross-engine streaming-
        # moment arithmetic stays hash-comparable
        return [
            F.count(col).cast("long"), F.min(col), F.max(col), F.sum(col),
            F.round(F.avg(col), 6),
            F.round(F.var_pop(col), 4),
            F.round(F.stddev_pop(col), 4),
        ]
    raise ValueError(f"unknown metric kind {kind!r}")


def _metric_exprs(ix, name: str, kind: str, params: dict) -> list:
    """Aliased agg expressions for one metric sub-aggregation (column-
    naming contract in the module docstring)."""
    exprs = _metric_raw(ix, kind, params)
    if kind in _METRIC_SUFFIXES:
        return [
            e.alias(f"{name}_{s}")
            for e, s in zip(exprs, _METRIC_SUFFIXES[kind])
        ]
    return [exprs[0].alias(name)]


def _bucket_fields(ix, kind: str, params: dict) -> tuple:
    """(field, via_postings) for a bucket level, validating the field
    against the schema like the single-shot aggregations do."""
    field = params["field"]
    if kind == "terms":
        if field in (
            list(ix.schema.text_fields) + list(ix.schema.string_fields)
        ):
            return field, True
        if field in (
            ix.schema.integer_fields + ix.schema.double_fields
            + list(ix.schema.date_fields)
        ):
            return field, False
        raise UnsupportedField(field)
    if kind == "histogram":
        if field not in (ix.schema.integer_fields + ix.schema.double_fields):
            raise UnsupportedField(field)
    elif kind == "date_histogram":
        if field not in ix.schema.date_fields:
            raise UnsupportedField(field)
    return field, False


def _bucket_key(kind: str, params: dict, out_name: str):
    """Key expression over the base relation for a non-postings bucket.
    Postings buckets are handled at base-build time (the term column is
    projected straight off the field-pruned postings scan)."""
    field = params["field"]
    if kind == "terms":
        col = F.col(field)
        if "missing" in params:  # ES: bucket null values under a literal
            col = F.coalesce(col, F.lit(params["missing"]))
        return col.alias(out_name)
    if kind == "histogram":
        interval = float(params["interval"])
        if interval <= 0:
            raise ValueError("interval must be > 0")
        val = F.col(field).cast("double")
        return (F.floor(val / F.lit(interval)) * F.lit(interval)).alias(out_name)
    if kind == "date_histogram":
        interval = float(params["interval_sec"])
        if interval <= 0:
            raise ValueError("interval_sec must be > 0")
        val = F.col(field).cast("long").cast("double")
        return F.timestamp_seconds(
            (F.floor(val / F.lit(interval)) * F.lit(interval)).cast("long")
        ).alias(out_name)
    raise ValueError(f"unknown bucket kind {kind!r}")


def _range_root_build(ix, name, ranges, metrics, docs, col) -> DataFrame:
    """Range root with metrics: ONE global one-pass conditional agg
    (overlap-safe — a doc feeds every range containing it), then a
    constant-size stack unpivot. Mirrors Index.range_agg and extends it
    with per-range metric expressions riding the same single pass."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    aggs, tuples, out_cols = [], [], []
    # metric output column names (shared across ranges)
    mcols = []
    for mname, mkind, mparams in metrics:
        if mkind in _METRIC_SUFFIXES:
            mcols += [f"{mname}_{s}" for s in _METRIC_SUFFIXES[mkind]]
        else:
            mcols.append(mname)
    for i, r in enumerate(ranges):
        lo, hi = r.get("from"), r.get("to")
        cond = col.isNotNull()
        if lo is not None:
            cond = cond & (col >= float(lo))
        if hi is not None:
            cond = cond & (col < float(hi))
        aggs.append(
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
            .cast("long").alias(f"__c{i}")
        )
        cells = [f"__c{i}"]
        j = 0
        for mname, mkind, mparams in metrics:
            exprs = _metric_raw(ix, mkind, mparams, cond=cond)
            for e in exprs:
                alias = f"__m{i}_{j}"
                aggs.append(e.alias(alias))
                cells.append(alias)
                j += 1
        key = (f"{'*' if lo is None else float(lo)}-"
               f"{'*' if hi is None else float(hi)}")
        tuples.append(f"'{key}', " + ", ".join(cells))
    row = docs.agg(*aggs)
    cols = ", ".join([name, "doc_count"] + mcols)
    return row.selectExpr(
        f"stack({len(ranges)}, {', '.join(tuples)}) AS ({cols})"
    )


def _top_hits_build(
    ix, root_name, root_kind, root_params, hits_params, matched,
) -> DataFrame:
    """Per-bucket top documents (Tantivy TopHitsAggregation,
    src/aggregation/metric/top_hits.rs; ES top_hits): for every bucket of
    the root aggregation, the top ``size`` docs by a fast-field ``sort``,
    optionally skipping ``from`` hits and carrying extra
    ``docvalue_fields``.

    Scale shape — per-bucket top-k WITHOUT ranking whole buckets: the
    base relation is (bucket key, id, sort + docvalue columns),
    column-pruned and semi-joined to the matched set, and ONE row_number
    window over (bucket; sort value, id asc) keeps ranks ``from+1 ..
    from+size``. Spark plans the per-bucket prune itself: a Partial
    WindowGroupLimit keeps each partition's ``from+size`` best rows per
    bucket below the exchange on the bucket key, so the window ranks at
    most partitions·(from+size) rows per bucket — parallel across
    buckets, never a corpus-wide sort. Spark inserts it only while
    ``from+size`` is at most
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000);
    above that, each bucket is ranked whole.

    Output: (root_name, hit_rank, id, <sort field>, <docvalue fields...>),
    ordered by (bucket asc, hit_rank asc); hit_rank is the 1-based rank
    within the bucket (absolute, so ``from`` pages keep their rank).
    """
    from pyspark.sql import Window

    size = int(hits_params.get("size", 3))
    from_ = int(hits_params.get("from", 0))
    if size < 1 or from_ < 0:
        raise ValueError("top_hits needs size >= 1 and from >= 0")
    sort = hits_params.get("sort")
    if not (isinstance(sort, list) and len(sort) == 1
            and isinstance(sort[0], dict) and len(sort[0]) == 1):
        raise ValueError(
            'top_hits sort must be [{field: "asc"|"desc"}] — exactly one '
            "fast-field sort key (ties always break to doc id asc)"
        )
    (sort_field, dirn), = sort[0].items()
    if dirn not in ("asc", "desc"):
        raise ValueError(f"sort direction must be asc/desc, got {dirn!r}")
    _numeric_col(ix, sort_field)  # validates it's a numeric fast field
    docvalues = list(hits_params.get("docvalue_fields", []))
    for f in docvalues:
        if f != sort_field:
            _numeric_col(ix, f)

    field, via_postings = _bucket_fields(ix, root_kind, root_params)
    doc_cols = sorted({sort_field, *docvalues})
    # the root agg name becomes the bucket-key OUTPUT column: reject names
    # that would shadow a needed column (silently ranking by the bucket
    # key, or colliding with the id join / rank column)
    if root_name in {"id", "hit_rank", "doc_id", *doc_cols}:
        raise ValueError(
            f"top_hits root aggregation name {root_name!r} collides with "
            f"an output/sort column — rename the aggregation"
        )
    base = ix.ctx.docs.select("doc_id", *doc_cols)
    if matched is not None:
        base = base.join(matched, "doc_id", "left_semi")
    if via_postings:
        if "missing" in root_params:
            raise ValueError(
                "missing= applies to value-field terms only (see aggregate)"
            )
        posts = (
            ix.ctx.postings.where(F.col("field") == field)
            .select("doc_id", F.col("term").alias(root_name))
        )
        base = base.join(posts, "doc_id")
    else:
        base = base.withColumn(
            root_name, _bucket_key(root_kind, root_params, root_name)
        )
    # Tantivy fast-field collectors skip docs missing the sort value or
    # the bucket key (no null bucket)
    base = base.where(
        F.col(root_name).isNotNull() & F.col(sort_field).isNotNull()
    )
    # ties break on the EXTERNAL id string asc — the engine's pinned tie
    # order everywhere (search_df/search_by_field), and the one an oracle
    # can replay (internal doc_ids are a per-segment rank)
    base = base.join(ix.ctx.id_map, "doc_id").drop("doc_id")

    keep_n = from_ + size
    order = (
        F.col(sort_field).asc() if dirn == "asc" else F.col(sort_field).desc()
    )
    w = Window.partitionBy(root_name).orderBy(order, F.col("id").asc())
    ranked = base.withColumn(
        "hit_rank", F.row_number().over(w).cast("long")
    ).where((F.col("hit_rank") > from_) & (F.col("hit_rank") <= keep_n))
    out_cols = [root_name, "hit_rank", "id", sort_field]
    out_cols += [f for f in docvalues if f != sort_field]
    return ranked.select(*out_cols).orderBy(
        F.col(root_name).asc(), F.col("hit_rank").asc()
    )


def _build_base(ix, levels, metrics, matched: DataFrame | None):
    """Shared base-relation construction for the groupBy and composite
    paths: doc_id + a postings term column per indexed-terms level +
    codegen'd key expressions over the column-pruned docs scan. The
    matched semi-join is applied exactly once; key columns from value
    fields are null-filtered (no null bucket — Tantivy's fast-field
    collector contract; postings terms are non-null by construction).
    Returns the base DataFrame with one column per level name."""
    doc_fields = {p["field"] for _, _, p in metrics}
    postings_levels, key_exprs = [], []
    for name, kind, params in levels:
        field, via_postings = _bucket_fields(ix, kind, params)
        if via_postings:
            if "missing" in params:
                raise ValueError(
                    "missing= applies to value-field terms only: indexed "
                    "text/string buckets come from the postings scan, "
                    "which has no entry for a docless field"
                )
            postings_levels.append((name, field))
        else:
            doc_fields.add(field)
            key_exprs.append((name, kind, params))
    base = None
    if doc_fields:
        base = ix.ctx.docs.select("doc_id", *sorted(doc_fields))
        if matched is not None:
            base = base.join(matched, "doc_id", "left_semi")
            matched = None
    for name, field in postings_levels:
        posts = (
            ix.ctx.postings.where(F.col("field") == field)
            .select("doc_id", F.col("term").alias(name))
        )
        if base is None:
            base = posts
            if matched is not None:
                base = base.join(matched, "doc_id", "left_semi")
                matched = None  # applied once; joins below carry it
        else:
            base = base.join(posts, "doc_id")
    if base is None:
        raise ValueError("request resolved to no bucket keys")
    for name, kind, params in key_exprs:
        base = base.withColumn(name, _bucket_key(kind, params, name))
        base = base.where(F.col(name).isNotNull())
    return base


def _composite_build(
    ix, params: dict, metrics: list, matched: DataFrame | None,
) -> DataFrame:
    """ES ``composite`` aggregation — THE scalable pagination primitive
    for unbounded bucket cardinality (billions of (host, hour) buckets at
    100 TB): buckets stream in key-tuple-asc order, ``size`` at a time,
    resumable via an ``after`` cursor (the previous page's last key).

    Request params: ``sources`` (list of single-entry dicts, each naming
    one terms / histogram / date_histogram source), ``size`` (page size,
    default 10), ``after`` ({source_name: last_key_value} cursor, or
    None for the first page).

    Scale shape: the ``after`` cursor compiles to a lexicographic
    key-tuple predicate applied BELOW the groupBy — rows belonging to
    already-paged buckets never enter the aggregation (the Spark analog
    of ES's index-sorted early termination) — then ONE partial-
    aggregatable groupBy and a TakeOrdered(size) over the surviving
    buckets. Page N costs what page 1 costs; no state accumulates.
    Buckets with a null source key are omitted (ES composite's default;
    ``missing_bucket`` is not supported)."""
    sources = params.get("sources")
    if not isinstance(sources, list) or not sources:
        raise ValueError("composite needs a non-empty sources list")
    if len(sources) > 4:
        raise ValueError("composite supports at most 4 sources")
    size = int(params.get("size", 10))
    if size < 1:
        raise ValueError("composite size must be >= 1")
    levels = []
    for src in sources:
        if not (isinstance(src, dict) and len(src) == 1):
            raise ValueError(
                "each composite source is one {name: {kind: params}} dict"
            )
        (name, spec), = src.items()
        kind, sparams, sub = _split_spec(name, spec)
        if kind not in ("terms", "histogram", "date_histogram") or sub:
            raise ValueError(
                f"composite source '{name}' must be a plain "
                "terms/histogram/date_histogram source"
            )
        # fail loud on ES source knobs this build does not implement —
        # silently dropping 'order'/'missing_bucket' would return
        # different buckets than the caller asked for
        known = {
            "terms": {"field", "missing"},
            "histogram": {"field", "interval"},
            "date_histogram": {"field", "interval_sec"},
        }[kind]
        extra = set(sparams) - known
        if extra:
            raise ValueError(
                f"composite source '{name}' has unsupported params "
                f"{sorted(extra)} (per-source order/missing_bucket are "
                "not implemented; buckets stream key-tuple-asc, null "
                "keys are omitted)"
            )
        levels.append((name, kind, sparams))
    names = [n for n, _, _ in levels]
    if len(set(names)) != len(names):
        raise ValueError("composite source names must be unique")

    base = _build_base(ix, levels, metrics, matched)

    after = params.get("after")
    if after is not None:
        if set(after) != set(names):
            raise ValueError(
                f"after cursor must carry exactly the source names "
                f"{names}, got {sorted(after)}"
            )
        types = dict(base.dtypes)
        # strict lexicographic key-tuple > cursor, pushed below the groupBy
        cond, eq = F.lit(False), F.lit(True)
        for name in names:
            lit = F.lit(after[name]).cast(types[name])
            cond = cond | (eq & (F.col(name) > lit))
            eq = eq & (F.col(name) == lit)
        base = base.where(cond)

    agg_exprs = [F.count(F.lit(1)).cast("long").alias("doc_count")]
    for mname, mkind, mparams in metrics:
        agg_exprs += _metric_exprs(ix, mname, mkind, mparams)
    return (
        base.groupBy(*names)
        .agg(*agg_exprs)
        .orderBy(*[F.col(n).asc() for n in names])
        .limit(size)
    )


def aggregate(ix, request: dict, query=None, **smart_opts) -> DataFrame:
    """Compile one ES/Tantivy-style aggregation request (module docstring)
    against ``ix``'s live snapshot, optionally restricted to the docs
    matching ``query``."""
    if not isinstance(request, dict) or len(request) != 1:
        raise ValueError("request must contain exactly one root aggregation")
    (root_name, root_spec), = request.items()
    root_kind, root_params, root_sub = _split_spec(root_name, root_spec)
    if root_kind in METRIC_KINDS:
        raise ValueError(
            f"root '{root_name}' is a metric; for global metrics use "
            "stats_df/percentiles/cardinality, or wrap in a bucket agg"
        )

    # top_hits diverts to the per-bucket rank builder — it returns DOC rows
    # per bucket, which cannot ride the shared groupBy
    hits = {
        n: s for n, s in root_sub.items()
        if isinstance(s, dict) and "top_hits" in s
    }
    if hits:
        if len(root_sub) != 1:
            raise ValueError(
                "top_hits must be the only sub-aggregation of its bucket "
                "level — counts/metrics are one extra aggregate() call"
            )
        if root_kind in ("range", "composite"):
            raise ValueError(
                "top_hits lives under terms/histogram/date_histogram "
                "roots (range/composite roots have no single grouping "
                "key to rank within)"
            )
        (_h_name, h_spec), = hits.items()
        if set(h_spec) - {"top_hits"}:
            raise ValueError("top_hits cannot carry sub-aggs")
        if "size" in root_params or "order" in root_params:
            raise ValueError(
                "size/order (top-N buckets) under a top_hits request needs "
                "per-bucket counts beside the per-bucket rank — run a "
                "single-level terms request for the bucket top-N first, "
                "then top_hits filtered to those buckets"
            )
        return _top_hits_build(
            ix, root_name, root_kind, root_params, h_spec["top_hits"],
            ix._matched(query, smart_opts),
        )

    # split sub-aggs into metrics and (at most one) nested bucket
    def split_subs(subs: dict):
        metrics, nested = [], []
        for n, s in subs.items():
            k, p, deeper = _split_spec(n, s)
            if k in METRIC_KINDS:
                if deeper:
                    raise ValueError(f"metric '{n}' cannot carry sub-aggs")
                metrics.append((n, k, p))
            else:
                nested.append((n, k, p, deeper))
        if len(nested) > 1:
            raise ValueError(
                "at most one nested bucket aggregation per level"
            )
        return metrics, (nested[0] if nested else None)

    root_metrics, nested = split_subs(root_sub)

    if root_kind == "composite":
        if nested:
            raise ValueError(
                "composite roots take metric sub-aggs only — the sources "
                "list IS the (multi-)bucket key"
            )
        return _composite_build(
            ix, root_params, root_metrics, ix._matched(query, smart_opts)
        )

    if root_kind == "range":
        if nested:
            raise ValueError(
                "range roots take metric sub-aggs only; nest under "
                "terms/histogram instead"
            )
        return _range_root_build(
            ix, root_name, list(root_params["ranges"]), root_metrics,
            ix._matched_docs(query, smart_opts),
            _numeric_col(ix, root_params["field"]),
        )

    levels = [(root_name, root_kind, root_params)]
    metrics = root_metrics
    if nested:
        n_name, n_kind, n_params, n_sub = nested
        if metrics:
            raise ValueError(
                "metrics live at the deepest bucket level; compute "
                "parent-level metrics with a second aggregate() call"
            )
        if n_kind in ("range", "composite"):
            raise ValueError(f"{n_kind} buckets are root-only")
        n_metrics, deeper = split_subs(n_sub)
        if deeper:
            raise ValueError("bucket nesting is limited to two levels")
        levels.append((n_name, n_kind, n_params))
        metrics = n_metrics
    if any(
        ("size" in params or "order" in params)
        for _, k, params in levels if k == "terms"
    ) and len(levels) > 1:
        raise ValueError(
            "size/order (top-N buckets) needs a per-group rank inside a "
            "nested request — run a single-level terms request for the "
            "parents"
        )
    if any(
        ("size" in params or "order" in params)
        for _, k, params in levels if k != "terms"
    ):
        raise ValueError(
            "size/order (top-N buckets) is supported on terms roots only "
            "— histogram/date_histogram buckets are key-ordered; slice "
            "the result instead of passing size"
        )

    # ---- build the base relation (shared with the composite path):
    # doc_id + postings term columns + the docs-table columns the
    # keys/metrics read. The docs scan is column-pruned; a postings-only
    # request never touches the docs table.
    base = _build_base(ix, levels, metrics, ix._matched(query, smart_opts))
    # declared level order (root key first)
    keys = [name for name, _, _ in levels]

    agg_exprs = [F.count(F.lit(1)).alias("doc_count")]
    for mname, mkind, mparams in metrics:
        agg_exprs += _metric_exprs(ix, mname, mkind, mparams)
    out = base.groupBy(*keys).agg(*agg_exprs)

    root_params = levels[0][2]
    if len(levels) == 1 and levels[0][1] == "terms" and (
        "size" in root_params or "order" in root_params
    ):
        # ES terms ordering: by _count (default), _key, or a metric's flat
        # output column; ties always break to key asc (deterministic)
        order = root_params.get("order", {"_count": "desc"})
        if len(order) != 1:
            raise ValueError("order takes exactly one {column: direction}")
        (ocol, dirn), = order.items()
        if dirn not in ("asc", "desc"):
            raise ValueError(f"order direction must be asc/desc, got {dirn!r}")
        if ocol == "_count":
            col = F.col("doc_count")
        elif ocol == "_key":
            col = F.col(keys[0])
        elif ocol in out.columns:
            col = F.col(ocol)
        else:
            raise ValueError(
                f"order column {ocol!r} is not _count/_key or a metric "
                f"output column of {out.columns}"
            )
        out = out.orderBy(
            col.desc() if dirn == "desc" else col.asc(),
            F.col(keys[0]).asc(),
        )
        if "size" in root_params:
            out = out.limit(int(root_params["size"]))
        return out
    return out.orderBy(*[F.col(k).asc() for k in keys])
