"""Index lifecycle — the public API mirroring the reference's Index class.

Reference surface (/root/reference/lib/tantiny/index.rb, sig/tantiny/index.rbs):
``Index.new`` (create/open, S1), ``<<`` upsert (S2), ``delete`` (S3),
``transaction`` (S4), ``reload`` (S5), ``search`` (Q15), plus the query
constructor forwarding methods (index.rb:96-114 via Query::TYPES).

Differences by design (Spark-first, SURVEY.md §1.5):
- writes batch into one *segment build job* per transaction; a commit is one
  atomic manifest swap (Iceberg snapshot-commit in production);
- single-writer locking is a directory lockfile (the driver owns a build; a
  concurrent writer raises IndexWriterBusyError like index.rb:116-129);
- readers hold a pinned Snapshot until reload() — ReloadPolicy::Manual.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from tantiny_spark import plan as P
from tantiny_spark.build import bm25_totals, build_segment, doc_aggregates
from tantiny_spark.errors import (
    IndexWriterBusyError, UnexpectedNone, UnsupportedField,
)
from tantiny_spark.executor import compile_plan, prime_stats, top_k
from tantiny_spark.schema import SPARK_TYPES, IndexSchema
from tantiny_spark.storage import IndexStorage, Snapshot

DEFAULT_LIMIT = 10  # index.rb:7


def try_wand_topk(*_args, **_kwargs):
    """Retired top-k path: always None ("not taken"), and nothing in the
    library calls it. Term ORs score in one postings scan instead
    (executor._term_or). The name stays only because perfbench/tracing.py
    wraps it for ``--trace 1``; delete it together with that wrapper."""
    return None


class Index:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: IndexSchema | None = None,
        tokenizer=None,
        exclusive_writer: bool = False,
    ):
        """Mirrors Index.new(path, tokenizer:, exclusive_writer:, &schema)
        (sig/tantiny/index.rbs:7-22). ``tokenizer`` overrides the schema's
        default analyzer; ``exclusive_writer`` takes the writer lock for the
        life of this object (index.rb:36-43) — a second writer raises
        IndexWriterBusyError immediately. The reference's writer_memory knob
        has no analog: Spark's shuffle spill is the memory budget."""
        self.spark = spark
        # local<->JVM DataFrame creation must go through Arrow (LocalRelation),
        # not the per-row Python RDD path — runtime-settable session conf
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        self.storage = IndexStorage(path)
        version = self.storage.current_version()
        self.snapshot = Snapshot(spark, self.storage, version)
        persisted = self.snapshot.schema
        if persisted is not None:
            self.schema = persisted
        elif schema is not None:
            self.schema = schema
        else:
            raise UnexpectedNone("schema")
        if tokenizer is not None:
            self.schema.default_tokenizer = tokenizer
        self._ctx = None
        self._in_txn = False
        self._pending_ops: list = []  # ordered ('add', row) / ('del', id)
        # compiled-query LRU (Lucene QueryCache analog): queries (frozen
        # plan dataclasses or strings) → (query, smart options, limit,
        # offset, cursor) keys; a cache
        # hit returns the SAME DataFrame object, so Spark reuses the
        # already-analyzed/codegen'd QueryExecution — repeat queries pay
        # only physical execution (~40 ms vs ~450 ms at sf0.1, measured).
        # Invalidation: cleared on reload() together with the snapshot;
        # results over the immutable segment files cannot go stale sooner.
        self._query_cache: "OrderedDict" = OrderedDict()
        #: merge-cost telemetry of the LAST merge_segments/maybe_merge run
        #: by this writer (None until one runs): segments_before/after,
        #: tombstone entries dropped, live docs rewritten — the numbers
        #: behind any merge-policy read-amplification claim
        self.last_merge_stats: dict | None = None
        self._exclusive = exclusive_writer
        self._held_lock = False
        if exclusive_writer:
            self._acquire_lock()

    def _lock_path(self) -> str:
        return os.path.join(self.storage.path, "writer.lock")

    def _acquire_lock(self):
        try:
            fd = os.open(self._lock_path(), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
            self._held_lock = True
        except FileExistsError:
            raise IndexWriterBusyError("another writer holds the lock")

    def _release_lock(self):
        if self._held_lock:
            os.unlink(self._lock_path())
            self._held_lock = False

    @contextmanager
    def _writer_lock(self):
        """Hold the writer lock for the block (no-op when already held) —
        the one serialization point every manifest read-modify-write goes
        through: transactions, bulk add_dataframe, streaming foreachBatch
        commits and segment merges all converge here, so none of them can
        silently drop another's commit."""
        took = False
        if not self._held_lock:
            self._acquire_lock()
            took = True
        try:
            yield
        finally:
            if took:
                self._release_lock()

    def close(self):
        """Release an exclusive writer lock (if held)."""
        self._release_lock()

    # --- lifecycle ----------------------------------------------------------
    @staticmethod
    def new(spark: SparkSession, path: str, schema: IndexSchema) -> "Index":
        return Index(spark, path, schema)

    def reload(self, version: int | None = None) -> "Index":
        """Refresh the reader snapshot (index.rb:63-65). A snapshot caches
        no relation, so a streaming writer calling reload() per
        micro-batch accumulates none.

        ``version`` pins the reader to a HISTORICAL commit instead of HEAD —
        snapshot time travel (Iceberg ``VERSION AS OF`` / Lucene commit
        points). Every manifest version stays on disk until
        :meth:`expire_snapshots` removes it, and segment files are immutable,
        so an old version reads exactly as it did when committed. Writes are
        unaffected: commits always stack on the latest HEAD, never on the
        pinned reader version."""
        if version is None:
            target = self.storage.current_version()
        else:
            target = int(version)
            current = self.storage.current_version()
            if target < 0 or target > current:
                raise ValueError(
                    f"version {target} out of range (HEAD is {current})"
                )
            try:
                self.storage.read_manifest(target)
            except FileNotFoundError:
                raise ValueError(
                    f"version {target} was expired by expire_snapshots() — "
                    f"remaining versions: "
                    f"{[v['version'] for v in self.versions()]}"
                ) from None
        self.snapshot = Snapshot(self.spark, self.storage, target)
        self._ctx = None
        self._query_cache.clear()
        return self

    def versions(self) -> list[dict]:
        """Commit history still on disk, oldest first — the Iceberg
        snapshot-listing / Lucene commit-point view of the manifest log.
        Each entry: version, committed_at (epoch seconds), n_segments."""
        import json as _json

        snapdir = os.path.join(self.storage.path, "snapshots")
        out = []
        for fname in sorted(os.listdir(snapdir)):
            if not (fname.startswith("v") and fname.endswith(".json")):
                continue
            with open(os.path.join(snapdir, fname)) as fh:
                m = _json.load(fh)
            out.append({
                "version": m["version"],
                "committed_at": m.get("committed_at"),
                "n_segments": len(m.get("segments", [])),
            })
        return sorted(out, key=lambda r: r["version"])

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg-style snapshot expiry (``expireSnapshots``; Tantivy's
        ``IndexWriter::garbage_collect_files`` is the single-version analog):
        drop all but the newest ``keep_last`` manifest versions and delete
        every segment directory / tombstone side-table referenced ONLY by
        the dropped versions. Without this, a streaming writer's storage
        grows without bound — every commit and merge leaves its
        predecessors' files behind for time travel.

        Safety rules:
        - runs under the writer lock (no commit can interleave);
        - only files referenced by at least one EXPIRED manifest and by no
          KEPT manifest are deleted — directories referenced by NOTHING
          (in-flight resumable-build shards, crashed commits) are left
          alone and reported as ``orphans_skipped``;
        - refuses to expire the version this reader is pinned to
          (``reload()`` first).

        Returns ``{expired_versions, kept_versions, deleted_segments,
        deleted_tombstone_tables, orphans_skipped}``."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        with self._writer_lock():
            existing = [v["version"] for v in self.versions()]
            keep = set(existing[-keep_last:])
            expired = [v for v in existing if v not in keep]
            if self.snapshot.version in expired:
                raise ValueError(
                    f"reader is pinned to version {self.snapshot.version}, "
                    "which would be expired — reload() first"
                )
            kept_segs: set = set()
            kept_ts: set = set()
            exp_segs: set = set()
            exp_ts: set = set()
            for versions, segs, ts in (
                (keep, kept_segs, kept_ts), (expired, exp_segs, exp_ts),
            ):
                for v in versions:
                    m = self.storage.read_manifest(v)
                    for s in m.get("segments", []):
                        if s.get("name"):  # pure-delete entries have name=None
                            segs.add(s["name"])
                        if s.get("tombstone_table"):
                            ts.add(s["tombstone_table"])
            dead_segs = sorted(exp_segs - kept_segs)
            dead_ts = sorted(exp_ts - kept_ts)
            segroot = os.path.join(self.storage.path, "segments")
            tsroot = os.path.join(self.storage.path, "tombstones")
            orphans = sorted(
                set(os.listdir(segroot)) - kept_segs - exp_segs
            ) if os.path.isdir(segroot) else []
            # Crash-safety order: unlink the expired manifests FIRST, then
            # delete the files only they referenced. A crash in between
            # leaves unreferenced files (reported as orphans_skipped on the
            # next expiry — a bounded storage leak), never a live manifest
            # pointing at deleted segments, so versions()/reload(version=)
            # always see either a readable snapshot or a clean "expired"
            # error.
            snapdir = os.path.join(self.storage.path, "snapshots")
            for v in expired:
                os.unlink(os.path.join(snapdir, f"v{v:06d}.json"))
            for name in dead_segs:
                shutil.rmtree(os.path.join(segroot, name), ignore_errors=True)
            for name in dead_ts:
                shutil.rmtree(os.path.join(tsroot, name), ignore_errors=True)
            return {
                "expired_versions": expired,
                "kept_versions": sorted(keep),
                "deleted_segments": dead_segs,
                "deleted_tombstone_tables": dead_ts,
                "orphans_skipped": orphans,
            }

    @property
    def ctx(self):
        if self._ctx is None:
            self._ctx = self.snapshot.context()
        return self._ctx

    # --- writes -------------------------------------------------------------
    @contextmanager
    def transaction(self):
        """Batch writes into one segment commit (index.rb:47-61). Re-entrant
        use inside an open transaction is an error, like index.rb:149-151."""
        if self._in_txn:
            raise IndexWriterBusyError("nested transaction")
        took_lock = False
        if not self._held_lock:
            self._acquire_lock()
            took_lock = True
        self._in_txn = True
        try:
            yield self
            self._commit_pending()
        finally:
            self._in_txn = False
            self._pending_ops = []
            if took_lock:
                self._release_lock()

    def add(self, doc) -> "Index":
        """Upsert one document — ``index << doc`` (index.rb:67-79). Documents
        may be dicts or objects exposing the field names (index.rb:112-114);
        missing fields are dropped (index.rb:106-110)."""
        row = self._slice_document(doc)
        if self._in_txn:
            self._pending_ops.append(("add", row))
        else:
            with self.transaction():
                self._pending_ops.append(("add", row))
        return self

    __lshift__ = add

    def delete(self, doc_id) -> "Index":
        if self._in_txn:
            self._pending_ops.append(("del", str(doc_id)))
        else:
            with self.transaction():
                self._pending_ops.append(("del", str(doc_id)))
        return self

    def delete_by_query(self, query, max_deletes: int = 100_000, **smart_opts) -> int:
        """Queue deletes for every doc matching ``query`` — Tantivy's
        ``IndexWriter::delete_query`` / Lucene's ``deleteDocuments(Query)``.
        Matching runs against the CURRENT snapshot (docs added in the open
        transaction are not yet searchable, exactly like search()).

        Tombstones live in the manifest (bounded by deletes-since-merge —
        the reference's delete model), so this is the *incremental* delete
        path: dropping a bounded matched set between merges. Bulk drops of
        a large corpus fraction belong in a filtered rebuild, not the
        tombstone list — and the bound is ENFORCED: the matched ids are
        fetched via ``limit(max_deletes + 1)`` (the `_dict_expansion`
        capped-collect pattern) and a match set larger than ``max_deletes``
        raises instead of materializing an unbounded Python list on the
        driver. Returns the number of ids queued."""
        if max_deletes <= 0:
            raise ValueError("max_deletes must be positive")
        matched = self._matched(query, smart_opts).distinct()
        head = (
            matched.join(self.ctx.id_map, "doc_id")
            .select("id")
            .limit(max_deletes + 1)
            .collect()
        )
        if len(head) > max_deletes:
            raise ValueError(
                f"delete_by_query matched more than max_deletes={max_deletes} "
                "docs; tombstones are for bounded incremental deletes — use a "
                "filtered rebuild for bulk drops, or raise max_deletes "
                "explicitly"
            )
        ids = [r["id"] for r in head]
        if self._in_txn:
            self._pending_ops.extend(("del", i) for i in sorted(ids))
        else:
            with self.transaction():
                self._pending_ops.extend(("del", i) for i in sorted(ids))
        return len(ids)

    def add_dataframe(self, df: DataFrame) -> int:
        """Bulk build: index every row of ``df`` (columns named per schema) as
        one segment. Returns the committed version."""
        return self._commit_segment(df, deletes=None)

    def _slice_document(self, doc) -> dict:
        row = {}
        for field in self.schema.fields:
            if isinstance(doc, dict):
                value = doc.get(field)
            else:
                value = getattr(doc, field, None)
            if value is not None:
                row[field] = self.schema.coerce(field, value)
        if self.schema.id_field not in row:
            raise UnexpectedNone(f"document is missing id field '{self.schema.id_field}'")
        return row

    def _replay_ops(self) -> tuple:
        """Replay the ordered op log: delete-then-add upsert semantics
        (src/index.rs:182-185); a delete after an add in the same transaction
        removes the uncommitted doc (spec/tantiny/index_spec.rb:218-247)."""
        alive: dict = {}
        touched: set = set()
        for op, payload in self._pending_ops:
            if op == "add":
                key = payload[self.schema.id_field]
                alive[key] = payload
                touched.add(key)
            else:
                alive.pop(payload, None)
                touched.add(payload)
        return list(alive.values()), sorted(touched)

    def _rows_to_df(self, rows: list) -> DataFrame | None:
        if not rows:
            return None
        fields = [T.StructField("__order", T.IntegerType(), False)]
        sch = self.schema
        for name, kind in sch.fields.items():
            fields.append(T.StructField(name, SPARK_TYPES[kind], True))
        data = []
        for i, row in enumerate(rows):
            rec = [i] + [row.get(name) for name in sch.fields]
            data.append(tuple(rec))
        # single-slice parallelize: the default would fan a handful of pending
        # docs across defaultParallelism Python tasks
        rdd = self.spark.sparkContext.parallelize(data, 1)
        return self.spark.createDataFrame(rdd, T.StructType(fields)).drop("__order")

    def _commit_pending(self):
        rows, touched = self._replay_ops()
        if not touched:
            return
        # every touched id is deleted from the older segments; survivors
        # are re-indexed in the new segment
        self._commit_segment(self._rows_to_df(rows), touched)

    def _commit_segment(
        self, df: DataFrame | None, deletes: list | DataFrame | None
    ) -> int:
        """One segment commit. ``deletes`` may be an id list (the bounded
        transaction/delete_by_query path) or a DataFrame (the streaming
        upsert path, so a 100 TB ``availableNow`` batch never materializes
        its ids on the driver or in the manifest JSON); either is resolved
        here, once, to the doc ids it hits (storage.resolve_deletes), so no
        query re-resolves it.

        The whole manifest read-modify-write runs under the writer lock
        (no-op when the caller already holds it via transaction() /
        exclusive_writer) — without it a concurrent merge or writer could
        commit between our read and our commit and be silently dropped."""
        with self._writer_lock():
            version = self.storage.current_version()
            manifest = self.storage.read_manifest(version)
            base = int(manifest.get("next_doc_id", 0))
            segments = list(manifest["segments"])
            next_doc_id = base
            entry = None
            if df is not None:
                import shutil
                import uuid as uuid_mod

                staging = os.path.join(
                    self.storage.path, "staging", uuid_mod.uuid4().hex[:12]
                )
                try:
                    tables = build_segment(
                        self.spark, df, self.schema, doc_id_base=base,
                        work_dir=staging,
                    )
                    n = tables["n_docs"]
                    if n > 0:
                        entry = self.storage.write_segment(tables)
                        next_doc_id = base + n
                finally:
                    shutil.rmtree(staging, ignore_errors=True)
            if isinstance(deletes, DataFrame) or deletes:
                # resolved against the live docs this commit stacks on; an
                # entry without a segment is a pure-delete commit
                older = Snapshot(self.spark, self.storage, version).context()
                entry = {
                    **(entry or {"name": None}),
                    **self.storage.resolve_deletes(older.docs, deletes),
                }
            if entry:
                segments.append(entry)
            version = self.storage.commit(
                {
                    "segments": segments,
                    "next_doc_id": next_doc_id,
                    "schema": self.schema.to_json(),
                }
            )
            return version

    # --- segment merge / compaction ------------------------------------------
    def merge_segments(self) -> int:
        """Compact all live segments into one: deletes are physically
        applied, dict and BM25 totals rebuilt from the surviving docs and
        postings — the background-merge analog of Tantivy's segment merging
        (surfaced via commit/reload, src/index.rs:229-242). After a merge,
        deleted docs no longer affect BM25 stats, and queries stop paying
        the delete filter. Doc ids are kept, so the merged entry keeps the
        snapshot's id runs (storage.rank_runs: none when their id ranges
        overlap). It also rewrites a segment whose manifest entry predates
        BM25 totals or whose deletes are still keyed by id."""
        # a merge rewrites the whole manifest, so it is a WRITE: take the
        # writer lock (like transaction()) — a merge racing another writer
        # would silently drop that writer's commit from the new manifest
        with self._writer_lock():
            return self._merge_segments_locked()

    def _merge_segments_locked(self) -> int:
        # merge the LATEST COMMITTED version, never the reader snapshot:
        # a writer that committed since the last reload() (e.g. the
        # streaming foreachBatch upsert path) must not have its segments
        # silently dropped by a merge of a stale view
        ctx = Snapshot(
            self.spark, self.storage, self.storage.current_version()
        ).context()
        # exact per-field totals recounted from the stored per-doc lengths,
        # so no segment's old totals are needed; doc ids are kept, so the
        # merged entry keeps the merged snapshot's id runs (none when their
        # id ranges overlap)
        tables = {
            "docs": ctx.docs, "postings": ctx.postings,
            "stats": lambda: {
                **bm25_totals(
                    self.schema, doc_aggregates(self.schema, ctx.docs)
                ),
                "id_runs": ctx.id_runs,
            },
        }
        manifest = self.storage.read_manifest(self.storage.current_version())
        entry = self.storage.write_segment(tables)
        version = self.storage.commit(
            {
                "segments": [entry],
                "next_doc_id": manifest.get("next_doc_id", 0),
                "schema": self.schema.to_json(),
            }
        )
        # merge-cost telemetry: what the compaction actually rewrote —
        # lets merge-policy read-amplification claims carry numbers
        # (streaming tests assert on this) instead of adjectives
        self.last_merge_stats = {
            "version": version,
            "segments_before": sum(
                1 for s in manifest["segments"] if s.get("name")
            ),
            "segments_after": 1,
            "tombstone_entries_dropped": sum(
                1 for s in manifest["segments"]
                if s.get("tombstones") or s.get("tombstone_table")
            ),
            "live_docs_rewritten": entry["num_docs"],
        }
        return version

    def segment_count(self) -> int:
        """Number of live segments in the current manifest (tombstone-only
        entries excluded) — what a merge policy decides on."""
        manifest = self.storage.read_manifest(self.storage.current_version())
        return sum(1 for s in manifest["segments"] if s.get("name"))

    def maybe_merge(self, max_segments: int = 8) -> int | None:
        """Tiered-merge policy trigger (the LogMergePolicy analog Tantivy
        runs in the background — here explicit, because on a cluster the
        caller decides when to spend a compaction job): compact IFF the
        live segment count exceeds ``max_segments``. Returns the new
        manifest version, or None when below threshold.

        Call after a batch of commits (e.g. each streaming
        foreachBatch epoch): read amplification grows with segment count
        (each table is read once, but over every live segment's files,
        and every deleted doc id is filtered out at each read), while a
        merge is one corpus-scale job — this knob bounds the former
        without paying the latter per-commit."""
        if max_segments < 1:
            raise ValueError("max_segments must be >= 1")
        if self.segment_count() <= max_segments:
            return None
        return self.merge_segments()

    # --- queries (constructor forwarding, index.rb:96-114) -------------------
    def all_query(self):
        return P.all_query()

    def empty_query(self):
        return P.empty_query()

    def term_query(self, fields, term, **opts):
        return P.term_query(self.schema, fields, term, **opts)

    def fuzzy_term_query(self, fields, term, distance=P.DEFAULT_FUZZY_DISTANCE, **opts):
        return P.fuzzy_term_query(self.schema, fields, term, distance, **opts)

    def phrase_query(self, fields, phrase, **opts):
        return P.phrase_query(self.schema, fields, phrase, **opts)

    def phrase_prefix_query(self, fields, phrase, **opts):
        return P.phrase_prefix_query(self.schema, fields, phrase, **opts)

    def regex_query(self, fields, pattern, **opts):
        return P.regex_query(self.schema, fields, pattern, **opts)

    def prefix_query(self, fields, prefix, **opts):
        return P.prefix_query(self.schema, fields, prefix, **opts)

    def wildcard_query(self, fields, pattern, **opts):
        return P.wildcard_query(self.schema, fields, pattern, **opts)

    def regex_phrase_query(self, fields, patterns, **opts):
        return P.regex_phrase_query(self.schema, fields, patterns, **opts)

    def range_query(self, fields, rng, **opts):
        return P.range_query(self.schema, fields, rng, **opts)

    def facet_query(self, field, path, **opts):
        return P.facet_query(self.schema, field, path, **opts)

    def term_set_query(self, fields, terms, **opts):
        return P.term_set_query(self.schema, fields, terms, **opts)

    def boolean_query(self, must=None, should=None, must_not=None, **opts):
        return P.boolean_query(must, should, must_not, **opts)

    def dis_max_query(self, queries, tie_breaker: float = 0.0, **opts):
        return P.dis_max_query(queries, tie_breaker, **opts)

    def const_score_query(self, query, score: float = 1.0):
        return P.const_score_query(query, score)

    def exists_query(self, field, **opts):
        return P.exists_query(self.schema, field, **opts)

    def json_term_query(self, field, path, value, **opts):
        return P.json_term_query(self.schema, field, path, value, **opts)

    def json_phrase_query(self, field, path, phrase, slop: int = 0, **opts):
        return P.json_phrase_query(self.schema, field, path, phrase, slop, **opts)

    def json_prefix_query(self, field, path, prefix, **opts):
        return P.json_prefix_query(self.schema, field, path, prefix, **opts)

    def json_exists_query(self, field, path, **opts):
        return P.json_exists_query(self.schema, field, path, **opts)

    def json_range_query(self, field, path, rng, **opts):
        return P.json_range_query(self.schema, field, path, rng, **opts)

    def parse_query(self, query_string: str, default_fields=None, **opts):
        """Parse a Lucene/Tantivy-style query string (quotes, +must,
        -must_not, AND/OR/NOT, field:, ranges, prefix*, fuzzy~) into a
        plan Query — see :mod:`tantiny_spark.queryparser`."""
        from tantiny_spark.queryparser import parse_query as _pq

        return _pq(self.schema, query_string, default_fields, **opts)

    def smart_query(self, fields, query_string, **opts):
        return P.smart_query(self.schema, fields, query_string, **opts)

    def more_like_this(
        self, fields, like_text: str, max_query_terms: int = 10,
        min_term_freq: int = 1, min_doc_freq: int = 1,
        boost: float = P.DEFAULT_BOOST,
    ):
        """Lucene/Tantivy-style MoreLikeThis over seed TEXT (the
        ``MoreLikeThis.like(Reader)`` form — the index keeps no stored
        fields, exactly like the reference engine, so seeding from a doc id
        means passing that doc's text from the source corpus).

        Term selection per text field: tokenize ``like_text`` with the
        field's own tokenizer, keep terms with seed tf >= min_term_freq and
        dictionary df >= min_doc_freq, score tf * idf with the engine's BM25
        idf, and take the top ``max_query_terms`` by (score desc, term asc).
        The result is a pure term disjunction, so each field's terms
        compile to ONE pruned postings scan (executor._term_or); dictionary
        dfs come from ONE batched pruned lookup per field (no per-term
        driver jobs)."""
        import math
        from collections import Counter

        names = P._listify(fields)
        selected: list = []
        for f in names:
            if f not in self.schema.text_fields:
                raise UnsupportedField(f)
            tf = Counter(self.schema.tokenizer_for(f).terms(like_text))
            cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
            if not cand:
                continue
            dfs = self.ctx.term_dfs(f, cand)
            n, _ = self.ctx.field_stats(f)
            scored = []
            for t in cand:
                df = dfs[t]
                if df < max(1, min_doc_freq):
                    continue
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                scored.append((-tf[t] * idf, t))
            scored.sort()
            selected.extend(P.Term(f, t) for _, t in scored[:max_query_terms])
        if not selected:
            return P.empty_query()
        return P.disjunction(*selected).boost(boost)

    # --- search (index.rb:87-94, src/index.rs:244-274) ----------------------
    def search(
        self, query, limit: int = DEFAULT_LIMIT, offset: int = 0,
        search_after: tuple | None = None, **smart_opts,
    ) -> list:
        """Returns ids of the top ``limit`` docs (scores discarded, like the
        reference). String input becomes a smart query over all text fields.
        ``offset`` skips the first N ranked hits — Tantivy's pagination
        (``TopDocs::with_limit(n).and_offset(m)``, public collector API).
        ``search_after`` is ES-style cursor pagination: pass the previous
        page's last hit (id, score) — exactly as search_with_scores
        returns it — and page depth costs nothing extra."""
        hits = self.search_with_scores(
            query, limit, offset, search_after, **smart_opts
        )
        return [i for i, _ in hits]

    def search_with_scores(
        self, query, limit: int = DEFAULT_LIMIT, offset: int = 0,
        search_after: tuple | None = None, **smart_opts,
    ) -> list:
        """search() with each hit's score: ``[(id, score), ...]``, the rows
        of search_df. On a snapshot with id runs (SearchContext.id_runs)
        and without a cursor, the query and its ranking by (run, doc id)
        compile to ONE SQL text (compile_plan's ``top``), run as ONE Spark
        job, and the driver then reads the hits' ids from the docs files,
        as Tantivy's TopDocs ranks DocAddresses and reads the k stored
        ids; otherwise search_df's join-then-rank runs."""
        if search_after is not None or self.ctx.id_runs is None:
            rows = self.search_df(
                query, limit, offset, search_after, **smart_opts
            ).collect()
            return [(r["id"], r["score"]) for r in rows]
        if offset < 0:
            raise ValueError("offset must be >= 0")
        rows = self._cached(
            lambda: ("__doc_ids__", query, tuple(sorted(smart_opts.items())),
                     limit, offset),
            lambda: self._compile(
                query, smart_opts, top=(self.ctx.id_runs, limit, offset)
            ),
        ).collect()
        ids = self.ctx.files.ids([r["doc_id"] for r in rows])
        return [(ids[r["doc_id"]], r["score"]) for r in rows]

    def search_df(
        self, query, limit: int = DEFAULT_LIMIT, offset: int = 0,
        search_after: tuple | None = None, **smart_opts,
    ) -> DataFrame:
        """Top ``limit`` hits of ``query`` as DataFrame[id, score], ordered
        score desc, id asc. ``offset`` pages inside the same
        TakeOrderedAndProject (a partial top-(offset+limit), never a global
        sort); ``search_after`` is a cursor filter ahead of the same top-k
        (both in executor.top_k). Compiled plans are cached per (query,
        smart options, limit, offset, cursor), looked up before the query
        is planned, so a hit costs no planning at all."""
        if offset < 0:
            raise ValueError("offset must be >= 0")
        return self._cached(
            lambda: (query, tuple(sorted(smart_opts.items())), limit, offset,
                     search_after),
            lambda: top_k(
                self._compile(query, smart_opts), self.ctx, limit, offset,
                search_after,
            ),
        )

    #: compiled-query LRU capacity — enough for any realistic hot query set
    #: while bounding the DataFrame references a long-lived reader pins
    QUERY_CACHE_SIZE = 256

    def _cached(self, key, build) -> DataFrame:
        """The compiled-query LRU: the DataFrame cached under ``key()``, or
        ``build()``'s, cached. A key that cannot be built or hashed (a
        query payload that does not sort or hash) skips the cache."""
        try:
            cache_key = key()
            hit = self._query_cache.get(cache_key)
        except TypeError:
            return build()
        if hit is not None:
            self._query_cache.move_to_end(cache_key)
            return hit
        out = self._query_cache[cache_key] = build()
        while len(self._query_cache) > self.QUERY_CACHE_SIZE:
            self._query_cache.popitem(last=False)
        return out

    def search_by_field(
        self, query, field: str, limit: int = DEFAULT_LIMIT,
        ascending: bool = False, offset: int = 0, **smart_opts,
    ) -> DataFrame:
        """Top ``limit`` matching docs ordered by a stored VALUE field
        instead of relevance — Tantivy's ``TopDocs::order_by_u64_field``
        (src/collector/top_score_collector.rs, public API). Returns
        ``(id, value)``; ties break on id-string asc like search_df.

        Plan shape: the matched doc-set (scores projected away by pruning)
        semi-joins the docs table for the sort column, then ONE
        TakeOrderedAndProject — per-partition partial top-k, never a global
        sort, same scale story as top_k()."""
        if field not in (
            self.schema.integer_fields + self.schema.double_fields
            + self.schema.date_fields
        ):
            raise UnsupportedField(
                f"search_by_field needs an integer/double/date field, "
                f"got {field!r}"
            )
        matched = self._matched(query, smart_opts)
        vals = self.ctx.docs.where(F.col(field).isNotNull()).select(
            "doc_id", F.col(field).alias("value")
        )
        if offset < 0:
            raise ValueError("offset must be >= 0")
        order = F.col("value").asc() if ascending else F.col("value").desc()
        out = (
            matched.join(vals, "doc_id")
            .join(self.ctx.id_map, "doc_id")
            .orderBy(order, F.col("id").asc())
        )
        if offset:
            out = out.offset(offset)
        return out.limit(limit).select("id", "value")

    def search_collapse(
        self, query, collapse: str, limit: int = DEFAULT_LIMIT, **smart_opts,
    ) -> DataFrame:
        """Relevance search with field collapsing (the ES ``collapse``
        request, public search API): the best-scoring hit per value of the
        ``collapse`` fast field, ranked by that hit's (score desc, id asc),
        top ``limit`` groups. Returns ``(id, score, <collapse>,
        group_count)`` where group_count is how many matches the group
        absorbed. One partial-aggregatable groupBy + a TakeOrdered over
        group representatives — see executor.collapse_top_k for the
        skew/scale analysis."""
        from tantiny_spark.executor import collapse_top_k

        if collapse not in (
            list(self.schema.string_fields) + self.schema.integer_fields
            + self.schema.double_fields + list(self.schema.date_fields)
            + list(self.schema.facet_fields)
        ):
            raise UnsupportedField(
                f"collapse needs a string/integer/double/date/facet "
                f"fast field, got {collapse!r}"
            )
        if limit < 1:
            raise ValueError("limit must be >= 1")
        return collapse_top_k(
            self._compile(query, smart_opts), self.ctx, collapse, limit
        )

    def rescore(
        self, query, rescore_query, window_size: int = 100,
        weight: float = 1.0, limit: int = DEFAULT_LIMIT, **smart_opts,
    ) -> DataFrame:
        """Two-phase ranking (the ES ``rescore`` request): take the top
        ``window_size`` hits of the cheap primary ``query``, add ``weight``
        × the ``rescore_query``'s score for each candidate that matches it
        (score_mode=total, ES's default), and return the re-ranked top
        ``limit`` as ``(id, score)``.

        Scale shape — the expensive query never sees the corpus: phase 1
        rides the normal top-k machinery (partial top-k per partition), so
        the candidate set is ≤ window_size rows; phase 2 LEFT-joins the rescorer's compiled doc-set against that bounded
        frame, which AQE plans as a broadcast of the candidates — the
        rescore query's postings scan is semi-join-pruned to the window.
        This is exactly why ES rescore exists: proximity/phrase scoring
        costs O(window), not O(matches)."""
        if window_size < 1:
            raise ValueError("window_size must be >= 1")
        if limit > window_size:
            raise ValueError("limit cannot exceed window_size")
        window = (
            self._compile(query, smart_opts).join(self.ctx.id_map, "doc_id")
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(window_size)
        )
        second = self._compile(rescore_query).select(
            "doc_id", F.col("score").alias("__rescore")
        )
        return (
            window.join(second, "doc_id", "left")
            .select(
                "id",
                (
                    F.col("score")
                    + F.lit(float(weight)) * F.coalesce("__rescore", F.lit(0.0))
                ).alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(limit)
        )

    def function_score(
        self, query, field: str, factor: float = 1.0,
        modifier: str = "none", missing: float = 0.0,
        boost_mode: str = "multiply", limit: int = DEFAULT_LIMIT,
        **smart_opts,
    ) -> DataFrame:
        """Field-value-factor scoring (the ES ``function_score`` /
        ``field_value_factor`` function): combine each hit's relevance
        score with a fast numeric field —

            value = modifier(factor × field)   (docs missing the field
                                                use ``missing``)
            score = score × value | score + value   (``boost_mode``)

        ``modifier`` ∈ none | log1p | sqrt (the commonly-used subset; ES's
        reciprocal forms are one expression away). The classic use is
        query-independent quality/recency boosting at web scale — e.g.
        BM25 × log1p(page_rank).

        Plan shape: ONE column-pruned docs join adds the field to the
        matched set, the combine is a codegen'd expression, and the rank
        is the same TakeOrderedAndProject as search_df — no extra shuffle
        beyond the join, no Python."""
        if field not in (
            self.schema.integer_fields + self.schema.double_fields
        ):
            raise UnsupportedField(
                f"function_score needs an integer/double fast field, "
                f"got {field!r}"
            )
        if modifier not in ("none", "log1p", "sqrt"):
            raise ValueError("modifier must be none | log1p | sqrt")
        if boost_mode not in ("multiply", "sum"):
            raise ValueError("boost_mode must be multiply | sum")
        matched = self._compile(query, smart_opts)
        val = (
            F.coalesce(F.col(field), F.lit(float(missing))).cast("double")
            * F.lit(float(factor))
        )
        if modifier == "log1p":
            val = F.log1p(F.greatest(val, F.lit(0.0)))
        elif modifier == "sqrt":
            val = F.sqrt(F.greatest(val, F.lit(0.0)))
        combined = (
            (F.col("score") * val) if boost_mode == "multiply"
            else (F.col("score") + val)
        )
        vals = self.ctx.docs.select("doc_id", field)
        scored = matched.join(vals, "doc_id", "left").select(
            "doc_id", combined.alias("score")
        )
        # the pinned tie-break/top-k shape lives in ONE place: top_k
        return top_k(scored, self.ctx, limit)

    def term_vector(self, doc_id, field: str) -> DataFrame:
        """One document's indexed term vector for a field (Lucene/Tantivy
        term-vector inspection — what MLT, snippets and explain reason
        about, exposed to the user): DataFrame[term, tf, positions]
        ordered term asc. Raw analyzed terms as indexed, tombstones
        respected (a deleted doc has no vector).

        Plan shape: the external id resolves through the slim cached id
        map (one tiny pushdown-pruned lookup), then ONE postings scan
        filtered (field, doc_id) — the (field, term)-sorted layout prunes
        to the field's row groups and the doc_id predicate pushes down;
        no aggregation, no shuffle beyond the sort of ≤ distinct-terms
        rows."""
        if field not in (
            list(self.schema.text_fields) + list(self.schema.string_fields)
            + list(self.schema.facet_fields) + list(self.schema.json_fields)
        ):
            raise UnsupportedField(field)
        target = (
            self.ctx.id_map.where(F.col("id") == str(doc_id))
            .select("doc_id").collect()
        )
        if not target:
            return self.spark.createDataFrame(
                [], "term string, tf long, positions array<int>"
            )
        did = target[0]["doc_id"]
        return (
            self.ctx.postings.where(
                (F.col("field") == field) & (F.col("doc_id") == did)
            )
            .select(
                "term", F.col("tf").cast("long").alias("tf"), "positions"
            )
            .orderBy(F.col("term").asc())
        )

    def count(self, query=None, **smart_opts) -> int:
        """Number of documents matching ``query`` (all docs when None) —
        the searcher-count companion to search(): no ranking, no top-k, so
        the plan is a pure matched-set count that Catalyst prunes down to
        the postings scan (score expressions are projected away)."""
        return self._compile(
            self.all_query() if query is None else query, smart_opts
        ).count()

    def stats_df(self, field: str, query=None, **smart_opts) -> DataFrame:
        """Numeric stats aggregation over the docs matching ``query`` (all
        docs when None) — Tantivy's StatsAggregation for a fast field:
        (n_vals, min_val, max_val, sum_val, avg_val), nulls excluded.

        Plan shape: matched doc-set semi-join against the docs table (the
        numeric column lives there, like range queries use), then ONE
        partial-aggregatable global agg — no window, no collect of values."""
        if field not in (
            self.schema.integer_fields + self.schema.double_fields
        ):
            raise UnsupportedField(field)
        docs = self._matched_docs(query, smart_opts)
        col = F.col(field).cast("double")
        return docs.agg(
            F.count(col).alias("n_vals"),
            F.min(col).alias("min_val"),
            F.max(col).alias("max_val"),
            F.sum(col).alias("sum_val"),
            F.round(F.avg(col), 6).alias("avg_val"),
        )

    def top_terms(
        self, field: str, query=None, limit: int = 10, **smart_opts
    ) -> DataFrame:
        """Terms aggregation (Tantivy TermsAggregation): the most frequent
        terms of ``field`` among the docs matching ``query`` (all docs when
        None). Returns DataFrame[term, n_docs] ordered (n_docs desc, term
        asc), ``limit`` rows.

        Plan shape: postings pruned to the field (pushdown), optional
        matched-set semi-join (broadcast-eligible — top-k hit sets are
        tiny), then ONE partial-aggregatable count groupBy and a
        TakeOrdered — postings rows are one per (term, doc), so count(*)
        IS the doc frequency within the matched set."""
        if field not in (
            list(self.schema.text_fields) + list(self.schema.string_fields)
        ):
            raise UnsupportedField(field)
        posts = self.ctx.postings.where(F.col("field") == field)
        matched = self._matched(query, smart_opts)
        if matched is not None:
            posts = posts.join(matched, "doc_id", "left_semi")
        return (
            posts.groupBy("term")
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.col("n_docs").desc(), F.col("term").asc())
            .limit(limit)
        )

    def significant_terms(
        self, field: str, query, size: int = 10, min_doc_count: int = 3,
        **smart_opts,
    ) -> DataFrame:
        """Significant-terms aggregation (the Elasticsearch
        SignificantTermsAggregation, JLH heuristic): terms OVER-represented
        in the docs matching ``query`` relative to the whole corpus —
        "what is this result set about" rather than top_terms' "what is
        frequent". Returns DataFrame[term, fg_df, bg_df, score] ordered
        (score desc, term asc), ``size`` rows; only terms with positive
        lift and foreground df >= ``min_doc_count`` qualify.

        JLH score = (fgPct − bgPct) · (fgPct / bgPct) with
        fgPct = fg_df / |matched| and bgPct = bg_df / |corpus| (rounded to
        6 dp — the display/ranking precision).

        Plan shape: ONE corpus-scale pass — the field-pruned postings scan
        semi-joined against the matched set and partially aggregated per
        term; the background df comes from the (tiny, pre-aggregated)
        dictionary, joined per term broadcast-eligibly; the two scalar
        totals are the memoized Weight-phase stats. Like BM25 between
        merges, background counts include tombstoned docs until
        merge_segments physically drops them."""
        if field not in (
            list(self.schema.text_fields) + list(self.schema.string_fields)
        ):
            raise UnsupportedField(field)
        if query is None:
            raise ValueError(
                "significant_terms needs a query: against the whole corpus "
                "every term's foreground equals its background (zero lift)"
            )
        if min_doc_count < 1:
            raise ValueError("min_doc_count must be >= 1")
        # localCheckpoint: fg_n (a scalar the score expression needs as a
        # literal) forces one execution of the matched set; without it the
        # fg semi-join would re-run the whole query plan a second time
        # (the duplicate_clusters lineage-truncation precedent)
        matched = self._matched(query, smart_opts).localCheckpoint(eager=True)
        fg_n = matched.count()
        if fg_n == 0:
            return self.spark.createDataFrame(
                [], "term string, fg_df long, bg_df long, score double"
            )
        bg_n, _ = self.ctx.field_stats(field)
        fg = (
            self.ctx.postings.where(F.col("field") == field)
            .join(matched, "doc_id", "left_semi")
            .groupBy("term")
            .agg(F.count("*").cast("long").alias("fg_df"))
            .where(F.col("fg_df") >= min_doc_count)
        )
        bg = (
            self.ctx.dictionary.where(F.col("field") == field)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("bg_df"))
        )
        fg_pct = F.col("fg_df") / F.lit(float(fg_n))
        bg_pct = F.col("bg_df") / F.lit(float(max(bg_n, 1)))
        return (
            fg.join(bg, "term")
            .select(
                "term", "fg_df", "bg_df",
                F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6).alias("score"),
            )
            .where(F.col("score") > 0)
            .orderBy(F.col("score").desc(), F.col("term").asc())
            .limit(size)
        )

    def suggest(
        self, field: str, term: str, distance: int = 2, limit: int = 5,
    ) -> DataFrame:
        """Did-you-mean spelling suggestions (the Lucene DirectSpellChecker
        family): dictionary terms of ``field`` within OSA edit distance
        ``distance`` of ``term``, ranked (distance asc, df desc, term asc)
        — the closest, most attested corrections first. The input term
        itself is excluded. Returns DataFrame[term, distance, df],
        ``limit`` rows.

        Plan shape: the field's dictionary rows are filtered JVM-side by
        the length band and ``levenshtein(term, q, 2 * distance) >= 0``
        (an OSA distance of c is a Levenshtein distance of at most 2c —
        the same prefilter the fuzzy query uses) BEFORE the per-term df
        sum and the vectorized OSA pandas UDF, which then see only the
        candidates; then ONE TakeOrdered. No postings scan at all:
        suggestions are a dictionary-only read."""
        from tantiny_spark.executor import _fuzzy_candidates, _osa_udf

        if field not in (
            list(self.schema.text_fields) + list(self.schema.string_fields)
        ):
            raise UnsupportedField(field)
        if distance < 1:
            raise ValueError("distance must be >= 1")
        osa = _osa_udf(term)
        return (
            self.ctx.dictionary.where(F.col("field") == field)
            .where(_fuzzy_candidates(term, distance) & (F.col("term") != term))
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"))
            .withColumn("distance", osa(F.col("term")).cast("int"))
            .where(F.col("distance") <= distance)
            .orderBy(
                F.col("distance").asc(), F.col("df").desc(), F.col("term").asc()
            )
            .limit(limit)
            .select("term", "distance", "df")
        )

    def histogram(
        self, field: str, interval: float, query=None, **smart_opts
    ) -> DataFrame:
        """Histogram aggregation (Tantivy Histogram/DateHistogram
        aggregation) over a numeric or date field: matched docs bucketed by
        ``floor(value / interval) * interval``. For date fields ``interval``
        is in SECONDS and ``bucket`` is returned as a timestamp (bucket
        start); for numeric fields it is a double. Returns
        DataFrame[bucket, n_docs] ordered by bucket asc; null values are
        excluded, empty buckets are not materialized.

        Plan shape: docs-table scan (column-pruned to doc_id + field),
        optional matched-set semi-join, one partial-aggregatable groupBy."""
        if interval <= 0:
            raise ValueError("interval must be > 0")
        is_date = field in self.schema.date_fields
        if not is_date and field not in (
            self.schema.integer_fields + self.schema.double_fields
        ):
            raise UnsupportedField(field)
        docs = self._matched_docs(query, smart_opts)
        # timestamp→long cast is epoch seconds; numeric stays double
        val = F.col(field).cast("long" if is_date else "double").cast("double")
        bucket = F.floor(val / F.lit(float(interval))) * F.lit(float(interval))
        if is_date:
            bucket = F.timestamp_seconds(bucket.cast("long"))
        return (
            docs.where(val.isNotNull())
            .groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.col("bucket").asc())
        )

    def _matched_docs(self, query, smart_opts):
        """Docs table, optionally semi-joined to a query's matched set —
        the shared front half of every aggregation."""
        docs = self.ctx.docs
        matched = self._matched(query, smart_opts)
        if matched is not None:
            docs = docs.join(matched, "doc_id", "left_semi")
        return docs

    def range_agg(self, field: str, ranges, query=None, **smart_opts) -> DataFrame:
        """Range aggregation (Tantivy RangeAggregation, ES ranges agg):
        doc counts for explicit half-open ``[from, to)`` value ranges over
        a numeric fast field; ``None`` means unbounded on that side.
        Ranges may overlap — a doc counts in every range containing it.
        Returns DataFrame[range_key, from_val, to_val, n_docs] in the
        given range order.

        Plan shape: optional matched-set semi-join, then ONE global agg
        computing every bucket as a conditional count in a single pass
        (map-side partial agg — no shuffle keyed by bucket, no explode),
        unpivoted to rows with a constant-size stack over the 1-row
        result."""
        if field not in (
            self.schema.integer_fields + self.schema.double_fields
        ):
            raise UnsupportedField(field)
        ranges = list(ranges)
        if not ranges:
            raise ValueError("ranges must be non-empty")
        docs = self._matched_docs(query, smart_opts)
        col = F.col(field).cast("double")
        aggs, tuples = [], []
        for i, (lo, hi) in enumerate(ranges):
            cond = col.isNotNull()
            if lo is not None:
                cond = cond & (col >= float(lo))
            if hi is not None:
                cond = cond & (col < float(hi))
            aggs.append(
                F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
                .cast("long").alias(f"__r{i}")
            )
            # explicit DOUBLE casts: bare numeric literals parse as DECIMAL
            # with per-literal precision, which stack() refuses to unify
            lo_s = (
                "CAST(NULL AS DOUBLE)" if lo is None
                else f"CAST({float(lo)!r} AS DOUBLE)"
            )
            hi_s = (
                "CAST(NULL AS DOUBLE)" if hi is None
                else f"CAST({float(hi)!r} AS DOUBLE)"
            )
            key = f"{'*' if lo is None else float(lo)}-" \
                  f"{'*' if hi is None else float(hi)}"
            tuples.append(f"'{key}', {lo_s}, {hi_s}, __r{i}")
        row = docs.agg(*aggs)
        return row.selectExpr(
            f"stack({len(ranges)}, {', '.join(tuples)}) AS "
            "(range_key, from_val, to_val, n_docs)"
        )

    def percentiles(
        self, field: str, percents=(1, 5, 25, 50, 75, 95, 99),
        query=None, approx: bool = False, **smart_opts,
    ) -> DataFrame:
        """Percentiles aggregation (Tantivy PercentilesAggregation; the
        default cuts are ES/Tantivy's 1,5,25,50,75,95,99). Returns
        DataFrame[percent, value], nulls excluded.

        By default EXACT linear-interpolation percentiles (Spark
        ``percentile`` ≡ DuckDB ``quantile_cont`` — certifiable parity);
        ``approx=True`` switches to ``percentile_approx`` (fixed-memory
        sketch, the preferred path at 100 TB where an exact percentile
        means a full sort of the matched set's values on one reducer).
        Either way it is ONE global aggregate over the (semi-joined) docs
        table; the result is a single row exploded to len(percents)
        rows."""
        if field not in (
            self.schema.integer_fields + self.schema.double_fields
        ):
            raise UnsupportedField(field)
        pcts = [float(p) for p in percents]
        if not pcts or any(p < 0 or p > 100 for p in pcts):
            raise ValueError("percents must be in [0, 100]")
        fracs = ", ".join(repr(p / 100.0) for p in pcts)
        fn = "percentile_approx" if approx else "percentile"
        extra = ", 10000" if approx else ""
        arr = F.expr(
            f"{fn}(CAST({field} AS DOUBLE), array({fracs}){extra})"
        )
        row = self._matched_docs(query, smart_opts).agg(arr.alias("__v"))
        pct_arr = F.array(*[F.lit(p) for p in pcts])
        return row.select(
            F.posexplode("__v").alias("__i", "__val")
        ).select(
            F.element_at(pct_arr, F.col("__i") + 1).alias("percent"),
            F.round(F.col("__val"), 6).alias("value"),
        )

    def cardinality(
        self, field: str, query=None, exact: bool = True, rsd: float = 0.05,
        **smart_opts,
    ) -> int:
        """Cardinality aggregation (Tantivy CardinalityAggregation): the
        distinct count of a field's values within the matched set. For a
        TEXT field this counts distinct TERMS (the dictionary view of the
        matched docs); for string/numeric/date fields, distinct stored
        values (nulls excluded).

        ``exact=False`` switches to HyperLogLog++
        (``approx_count_distinct``, relative sd ``rsd``) — the 100 TB
        path: one pass, fixed memory per partition, no exact-distinct
        shuffle."""
        if field in self.schema.text_fields:
            vals = self.ctx.postings.where(F.col("field") == field)
            matched = self._matched(query, smart_opts)
            if matched is not None:
                vals = vals.join(matched, "doc_id", "left_semi")
            col = F.col("term")
        elif field in self.schema.fields:
            vals = self._matched_docs(query, smart_opts)
            col = F.col(field)
        else:
            raise UnsupportedField(field)
        agg = (
            F.count_distinct(col) if exact
            else F.approx_count_distinct(col, rsd)
        )
        return int(vals.agg(agg.alias("n")).collect()[0]["n"])

    def aggregate(self, request: dict, query=None, **smart_opts) -> DataFrame:
        """ES/Tantivy-style nested aggregation request (Tantivy
        src/aggregation/mod.rs): bucket aggregations (terms / histogram /
        date_histogram / range) carrying metric sub-aggregations (avg /
        min / max / sum / value_count / stats / cardinality), up to two
        bucket levels — compiled to ONE partial-aggregatable groupBy (or
        one global pass for range roots). See tantiny_spark.aggs."""
        from tantiny_spark.aggs import aggregate as _agg

        return _agg(self, request, query, **smart_opts)

    def explain(self, query, doc_id, **smart_opts) -> dict:
        """Score explanation for one document (Lucene/Tantivy ``explain``):
        a tree mirroring the query plan where every node carries its score
        contribution for ``doc_id`` (absent/0.0 when the node doesn't match
        the doc). Each leaf is evaluated by filtering its own compiled
        doc-set to the target doc — the same execution path search uses, so
        the explanation can't drift from the engine."""
        plan = self._as_plan(query, smart_opts)
        prime_stats(plan, self.ctx)
        target = (
            self.ctx.id_map.where(F.col("id") == str(doc_id))
            .select("doc_id").collect()
        )
        if not target:
            return {"type": type(plan).__name__, "score": 0.0,
                    "matches": False, "detail": "unknown doc id"}
        did = target[0]["doc_id"]

        def walk(n) -> dict:
            out: dict = {"type": type(n).__name__}
            if isinstance(n, (P.Term, P.Phrase, P.PhrasePrefix, P.FuzzyTerm)):
                out["field"] = n.field
                out["terms"] = list(getattr(n, "terms", ())) or [n.term]
            elif isinstance(n, (P.Prefix, P.Regex, P.Range, P.Facet, P.Exists)):
                out["field"] = n.field
            elif isinstance(n, P.JsonRange):
                out["field"] = n.field
                out["path"] = n.path
            elif isinstance(n, P.RegexPhrase):
                out["field"] = n.field
                out["patterns"] = list(n.patterns)
            elif isinstance(n, P.TermSet):
                out["field"] = n.field
                out["terms"] = list(n.terms)
            if isinstance(n, (P.Conjunction, P.Disjunction, P.DisjunctionMax)):
                out["children"] = [walk(c) for c in n.children]
                if isinstance(n, P.DisjunctionMax):
                    out["tie_breaker"] = n.tie_breaker
            elif isinstance(n, P.BooleanOccur):
                out["children"] = [
                    dict(walk(c), occur=occ)
                    for occ, cs in (
                        ("must", n.must), ("should", n.should),
                        ("must_not", n.must_not),
                    )
                    for c in cs
                ]
                if n.minimum_should_match:
                    out["minimum_should_match"] = n.minimum_should_match
            elif isinstance(n, (P.Negation, P.Boost, P.ConstScore)):
                out["children"] = [walk(n.child)]
                if isinstance(n, P.Boost):
                    out["factor"] = n.factor
                if isinstance(n, P.ConstScore):
                    out["const"] = n.score
            rows = (
                compile_plan(n, self.ctx)
                .where(F.col("doc_id") == did).take(1)
            )
            out["matches"] = bool(rows)
            out["score"] = float(rows[0]["score"]) if rows else 0.0
            return out

        return walk(plan)

    def stats(self, field: str, query=None, **smart_opts) -> dict:
        """Dict form of :meth:`stats_df` ({count, min, max, sum, avg})."""
        r = self.stats_df(field, query, **smart_opts).collect()[0]
        return {
            "count": r["n_vals"], "min": r["min_val"], "max": r["max_val"],
            "sum": r["sum_val"], "avg": r["avg_val"],
        }

    def snippets(self, query, source_df, field: str = "text", **kw):
        """Top-k search + best-fragment snippet per hit (Tantivy
        SnippetGenerator re-expression; the index stores no fields, so
        fragments come from joining the broadcast-size hit set back to the
        caller's source corpus). See tantiny_spark.snippet.snippets."""
        from tantiny_spark.snippet import snippets as _snippets

        return _snippets(self, query, source_df, field=field, **kw)

    def facet_counts(
        self, field: str, prefix: str, query=None, limit: int | None = None,
        **smart_opts,
    ) -> DataFrame:
        """Per-child document counts under a facet path prefix, optionally
        restricted to the docs matching ``query`` — the FacetCollector-style
        aggregation the reference's facet FILTERING doesn't expose. Returns
        DataFrame[path, cnt] ordered cnt desc, path asc."""
        from tantiny_spark.executor import facet_counts as _fc

        if field not in self.schema.facet_fields:
            raise UnsupportedField(field)
        return _fc(
            self.ctx, field, prefix, self._matched(query, smart_opts), limit
        )

    def search_many(self, queries: dict, limit: int = DEFAULT_LIMIT) -> dict:
        """Execute a batch of queries as ONE Spark job: each plan compiles to
        a tagged doc-set, and the union is joined to the external ids and
        ranked per query by one ``row_number`` window over (query; score
        desc, id asc) <= ``limit`` — the same join-then-rank shape as
        search()'s top_k, so the ordering is identical. This is how query
        *throughput* scales on a cluster: per-query job overhead is paid
        once per batch, not once per query. Returns {name: [ids...]}.

        Spark plans the per-query top-k itself: a Partial WindowGroupLimit
        keeps each partition's top-``limit`` rows per query below the
        exchange on query, so the window never ranks a query's whole
        matched set in one task. Spark inserts it only while ``limit`` is
        at most ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
        1000); above that, each query's matched set is ranked whole."""
        from pyspark.sql import Window

        def build():
            tagged = [
                df.select(F.lit(name).alias("query"), "doc_id", "score")
                for name, df in zip(
                    queries, self._compile_many(list(queries.values()))
                )
            ]
            unioned = tagged[0]
            for t in tagged[1:]:
                unioned = unioned.unionByName(t)
            w = Window.partitionBy("query").orderBy(
                F.col("score").desc(), F.col("id").asc()
            )
            return (
                unioned.join(self.ctx.id_map, "doc_id")
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= limit)
                .select("query", "id", "rank")
            )

        # the whole batch plan rides the compiled-query LRU (same staleness
        # semantics as search_df's cache — cleared on reload()): a repeated
        # batch pays py4j plan construction once, execution every call
        rows = self._cached(
            lambda: ("__batch__", tuple(sorted(queries.items())), limit),
            build,
        ).collect()
        out: dict = {name: [] for name in queries}
        for r in sorted(rows, key=lambda r: (r["query"], r["rank"])):
            out[r["query"]].append(r["id"])
        return out

    # --- the compile step of every read --------------------------------------
    def _compile(
        self, query, smart_opts: dict | None = None, top: tuple | None = None
    ) -> DataFrame:
        """The one compile step of every Index read: ``query`` (a plan, or
        a string for a smart query over the text fields) → its plan → the
        global stats it needs, primed in one lookup per field → DataFrame
        [doc_id, score], ranked by ``top`` when given (compile_plan).
        Priming memoizes on the snapshot context, so a plan whose stats
        are already primed starts no job here."""
        plan = self._as_plan(query, smart_opts or {})
        prime_stats(plan, self.ctx)
        return compile_plan(plan, self.ctx, top)

    def _compile_many(self, queries: list) -> list:
        """:meth:`_compile` for a batch: the stats of every plan are primed
        together, one lookup per field for the whole batch."""
        from tantiny_spark.executor import prime_stats_many

        plans = [self._as_plan(q, {}) for q in queries]
        prime_stats_many(plans, self.ctx)
        return [compile_plan(plan, self.ctx) for plan in plans]

    def _matched(self, query, smart_opts: dict | None = None):
        """The matched ``doc_id`` set of ``query`` (:meth:`_compile` with
        the scores projected away), or None when there is no query."""
        if query is None:
            return None
        return self._compile(query, smart_opts).select("doc_id")

    def _as_plan(self, query, smart_opts) -> P.Query:
        if isinstance(query, P.Query):
            return query
        return P.smart_query(
            self.schema, list(self.schema.text_fields), str(query), **smart_opts
        )
