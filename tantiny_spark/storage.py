"""Snapshot storage: segments + manifests over Parquet.

The Spark-native analog of Tantivy's segment directory + meta.json
(/root/reference/src/index.rs:35-121, commit at :229-236, reload at :238-242):

- each commit writes one immutable *segment* directory holding the three
  index tables (docs/postings/dict) as Parquet, plus an optional tombstone
  list of deleted doc ``id``s applying to all OLDER segments;
- a JSON *manifest* lists the live segments of a version, each entry with
  its BM25 totals ``"num_docs": n, "tokens": {field: total_tokens}`` (what
  Tantivy keeps in segment metadata), summed by readers on the driver, and
  its ``"id_range": [min id, max id]`` with ``"id_ordered"``: whether its
  ``doc_id`` order is its ``id`` order (a build stamps ``doc_id = base +
  rank(id)``; a merge keeps doc ids, so a merged entry is id-ordered only
  if the snapshot it merged was);
- every table is zstd Parquet with v2 pages (``WRITE_OPTIONS``): ``doc_id``
  in docs and postings is DELTA_BINARY_PACKED (the d-gaps of a posting
  list, coded by Parquet itself), ``docs.id`` and ``dict.term`` fall back
  from their dictionaries to DELTA_BYTE_ARRAY, and ``positions``, ``tf``,
  ``norm_id`` and the postings ``term`` keep RLE_DICTIONARY (delta coding
  made ``positions`` 12% larger). Footers name their encodings, so older
  snappy/v1 segments read as they are until a merge rewrites them;
- ``dict`` is written sorted by (field, term), so its files' and row
  groups' min/max statistics bound the terms they hold: the driver reads
  a term's df, a prefix's first terms and the hits' ids straight from the
  files with pyarrow (``SegmentFiles``), pruned by those statistics, with
  no Spark job and no cached relation;
- every table is read with its fixed schema (``load_segment``), so loading
  a snapshot starts no schema-inference job;
- ``HEAD`` names the current manifest and is swapped atomically
  (write-tmp + os.replace), giving reader snapshot isolation: an open
  Snapshot keeps resolving the version it was opened at until reload —
  exactly the reference's ReloadPolicy::Manual semantics.

In production this layer is one Iceberg table-commit per segment; the sandbox
has no Iceberg runtime, so the manifest scheme stands in with the same
atomicity contract. All data stays in Parquet either way, so plans, pruning
and pushdown are identical.
"""

from __future__ import annotations

import bisect
import heapq
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from tantiny_spark.build import POSTINGS_SCHEMA, docs_schema
from tantiny_spark.executor import SearchContext
from tantiny_spark.schema import IndexSchema

TABLES = ("docs", "postings", "dict")
DICT_SCHEMA = "field string, term string, df long"
TOMBSTONE_SCHEMA = "id string"

#: Parquet writer options of every segment and tombstone table (encodings
#: in the module docstring), passed per write so the session conf is
#: untouched. With v2 pages, a column whose dictionary does not pay for
#: itself (mostly distinct values, or a tiny chunk) falls back to a delta
#: encoding instead of PLAIN.
WRITE_OPTIONS = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#doc_id": "false",
}


def write_table(df: DataFrame, path: str) -> None:
    """Overwrite ``path`` with ``df`` as Parquet in the segment format."""
    df.write.mode("overwrite").options(**WRITE_OPTIONS).parquet(path)


def dict_table(postings: DataFrame) -> DataFrame:
    """The term dictionary (field, term, df) of a postings table: one row
    per posting, so df is the row count per (field, term), a map-side
    partially aggregated groupBy."""
    return postings.groupBy("field", "term").agg(
        F.count("*").cast("long").alias("df")
    )


def _parquet_files(table_dir: str) -> list:
    """The data files Spark wrote into one table directory, in name
    order."""
    try:
        names = sorted(os.listdir(table_dir))
    except FileNotFoundError:
        return []
    return [
        os.path.join(table_dir, n) for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]


def _any_within(values: list, lo, hi) -> bool:
    """Whether the sorted ``values`` hold one in [lo, hi]."""
    i = bisect.bisect_left(values, lo)
    return i < len(values) and values[i] <= hi


class SegmentFiles:
    """Driver-side reads of the live segments' files with pyarrow: the dfs
    of a field's terms, the first dictionary terms under a prefix, and the
    stored ``id`` of a few doc ids — what Tantivy's searcher reads from a
    segment's term dictionary and doc store without a distributed job.

    A read opens only the row groups whose footer min/max statistics may
    hold what it looks for (``dict`` is sorted by (field, term), so a term
    lies in one row group per segment) and starts no Spark job. Footers
    are read once per snapshot, by the first lookup of each table; a
    column without statistics prunes nothing."""

    #: the columns whose min/max the lookups test
    BOUNDED = ("field", "term", "doc_id")

    def __init__(self, seg_dirs: list):
        self._dirs = list(seg_dirs)
        self._groups: dict = {}  # table -> [(path, footer, index, bounds)]

    def _row_groups(self, table: str) -> list:
        groups = self._groups.get(table)
        if groups is None:
            groups = []
            for d in self._dirs:
                for path in _parquet_files(os.path.join(d, table)):
                    footer = pq.read_metadata(path)
                    for i in range(footer.num_row_groups):
                        rg = footer.row_group(i)
                        bounds = {}
                        for j in range(rg.num_columns):
                            col = rg.column(j)
                            st = col.statistics
                            if (
                                col.path_in_schema in self.BOUNDED
                                and st is not None and st.has_min_max
                            ):
                                bounds[col.path_in_schema] = (st.min, st.max)
                        groups.append((path, footer, i, bounds))
            self._groups[table] = groups
        return groups

    @staticmethod
    def _read(group, columns: list) -> pa.Table:
        path, footer, i, _ = group
        with pq.ParquetFile(path, metadata=footer) as pf:
            return pf.read_row_group(i, columns=columns)

    def _pruned(self, table: str, **within) -> list:
        """The row groups of ``table`` whose (min, max) of each named
        column its test ``(lo, hi) -> bool`` admits."""
        return [
            g for g in self._row_groups(table)
            if all(c not in g[3] or ok(*g[3][c]) for c, ok in within.items())
        ]

    def term_dfs(self, field: str, terms: list) -> dict:
        """Each term's df summed over the live segments; absent terms are
        left out."""
        want = sorted(set(terms))
        found: dict = {}
        for g in self._pruned(
            "dict", field=lambda lo, hi: lo <= field <= hi,
            term=lambda lo, hi: _any_within(want, lo, hi),
        ):
            t = self._read(g, ["field", "term", "df"])
            t = t.filter(pc.and_(
                pc.equal(t["field"], field),
                pc.is_in(t["term"], value_set=pa.array(want, pa.string())),
            ))
            for term, df in zip(t["term"].to_pylist(), t["df"].to_pylist()):
                found[term] = found.get(term, 0) + df
        return found

    def term_head(self, field: str, prefix: str, n: int) -> list:
        """The first ``n`` raw dict rows of ``field`` whose term starts with
        ``prefix``, in term order (a term repeats once per segment holding
        it). Row groups are read in order of their smallest term, and once
        ``n`` rows are held, a row group whose smallest term sorts after
        all of them is not read, nor is any after it."""
        def lowest(g) -> str:
            return g[3].get("term", ("",))[0]

        groups = self._pruned(
            "dict", field=lambda lo, hi: lo <= field <= hi,
            term=lambda lo, hi: hi >= prefix
            and (lo <= prefix or lo.startswith(prefix)),
        )
        head: list = []
        for g in sorted(groups, key=lowest):
            if len(head) >= n and lowest(g) > head[-1]:
                break
            t = self._read(g, ["field", "term"])
            t = t.filter(pc.and_(
                pc.equal(t["field"], field), pc.starts_with(t["term"], prefix)
            ))
            head = heapq.nsmallest(n, head + t["term"].to_pylist())
        return head

    def ids(self, doc_ids: list) -> dict:
        """doc_id → stored ``id`` for the given doc ids (unique across the
        segments of a snapshot)."""
        want = sorted(set(doc_ids))
        out: dict = {}
        if not want:
            return out
        for g in self._pruned(
            "docs", doc_id=lambda lo, hi: _any_within(want, lo, hi)
        ):
            t = self._read(g, ["doc_id", "id"])
            t = t.filter(
                pc.is_in(t["doc_id"], value_set=pa.array(want, pa.int64()))
            )
            out.update(zip(t["doc_id"].to_pylist(), t["id"].to_pylist()))
        return out


def id_ordered(entries: list) -> bool:
    """Whether ``doc_id`` order is ``id`` order over the live entries: each
    entry is id-ordered and its smallest id sorts after the previous
    entry's largest. An entry without these fields (written by an older
    version) is not id-ordered. Tombstones keep the order: deleting docs
    removes both orders' rows alike."""
    last = None
    for e in entries:
        if not e.get("name"):  # pure-delete commit
            continue
        if not e.get("id_ordered") or not e.get("id_range"):
            return False
        low, high = e["id_range"]
        if last is not None and low <= last:
            return False
        last = high
    return True


class IndexStorage:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.join(path, "segments"), exist_ok=True)
        os.makedirs(os.path.join(path, "snapshots"), exist_ok=True)

    # --- manifest plumbing -------------------------------------------------
    def _head_path(self) -> str:
        return os.path.join(self.path, "HEAD")

    def current_version(self) -> int:
        try:
            with open(self._head_path()) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return 0

    def read_manifest(self, version: int) -> dict:
        if version == 0:
            return {"version": 0, "segments": [], "next_doc_id": 0, "schema": None}
        with open(os.path.join(self.path, "snapshots", f"v{version:06d}.json")) as fh:
            return json.load(fh)

    def commit(self, manifest: dict) -> int:
        """Write manifest v+1 and atomically swap HEAD to it."""
        version = self.current_version() + 1
        manifest = dict(manifest, version=version, committed_at=time.time())
        mpath = os.path.join(self.path, "snapshots", f"v{version:06d}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, mpath)
        htmp = self._head_path() + ".tmp"
        with open(htmp, "w") as fh:
            fh.write(str(version))
        os.replace(htmp, self._head_path())
        return version

    # --- tombstone side-tables ------------------------------------------------
    def write_tombstone_table(self, ids_df) -> str:
        """Persist a (possibly huge) delete set as a parquet side-table and
        return its name. The manifest then references the table by name
        instead of inlining the ids — a 100 TB ``availableNow`` backfill
        batch can tombstone billions of ids without the manifest JSON (or
        the driver's Python heap) ever materializing them; the read path
        (Snapshot.context) anti-joins the table exactly like the inline
        list it replaces."""
        name = f"ts-{uuid.uuid4().hex[:12]}"
        write_table(
            ids_df.select(F.col(ids_df.columns[0]).cast("string").alias("id"))
            .distinct(),
            os.path.join(self.path, "tombstones", name),
        )
        return name

    def read_tombstone_table(self, spark: SparkSession, name: str):
        return spark.read.schema(TOMBSTONE_SCHEMA).parquet(
            os.path.join(self.path, "tombstones", name)
        )

    # --- segment IO ---------------------------------------------------------
    def write_segment(
        self, tables: dict, tombstones=None, name: str | None = None
    ) -> dict:
        """Persist one segment's tables; returns its manifest entry. Does NOT
        commit — a crash here leaves an unreferenced directory, never a
        corrupt index (the resumability contract).

        ``tables`` holds the ``docs`` and ``postings`` DataFrames and
        ``stats``, a 0-arg callable returning what else goes into the
        entry: the BM25 totals (``{"num_docs": n, "tokens": {field:
        total_tokens}}``), ``id_range`` and ``id_ordered``.
        The two writes and that aggregation are independent reads of the
        same input, so they are submitted from a small thread pool: the
        later jobs' tasks back-fill executors idling in the earlier jobs'
        stragglers (one job alone rarely fills the cluster, e.g. the
        postings range-sort runs at its data-sized partition count). Spark
        runs concurrent actions FIFO, which is exactly the back-fill
        wanted; failures propagate out of pool.map. The ``dict`` is then
        derived from the freshly-written postings files (dict_table), never
        by re-running the build lineage, and written sorted by (field,
        term) for ``SegmentFiles``."""
        from concurrent.futures import ThreadPoolExecutor

        name = name or f"seg-{uuid.uuid4().hex[:12]}"
        seg_dir = os.path.join(self.path, "segments", name)

        def _run(tname):
            if tname == "stats":
                return tables["stats"]()
            write_table(tables[tname], os.path.join(seg_dir, tname))

        with ThreadPoolExecutor(max_workers=3) as pool:
            *_, totals = pool.map(_run, ("docs", "postings", "stats"))
        spark = tables["postings"].sparkSession
        stored = spark.read.schema(POSTINGS_SCHEMA).parquet(
            os.path.join(seg_dir, "postings")
        )
        write_table(
            dict_table(stored).orderBy("field", "term"),
            os.path.join(seg_dir, "dict"),
        )
        if isinstance(tombstones, DataFrame):
            entry = {
                "name": name, "tombstones": [],
                "tombstone_table": self.write_tombstone_table(tombstones),
            }
        else:
            entry = {"name": name, "tombstones": sorted(tombstones or [])}
        return {**entry, **totals}

    def load_segment(
        self, spark: SparkSession, entry: dict, schema: IndexSchema
    ) -> dict:
        """The segment's tables, read with their fixed schemas: no Spark job
        infers one from the files. A docs column the schema does not name
        (an older segment's ``<facet>__ancestors``) is not read."""
        seg_dir = os.path.join(self.path, "segments", entry["name"])
        schemas = {
            "docs": docs_schema(schema), "postings": POSTINGS_SCHEMA,
            "dict": DICT_SCHEMA,
        }
        return {
            t: spark.read.schema(schemas[t]).parquet(os.path.join(seg_dir, t))
            for t in TABLES
        }


class Snapshot:
    """A pinned view of the index at one manifest version."""

    def __init__(self, spark: SparkSession, storage: IndexStorage, version: int):
        self.spark = spark
        self.storage = storage
        self.version = version
        self.manifest = storage.read_manifest(version)

    @property
    def schema(self) -> IndexSchema | None:
        blob = self.manifest.get("schema")
        return IndexSchema.from_json(blob) if blob else None

    @property
    def next_doc_id(self) -> int:
        return int(self.manifest.get("next_doc_id", 0))

    def context(self) -> SearchContext:
        """Union the live segments, applying each segment's tombstones to all
        segments that precede it (delete-then-add upsert semantics,
        src/index.rs:182-185)."""
        entries = self.manifest["segments"]
        schema = self.schema
        loaded = [
            self.storage.load_segment(self.spark, e, schema)
            if e.get("name") else None
            for e in entries
        ]
        # ids deleted by any LATER segment apply to this one
        docs_parts, post_parts, dict_parts = [], [], []
        totals: dict = {}  # field -> (num_docs, total_tokens)
        untallied = None
        for i, (entry, seg) in enumerate(zip(entries, loaded)):
            if seg is None:  # pure-delete commit: tombstones only
                continue
            dead: set = set()
            dead_tables: list = []
            for later in entries[i + 1 :]:
                dead.update(later.get("tombstones", []))
                if later.get("tombstone_table"):
                    dead_tables.append(later["tombstone_table"])
            docs, postings = seg["docs"], seg["postings"]
            if dead or dead_tables:
                import pandas as pd

                parts = []
                if dead:
                    parts.append(
                        self.spark.createDataFrame(
                            pd.DataFrame({"id": sorted(dead)}),
                            schema=TOMBSTONE_SCHEMA,
                        )
                    )
                parts.extend(
                    self.storage.read_tombstone_table(self.spark, t)
                    for t in dead_tables
                )
                dead_df = parts[0]
                for p in parts[1:]:
                    dead_df = dead_df.unionByName(p)
                # resolve tombstoned ids to this segment's doc_ids ONCE: the
                # dead set (bounded by deletes since the last merge) sits on
                # the build side — broadcasting the live docs would ship
                # nearly the whole segment. Inline lists (delete_by_query's
                # max_deletes-bounded path) are always broadcastable; a
                # parquet tombstone table from a giant streaming upsert
                # batch may not be, so there AQE picks the strategy from
                # the table's actual size instead of a forced hint.
                if not dead_tables:
                    dead_df = F.broadcast(dead_df)
                seg_dead_docs = (
                    seg["docs"].join(dead_df, "id", "left_semi").select("doc_id")
                )
                docs = docs.join(dead_df, "id", "left_anti")
                if not dead_tables:
                    seg_dead_docs = F.broadcast(seg_dead_docs)
                postings = postings.join(seg_dead_docs, "doc_id", "left_anti")
            docs_parts.append(docs)
            post_parts.append(postings)
            dict_parts.append(seg["dict"])
            if "tokens" not in entry:
                untallied = untallied or entry["name"]
            for f, tot in entry.get("tokens", {}).items():
                n0, tot0 = totals.get(f, (0, 0))
                totals[f] = (n0 + entry["num_docs"], tot0 + tot)

        def union_all(parts):
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        seg_dirs = [
            os.path.join(self.storage.path, "segments", e["name"])
            for e in entries if e.get("name")
        ]
        if not docs_parts:
            return SearchContext(
                docs=self.spark.createDataFrame([], "doc_id long, id string"),
                postings=self.spark.createDataFrame([], POSTINGS_SCHEMA),
                dictionary=self.spark.createDataFrame([], DICT_SCHEMA),
                files=SegmentFiles(seg_dirs),
                totals={},
                segments=0,
            )

        # NOTE: dict df / BM25 totals still include tombstoned docs until the
        # next merge/compaction — the same freshness tradeoff Tantivy makes
        # (deleted docs affect BM25 stats until segments merge).
        # Nothing is cached: the driver reads dfs, prefix heads and the hits'
        # ids from the files (SegmentFiles), and every scan reads Parquet
        # with its pushdown.
        return SearchContext(
            docs=union_all(docs_parts),
            postings=union_all(post_parts),
            dictionary=union_all(dict_parts),
            files=SegmentFiles(seg_dirs),
            totals=totals,
            segments=len(dict_parts),
            untallied=untallied,
            id_ordered=id_ordered(entries),
        )
