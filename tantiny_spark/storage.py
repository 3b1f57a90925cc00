"""Snapshot storage: segments + manifests over Parquet.

The Spark-native analog of Tantivy's segment directory + meta.json
(/root/reference/src/index.rs:35-121, commit at :229-236, reload at :238-242):

- each commit writes one immutable *segment* directory holding the three
  index tables (docs/postings/dict) as Parquet;
- a JSON *manifest* lists the live segments of a version, each entry with
  its BM25 totals ``"num_docs": n, "tokens": {field: total_tokens}`` (what
  Tantivy keeps in segment metadata), summed by readers on the driver, its
  ``"id_runs"`` (``rank_runs``) and the doc ids its commit deleted;
- deletes are resolved to ``doc_id``s at commit (``resolve_deletes``), as
  Tantivy fixes a delete bitset at commit (src/index.rs:182-185): a doc id
  is unique across a snapshot (``next_doc_id`` only grows, a merge keeps
  doc ids), so a snapshot reads each table ONCE over every live segment
  and applies every delete as one filter (``Snapshot.context``);
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
- every table is read with its fixed schema (``read_tables``), so loading
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
import functools
import heapq
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from tantiny_spark.build import POSTINGS_SCHEMA, docs_schema
from tantiny_spark.executor import SearchContext, _sql_str
from tantiny_spark.schema import IndexSchema

TABLES = ("docs", "postings", "dict")
DICT_SCHEMA = "field string, term string, df long"
TOMBSTONE_SCHEMA = "id string, doc_id long"

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


def _id_in(ids) -> Column:
    """``id IN (...)`` over literal ids, built in one JVM call (like
    executor._term_in) and pushed down to the docs scan."""
    return F.expr(f"id IN ({', '.join(map(_sql_str, sorted(ids)))})")


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


def rank_runs(entries: list) -> list | None:
    """The live entries' ``"id_runs": [[doc_lo, doc_hi, id_lo, id_hi],
    ...]``, doc id ranges whose ``doc_id`` order is their ``id`` order, in
    doc id order, when their id ranges are pairwise disjoint (else None):
    then ``id`` order is (run rank by id, ``doc_id``) order and hits rank
    without the (doc_id, id) join (executor._top_doc_ids). A run that
    follows the previous one in both orders is folded into it. A build
    writes one run (``doc_id = base + rank(id)``), a merge these runs (it
    keeps doc ids). An entry without runs (a null id, an older version)
    or overlapping ranges (an upsert re-adding an id, interleaved ids)
    leave none; deletes remove both orders' rows alike."""
    runs: list = []
    for e in entries:
        if not e.get("name"):  # pure-delete commit
            continue
        if not e.get("id_runs"):
            return None
        runs.extend(e["id_runs"])
    by_id = sorted(runs, key=lambda r: r[2])
    if any(a[3] >= b[2] for a, b in zip(by_id, by_id[1:])):
        return None
    succ = {tuple(a): b for a, b in zip(by_id, by_id[1:])}
    out: list = []
    for r in sorted(runs):
        if out and succ.get(tuple(prev)) == r:
            out[-1] = [out[-1][0], r[1], out[-1][2], r[3]]
        else:
            out.append(list(r))
        prev = r
    return out


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

    # --- deletes -------------------------------------------------------------
    def resolve_deletes(self, docs: DataFrame, deletes) -> dict:
        """A commit's deleted ids as manifest-entry fields, keyed by the
        ``doc_id``s they hit among ``docs``, the live docs of the segments
        the commit stacks on: one job per commit instead of a semi-join in
        every query. An id list (a transaction, delete_by_query: bounded)
        becomes an inline ``"tombstones"`` doc id list, read by one ``id
        IN (...)`` scan of the docs. A DataFrame (a streaming batch,
        possibly huge) is written as a Parquet ``"tombstone_table"`` of
        each id with the doc id it hit (null when none), so its ids reach
        neither the driver nor the manifest JSON."""
        if isinstance(deletes, DataFrame):
            ids = deletes.select(
                F.col(deletes.columns[0]).cast("string").alias("id")
            ).distinct()
            name = f"ts-{uuid.uuid4().hex[:12]}"
            write_table(
                ids.join(docs.select("id", "doc_id"), "id", "left"),
                os.path.join(self.path, "tombstones", name),
            )
            return {"tombstones": [], "tombstone_table": name}
        if not deletes:
            return {"tombstones": []}
        hit = docs.where(_id_in(deletes)).select("doc_id")
        return {"tombstones": sorted(r[0] for r in hit.collect())}

    def holds_doc_ids(self, table: str) -> bool:
        """Whether a tombstone table was resolved at commit: its footer
        (read on the driver, no job) names a ``doc_id`` column."""
        files = _parquet_files(os.path.join(self.path, "tombstones", table))
        return bool(files) and "doc_id" in pq.read_schema(files[0]).names

    def read_tombstone_table(self, spark: SparkSession, name: str):
        return spark.read.schema(TOMBSTONE_SCHEMA).parquet(
            os.path.join(self.path, "tombstones", name)
        )

    # --- segment IO ---------------------------------------------------------
    def write_segment(self, tables: dict, name: str | None = None) -> dict:
        """Persist one segment's tables; returns its manifest entry. Does NOT
        commit — a crash here leaves an unreferenced directory, never a
        corrupt index (the resumability contract).

        ``tables`` holds the ``docs`` and ``postings`` DataFrames and
        ``stats``, a 0-arg callable returning what else goes into the
        entry: the BM25 totals (``{"num_docs": n, "tokens": {field:
        total_tokens}}``) and ``id_runs``.
        The two writes and that aggregation are independent reads of the
        same input, so they are submitted from a small thread pool: the
        later jobs' tasks back-fill executors idling in the earlier jobs'
        stragglers (one job alone rarely fills the cluster, e.g. the
        postings range-sort runs at its data-sized partition count). Spark
        runs concurrent actions FIFO, which is exactly the back-fill
        wanted; failures propagate out of pool.map. Each thread runs under
        the caller's local properties (its job group, so a build's jobs
        count in the caller's group). The ``dict`` is then
        derived from the freshly-written postings files (dict_table), never
        by re-running the build lineage, and written sorted by (field,
        term) for ``SegmentFiles``."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        name = name or f"seg-{uuid.uuid4().hex[:12]}"
        seg_dir = os.path.join(self.path, "segments", name)
        spark = tables["postings"].sparkSession

        @inheritable_thread_target(spark)
        def _run(tname):
            if tname == "stats":
                return tables["stats"]()
            write_table(tables[tname], os.path.join(seg_dir, tname))

        with ThreadPoolExecutor(max_workers=3) as pool:
            *_, totals = pool.map(_run, ("docs", "postings", "stats"))
        stored = spark.read.schema(POSTINGS_SCHEMA).parquet(
            os.path.join(seg_dir, "postings")
        )
        write_table(
            dict_table(stored).orderBy("field", "term"),
            os.path.join(seg_dir, "dict"),
        )
        return {"name": name, **totals}

    def read_tables(
        self, spark: SparkSession, names: list, schema: IndexSchema
    ) -> dict:
        """The named segments' docs, postings and dict, each read ONCE over
        every segment directory with its fixed schema: no Spark job infers
        one from the files. A docs column the schema does not name (an
        older segment's ``<facet>__ancestors``) is not read. Spark lists
        more paths than ``spark.sql.sources.parallelPartitionDiscovery.
        threshold`` in a Spark job, so the directories are read in groups
        of at most that many, unioned: the driver lists them, with no job."""
        schemas = {  # an empty index's manifest holds no schema yet
            "docs": docs_schema(schema) if schema else "doc_id long, id string",
            "postings": POSTINGS_SCHEMA, "dict": DICT_SCHEMA,
        }
        cap = max(1, int(spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold"
        )))
        # an empty name list still reads one (empty) group
        starts = range(0, max(len(names), 1), cap)
        tables = {}
        for t in TABLES:
            dirs = [os.path.join(self.path, "segments", n, t) for n in names]
            groups = [
                spark.read.schema(schemas[t]).parquet(*dirs[i:i + cap])
                for i in starts
            ]
            tables[t] = functools.reduce(DataFrame.union, groups)
        return tables


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
        """Every table read once over the live segments, with every entry's
        deletes applied as one filter: the inline doc ids as a ``doc_id NOT
        IN (...)`` literal (no job), the tombstone tables' doc ids as one
        anti-join. An entry written before deletes were resolved at commit
        holds ids (strings, or a table without ``doc_id``): they hit the
        docs of the segments before it, a semi-join added to the anti-join
        until a merge drops the entry."""
        entries = self.manifest["segments"]
        names = [e["name"] for e in entries if e.get("name")]
        tables = self.storage.read_tables(self.spark, names, self.schema)
        docs, postings = tables["docs"], tables["postings"]
        dead: list = []  # inline doc ids
        frames: list = []  # DataFrame[doc_id]
        older = 0  # live segments before the entry
        for e in entries:
            ids, table = e.get("tombstones") or [], e.get("tombstone_table")
            if table and self.storage.holds_doc_ids(table):
                frames.append(
                    self.storage.read_tombstone_table(self.spark, table)
                    .select("doc_id")
                )
            elif table or (ids and isinstance(ids[0], str)):  # keyed by id
                before = self.storage.read_tables(
                    self.spark, names[:older], self.schema
                )["docs"]
                hit = before.join(
                    self.storage.read_tombstone_table(self.spark, table)
                    .select("id"), "id", "left_semi",
                ) if table else before.where(_id_in(ids))
                frames.append(hit.select("doc_id"))
            else:
                dead.extend(ids)
            older += bool(e.get("name"))
        if dead:
            listed = ", ".join(map(str, sorted(set(dead))))
            keep = F.expr(f"doc_id NOT IN ({listed})")
            docs, postings = docs.where(keep), postings.where(keep)
        if frames:
            gone = frames[0]
            for f in frames[1:]:
                gone = gone.unionByName(f)
            docs = docs.join(gone, "doc_id", "left_anti")
            postings = postings.join(gone, "doc_id", "left_anti")

        totals: dict = {}  # field -> (num_docs, total_tokens)
        untallied = None
        for e in entries:
            if not e.get("name"):
                continue
            if "tokens" not in e:
                untallied = untallied or e["name"]
            for f, tot in e.get("tokens", {}).items():
                n0, tot0 = totals.get(f, (0, 0))
                totals[f] = (n0 + e["num_docs"], tot0 + tot)

        # NOTE: dict df / BM25 totals still include deleted docs until the
        # next merge/compaction — the same freshness tradeoff Tantivy makes
        # (deleted docs affect BM25 stats until segments merge).
        # Nothing is cached: the driver reads dfs, prefix heads and the hits'
        # ids from the files (SegmentFiles), and every scan reads Parquet
        # with its pushdown.
        return SearchContext(
            docs=docs,
            postings=postings,
            dictionary=tables["dict"],
            files=SegmentFiles([
                os.path.join(self.storage.path, "segments", n) for n in names
            ]),
            totals=totals,
            segments=len(names),
            untallied=untallied,
            id_runs=rank_runs(entries),
        )
