"""Snapshot storage: segments + manifests over Parquet.

The Spark-native analog of Tantivy's segment directory + meta.json
(/root/reference/src/index.rs:35-121, commit at :229-236, reload at :238-242):

- each commit writes one immutable *segment* directory holding the four index
  tables (docs/postings/dict/stats) as Parquet, plus an optional tombstone
  list of deleted doc ``id``s applying to all OLDER segments;
- a JSON *manifest* lists the live segments of a version;
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

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from tantiny_spark.build import POSTINGS_SCHEMA, STATS_SCHEMA
from tantiny_spark.executor import SearchContext
from tantiny_spark.schema import IndexSchema

TABLES = ("docs", "postings", "dict", "stats")


def dict_table(postings: DataFrame) -> DataFrame:
    """The term dictionary (field, term, df) of a postings table: one row
    per posting, so df is the row count per (field, term), a map-side
    partially aggregated groupBy."""
    return postings.groupBy("field", "term").agg(
        F.count("*").cast("long").alias("df")
    )


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
        ids_df.select(F.col(ids_df.columns[0]).cast("string").alias("id")) \
            .distinct().write.mode("overwrite").parquet(
                os.path.join(self.path, "tombstones", name)
            )
        return name

    def read_tombstone_table(self, spark: SparkSession, name: str):
        return spark.read.parquet(os.path.join(self.path, "tombstones", name))

    # --- segment IO ---------------------------------------------------------
    def write_segment(
        self, tables: dict, tombstones=None, name: str | None = None
    ) -> dict:
        """Persist one segment's tables; returns its manifest entry. Does NOT
        commit — a crash here leaves an unreferenced directory, never a
        corrupt index (the resumability contract).

        ``tables`` holds ``docs``, ``postings`` and ``stats``, each a
        DataFrame or a 0-arg callable returning one (the build defers its
        stats aggregation that way). The three are independent reads of
        the staged analyzer output, so they are submitted from a small
        thread pool: the later jobs' tasks back-fill executors idling in
        the earlier jobs' stragglers (one job alone rarely fills the
        cluster, e.g. the postings range-sort runs at its data-sized
        partition count). Spark runs concurrent actions FIFO, which is
        exactly the back-fill wanted; failures propagate out of pool.map.
        The ``dict`` is then derived from the freshly-written postings
        files (dict_table), never by re-running the build lineage."""
        from concurrent.futures import ThreadPoolExecutor

        name = name or f"seg-{uuid.uuid4().hex[:12]}"
        seg_dir = os.path.join(self.path, "segments", name)

        def _write(tname):
            df = tables[tname]
            if callable(df):
                df = df()
            df.write.mode("overwrite").parquet(os.path.join(seg_dir, tname))

        with ThreadPoolExecutor(max_workers=3) as pool:
            for _ in pool.map(_write, ("docs", "postings", "stats")):
                pass
        spark = tables["postings"].sparkSession
        stored = spark.read.parquet(os.path.join(seg_dir, "postings"))
        dict_table(stored).write.mode("overwrite").parquet(
            os.path.join(seg_dir, "dict")
        )
        if isinstance(tombstones, DataFrame):
            entry = {
                "name": name, "tombstones": [],
                "tombstone_table": self.write_tombstone_table(tombstones),
            }
        else:
            entry = {"name": name, "tombstones": sorted(tombstones or [])}
        return entry

    def load_segment(self, spark: SparkSession, entry: dict) -> dict:
        seg_dir = os.path.join(self.path, "segments", entry["name"])
        out = {}
        for t in TABLES:
            tdir = os.path.join(seg_dir, t)
            out[t] = spark.read.parquet(tdir) if os.path.exists(tdir) else None
        return out


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
        if not entries:
            empty_docs = self.spark.createDataFrame([], "doc_id long, id string")
            empty_stats = self.spark.createDataFrame([], STATS_SCHEMA)
            empty_dict = self.spark.createDataFrame(
                [], "field string, term string, df long"
            )
            return SearchContext(
                docs=empty_docs,
                postings=self.spark.createDataFrame([], POSTINGS_SCHEMA),
                dictionary=empty_dict,
                stats=empty_stats,
            )

        loaded = [
            self.storage.load_segment(self.spark, e) if e.get("name") else None
            for e in entries
        ]
        # ids deleted by any LATER segment apply to this one
        docs_parts, post_parts, dict_parts, stats_parts = [], [], [], []
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
                            pd.DataFrame({"id": sorted(dead)}), schema="id string"
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
            stats_parts.append(seg["stats"])

        def union_all(parts):
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
            return out

        if not docs_parts:
            return Snapshot(self.spark, self.storage, 0).context()

        docs = union_all(docs_parts)
        postings = union_all(post_parts)
        # NOTE: dict df / stats counts still include tombstoned docs until the
        # next merge/compaction — the same freshness tradeoff Tantivy makes
        # (deleted docs affect BM25 stats until segments merge).
        # The repeatedly-probed SMALL tables stay hot: the (doc_id, id) map
        # (every top-k joins it), the dictionary and the stats. The full docs
        # table is deliberately NOT cached — at web scale it cannot be, and
        # range/negation want Parquet scans with fast-field min/max pushdown
        # rather than a full in-memory relation. postings likewise stay on
        # Parquet: term lookups prune them.
        return SearchContext(
            docs=docs,
            ids=docs.select("doc_id", "id").persist(),
            postings=postings,
            dictionary=union_all(dict_parts).persist(),
            stats=union_all(stats_parts).persist(),
        )
