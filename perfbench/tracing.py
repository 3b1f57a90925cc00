"""Per-layer tracing, installed only for ``--trace 1``.

Every span is recorded from outside the library: :meth:`Tracer.install`
wraps the public functions at each layer boundary (build, storage, snapshot,
index, executor, wand) plus PySpark's ``DataFrame.collect`` and
``DataFrameWriter.parquet`` and the py4j gateway client. An untraced run
creates a :class:`NullTracer`, which patches nothing and adds no Spark jobs.

Spans stay in memory; Spark job statistics are read back from the status
store once, after the measured window, so reading them costs the measured
operations nothing.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

#: tables a segment write produces; staging/tombstone writes get their own
#: buckets (``storage.write.<table>_s``)
WRITE_TABLES = ("docs", "postings", "blocks", "dict", "stats", "staging")
#: executor phases timed inside ``Index.search_df``/``search_many``
EXECUTOR_PHASES = ("prime_stats", "compile_plan", "top_k", "try_wand")


class NullTracer:
    """The untraced run: no patches, no job groups, no counters."""

    def op(self, kind: str, measured: bool = True):
        return nullcontext()

    def span(self, name: str):
        return nullcontext()

    def close(self) -> None:
        pass


def dir_bytes(path) -> int:
    """Bytes of the data files under ``path`` (no markers or checksums)."""
    total = 0
    for base, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(base, f))
            for f in files if not f.startswith((".", "_"))
        )
    return total


def _write_table(path: str) -> str:
    name = os.path.basename(os.path.normpath(path))
    if name in WRITE_TABLES:
        return name
    parts = os.path.normpath(path).split(os.sep)
    return "staging" if "staging" in parts else "other"


class Tracer:
    """Spans and counters of a traced run; :meth:`install` patches, and
    :meth:`close` restores, every wrapped function."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []  # finished spans, in end order
        self._stack: list = []  # open spans of the client thread
        self._client = threading.get_ident()
        self._py4j = 0
        self._lock = threading.Lock()
        self._quiet = threading.local()
        self._restore: list = []
        self._op = None  # current op span
        self._n_ops = 0
        self._n_spans = 0

    # --- counters -----------------------------------------------------------
    @contextmanager
    def _silent(self):
        """Tracer's own py4j calls are not counted against the op."""
        prev = getattr(self._quiet, "on", False)
        self._quiet.on = True
        try:
            yield
        finally:
            self._quiet.on = prev

    def _next_job_id(self) -> int:
        with self._silent():
            return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    # --- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time ``name`` on the client thread, with the py4j calls and the
        Spark job ids it covers. Spans opened by the library's writer
        threads are leaves: duration only."""
        parent = self._stack[-1] if self._stack else None
        self._n_spans += 1
        rec = {
            "id": self._n_spans,
            "name": name,
            "op": self._op["id"] if self._op else None,
            "measured": bool(self._op and self._op["measured"]),
            "parent": parent["name"] if parent else None,
            "parent_id": parent["id"] if parent else None,
        }
        if threading.get_ident() != self._client:
            rec["t0"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["t1"] = time.perf_counter()
                with self._lock:
                    self.spans.append(rec)
            return
        rec["job0"] = self._next_job_id()
        rec["py4j0"] = self._py4j
        self._stack.append(rec)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            rec["py4j"] = self._py4j - rec.pop("py4j0")
            rec["job1"] = self._next_job_id()
            self.spans.append(rec)

    @contextmanager
    def op(self, kind: str, measured: bool = True):
        """One client operation: its own Spark job group and root span.
        Jobs are attributed by job-id range, because the library's writer
        thread pool does not inherit the client thread's job group."""
        self._n_ops += 1
        op = {"id": self._n_ops, "measured": measured}
        with self._silent():
            self.sc.setJobGroup(f"perfbench-{self._n_ops}-{kind}", kind)
        self._op = op
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None
            with self._silent():
                self.sc._jsc.clearJobGroup()

    # --- patching -----------------------------------------------------------
    def _patch(self, owner, attr: str, make):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _timed(self, owner, attr: str, name: str):
        tracer = self

        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

            return wrapper

        self._patch(owner, attr, make)

    def install(self) -> "Tracer":
        import pyspark.sql.classic.dataframe as classic_df
        import pyspark.sql.readwriter as readwriter
        import tantiny_spark.executor as executor
        import tantiny_spark.index as index
        from tantiny_spark.storage import IndexStorage, Snapshot

        tracer = self
        Index = index.Index

        # build / storage / snapshot / index layers
        self._timed(index, "build_segment", "build.build_segment")
        self._timed(IndexStorage, "write_segment", "storage.write_segment")
        self._timed(IndexStorage, "commit", "storage.commit")
        self._timed(Snapshot, "context", "snapshot.context")
        self._timed(Index, "merge_segments", "index.merge_segments")

        def reload(orig):
            def wrapper(ix, *args, **kwargs):
                with tracer.span("snapshot.open") as rec:
                    out = orig(ix, *args, **kwargs)
                rec["segments"] = sum(
                    1 for s in ix.snapshot.manifest["segments"] if s.get("name")
                )
                return out

            return wrapper

        self._patch(Index, "reload", reload)

        # executor phases: the names Index resolves at call time
        for name in ("prime_stats", "compile_plan", "top_k"):
            self._timed(index, name, f"executor.{name}")
        # search_many imports this from the executor module per call
        self._timed(executor, "prime_stats_many", "executor.prime_stats")

        def try_wand(orig):
            def wrapper(*args, **kwargs):
                with tracer.span("executor.try_wand") as rec:
                    out = orig(*args, **kwargs)
                rec["fired"] = out is not None
                return out

            return wrapper

        self._patch(index, "try_wand_topk", try_wand)

        def cached(kind):
            def make(orig):
                def wrapper(ix, *args, **kwargs):
                    before = set(ix._query_cache)
                    with tracer.span(f"index.{kind}") as rec:
                        out = orig(ix, *args, **kwargs)
                    rec["hit"] = set(ix._query_cache) <= before
                    return out

                return wrapper

            return make

        self._patch(Index, "search_df", cached("search"))
        self._patch(Index, "search_many", cached("search_many"))

        # Spark boundary: Catalyst planning vs execution of every collect
        def collect(orig):
            def wrapper(df):
                with tracer.span("spark.plan"):
                    with tracer._silent():
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.exec"):
                    return orig(df)

            return wrapper

        self._patch(classic_df.DataFrame, "collect", collect)

        def parquet(orig):
            def wrapper(writer, path, *args, **kwargs):
                table = _write_table(path)
                with tracer.span(f"storage.write.{table}") as rec:
                    out = orig(writer, path, *args, **kwargs)
                rec["bytes"] = dir_bytes(path)
                return out

            return wrapper

        self._patch(readwriter.DataFrameWriter, "parquet", parquet)

        # py4j round trips: every call through the gateway client
        client = self.sc._gateway._gateway_client

        def send(orig):
            def wrapper(*args, **kwargs):
                if not getattr(tracer._quiet, "on", False):
                    with tracer._lock:
                        tracer._py4j += 1
                return orig(*args, **kwargs)

            return wrapper

        self._patch(client, "send_command", send)
        return self

    def close(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # --- read-back ----------------------------------------------------------
    def _job_stats(self, job_ids) -> dict:
        """(tasks, task seconds, shuffle write bytes) per job, from the
        status store. Skipped stages ran in an earlier job and count there."""
        sc = self.sc
        out = {}
        with self._silent():
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            store = sc._jsc.sc().statusStore()
            tracker = sc.statusTracker()
            for jid in sorted(job_ids):
                info = tracker.getJobInfo(jid)
                tasks = run_ms = shuffle = 0
                for sid in list(info.stageIds) if info else []:
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    tasks += sd.numTasks()
                    run_ms += sd.executorRunTime()
                    shuffle += sd.shuffleWriteBytes()
                out[jid] = (tasks, run_ms / 1000.0, shuffle)
        return out

    def metrics(self) -> dict:
        """Per-layer metrics over the measured operations (see README)."""
        spans = [s for s in self.spans if s["measured"]]
        by: dict = {}
        for s in spans:
            by.setdefault(s["name"], []).append(s)
        ops = [s for s in spans if s["name"].startswith("op.")]
        jobs = self._job_stats(
            {j for s in ops for j in range(s["job0"], s["job1"])}
        )

        def dur(name):
            return [s["t1"] - s["t0"] for s in by.get(name, [])]

        def mean(values):
            return statistics.fmean(values) if values else 0.0

        def job_sum(ss, field):
            return sum(
                jobs[j][field] for s in ss for j in range(s["job0"], s["job1"])
                if j in jobs
            )

        m: dict = {}
        builds = by.get("build.build_segment", [])
        m["build.build_segment_s"] = (mean(dur("build.build_segment")), "s")
        m["build.jobs"] = (
            mean([s["job1"] - s["job0"] for s in builds]), "count")
        m["build.task_s"] = (job_sum(builds, 1) / len(builds) if builds else 0.0, "s")
        m["build.shuffle_write_bytes"] = (
            job_sum(builds, 2) / len(builds) if builds else 0.0, "bytes")
        m["storage.write_segment_s"] = (mean(dur("storage.write_segment")), "s")
        for t in WRITE_TABLES:
            m[f"storage.write.{t}_s"] = (mean(dur(f"storage.write.{t}")), "s")
            m[f"storage.bytes.{t}"] = (
                mean([s["bytes"] for s in by.get(f"storage.write.{t}", [])]), "bytes")
        m["storage.commit_s"] = (mean(dur("storage.commit")), "s")
        m["snapshot.open_s"] = (mean(dur("snapshot.open")), "s")
        m["snapshot.context_s"] = (mean([
            s["t1"] - s["t0"] for s in by.get("snapshot.context", [])
            if s["parent"] != "index.merge_segments"
        ]), "s")
        m["index.segments"] = (
            mean([s["segments"] for s in by.get("snapshot.open", [])]), "count")
        m["index.merge_segments_s"] = (mean(dur("index.merge_segments")), "s")
        searches = by.get("index.search", []) + by.get("index.search_many", [])
        m["index.lru_hit_ratio"] = (
            sum(s["hit"] for s in searches) / len(searches) if searches else 0.0,
            "ratio")
        m["plan.build_s"] = (mean(dur("plan.build")), "s")
        for phase in EXECUTOR_PHASES:
            m[f"executor.{phase}_s"] = (mean(dur(f"executor.{phase}")), "s")
            m[f"py4j.{phase}_calls"] = (
                mean([s["py4j"] for s in by.get(f"executor.{phase}", [])]), "count")
        tried = by.get("executor.try_wand", [])
        fired = sum(bool(s.get("fired")) for s in tried)
        m["wand.tried"] = (len(tried), "count")
        m["wand.fired"] = (fired, "count")
        m["wand.fired_ratio"] = (fired / len(tried) if tried else 0.0, "ratio")
        n = len(ops) or 1
        m["spark.plan_s"] = (sum(dur("spark.plan")) / n, "s")
        m["spark.exec_s"] = (sum(dur("spark.exec")) / n, "s")
        m["spark.jobs_per_op"] = (sum(s["job1"] - s["job0"] for s in ops) / n, "count")
        m["spark.tasks_per_op"] = (job_sum(ops, 0) / n, "count")
        m["spark.task_s_per_op"] = (job_sum(ops, 1) / n, "s")
        m["py4j.calls_per_op"] = (sum(s["py4j"] for s in ops) / n, "count")
        return m

    def self_times(self) -> dict:
        """Seconds of the measured window spent in each span name itself,
        net of its client-thread child spans (``op.*`` is the time no
        wrapped layer covers: benchmark and library glue). Writer-thread
        table writes overlap ``storage.write_segment`` and are not
        subtracted from it."""
        spans = [s for s in self.spans if s["measured"] and "job0" in s]
        child: dict = {}
        for s in spans:
            if s["parent_id"] is not None:
                child[s["parent_id"]] = child.get(s["parent_id"], 0.0) + s["t1"] - s["t0"]
        out: dict = {}
        for s in spans:
            own = s["t1"] - s["t0"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return dict(sorted(out.items(), key=lambda kv: -kv[1]))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
