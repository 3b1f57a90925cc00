"""The benchmark's workloads. Each drives the library only through its public
API (``Index``), with one closed-loop client: the next operation starts when
the previous one returns.

- ``ingest``: fresh bulk builds of the sf0.1 web corpus; each build is
  followed by one appended segment and ``merge_segments``. Build, analysis
  and storage layers do the work; queries only check the result.
- ``query_cold``: a seeded Zipf corpus is built during set-up, then a stream
  of distinct queries that all miss the compiled-query cache. Plan
  construction, executor, py4j and Catalyst do the work; the build is
  set-up only.
- ``upsert_serve``: the reference lifecycle over the sf0.1 index: small
  transactions, ``reload``, the first query, cache-hit draws from the bench
  suite and one ``search_many`` per cycle.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

import gen
from tracing import dir_bytes

#: bench.py's results_checksum over its 11-query suite at sf0.1
SUITE_CHECKSUM = "4d20e9338c1b61f6"
#: bench suite queries ingest ranks before and after every merge
INGEST_GATES = ("term", "term2", "bool_or", "phrase", "prefix", "smart")
#: untimed distinct queries (the first half round of the mix) query_cold
#: runs before its window: the JVM's first round runs ~1.6x slower than
#: later ones
WARMUP_QUERIES = 4
#: timed reloads query_cold makes after its query window; reload_ms is
#: their median
RELOADS = 3
#: suite draws per upsert_serve cycle
SERVE_DRAWS = 24
DOC_SCHEMA = "url string, text string, lang string, warc_ts timestamp"


def suite(index) -> list:
    """bench.py's 11-query suite, exactly as its ``main`` builds it."""
    return [
        ("term", index.term_query("text", "spark")),
        ("term2", index.term_query("text", "vector")),
        ("bool_and", index.term_query("text", "spark") & index.term_query("text", "merge")),
        ("bool_or", index.term_query("text", "hash") | index.term_query("text", "window")),
        ("bool_not", ~index.term_query("text", "spark")),
        ("phrase", index.phrase_query("text", "batch batch")),
        ("prefix", index.prefix_query("text", "sp")),
        ("fuzzy", index.fuzzy_term_query("text", "spork", 1)),
        ("smart", index.smart_query(["text"], "spark merg")),
        ("range_date", index.range_query("warc_ts", (datetime(2026, 1, 1), datetime(2027, 1, 1)))),
        ("string_term", index.term_query("lang", "en")),
    ]


@dataclass
class Env:
    spark: object
    seed: int
    work: Path  # scratch space, removed at exit
    state: Path  # survives runs: per-seed result records
    sf_dir: Path  # holds the sf0.1 documents.parquet


@dataclass
class Run:
    """Samples and correctness findings of one workload run."""

    seconds: float
    tracer: object
    samples: dict = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    info: dict = field(default_factory=dict)  # reported, not a metric
    setup_s: float | None = None
    _deadline: float = 0.0

    def start(self, t_process: float) -> None:
        """End of set-up: the measured window opens now."""
        now = time.perf_counter()
        self.setup_s = now - t_process
        self._deadline = now + self.seconds

    def expired(self) -> bool:
        return time.perf_counter() >= self._deadline

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)

    @contextmanager
    def timed(self, name: str, scale: float = 1000.0):
        """Sample the block's wall time (ms by default) under ``name``."""
        t0 = time.perf_counter()
        yield
        self.samples[name].append((time.perf_counter() - t0) * scale)

    @contextmanager
    def op(self, kind: str, measured: bool = True):
        """One client operation; measured ones count as attempted, and as
        failed when they raise."""
        self.attempted += measured
        try:
            with self.tracer.op(kind, measured):
                yield
        except Exception:
            self.failed += measured
            raise

    @staticmethod
    def guarded(fn):
        """Run one cycle of operations; a failure is logged and the loop goes
        on (the failed operation was counted by :meth:`op`)."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 — the loop must go on and report it
            traceback.print_exc(file=sys.stderr)
            return None


def _record_bytes(run: Run, ix, input_bytes: int) -> None:
    """Index bytes on disk per byte of input text, after a bulk build."""
    segments = os.path.join(ix.storage.path, "segments")
    run.samples["index_bytes_per_input_byte"].append(dir_bytes(segments) / input_bytes)


def _sf_text_bytes(sf_dir: Path) -> tuple[int, int]:
    table = pq.read_table(sf_dir / "documents.parquet", columns=["text"])
    return table.num_rows, sum(len(t.encode()) for t in table.column("text").to_pylist())


# --- ingest -------------------------------------------------------------------

def ingest(env: Env, run: Run, t_process: float) -> None:
    from bench import build_schema, corpus
    from tantiny_spark.index import Index

    spark, op = env.spark, run.op
    n_docs, text_bytes = _sf_text_bytes(env.sf_dir)
    src = corpus(spark, str(env.sf_dir), 1)
    with op("warmup", measured=False):
        # bench.py's untimed warm-up: worker fork and codegen before timing
        warm = Index(spark, str(env.work / "warm"), build_schema())
        warm.add_dataframe(src.limit(64))
        warm.reload()
        warm.search(warm.all_query(), limit=1)
    run.start(t_process)
    for cycle in itertools.count():
        if run.expired():
            break
        run.guarded(lambda: _ingest_cycle(env, run, src, cycle, n_docs, text_bytes))


def _ingest_cycle(env, run, src, cycle, n_docs, text_bytes) -> None:
    from bench import build_schema
    from tantiny_spark.index import Index

    spark, op = env.spark, run.op
    ix = Index(spark, str(env.work / f"ingest{cycle}"), build_schema())
    with op("build"), run.timed("build_s", 1.0):
        ix.add_dataframe(src)
    _record_bytes(run, ix, text_bytes)
    gates = dict(suite(ix))

    appended = gen.append_docs(env.seed, cycle)
    extra = spark.createDataFrame(
        pd.DataFrame(appended, columns=["url", "text", "lang", "warc_ts"]), DOC_SCHEMA
    )
    with op("append"), run.timed("commit_ms"):
        ix.add_dataframe(extra)
    total = n_docs + len(appended)

    def check_marker(j):
        doc = appended[j]
        marker = doc["text"].split()[0]
        got = ix.search(ix.term_query("text", marker), limit=10)
        run.check(got == [doc["url"]], f"append marker {marker}: {got}")

    with op("reload"), run.timed("reload_ms"):
        ix.reload()
        check_marker(0)
    # the build's n_docs plus the appended segment's
    run.check(ix.snapshot.next_doc_id == total,
              f"build + append: {ix.snapshot.next_doc_id} docs, want {total}")
    before = {}
    for name in INGEST_GATES:
        with op("query"), run.timed("cold_query_ms"):
            before[name] = ix.search(gates[name], limit=10)

    with op("merge"), run.timed("merge_s", 1.0):
        ix.merge_segments()
    stats = ix.last_merge_stats or {}
    run.check(stats.get("live_docs_rewritten") == total,
              f"merge rewrote {stats.get('live_docs_rewritten')} docs, want {total}")
    with op("reload"), run.timed("reload_ms"):
        ix.reload()
        check_marker(len(appended) - 1)
    for name in INGEST_GATES:
        with op("query"), run.timed("cold_query_ms"):
            after = ix.search(gates[name], limit=10)
        run.check(after == before[name],
                  f"{name} ranks changed by merge: {before[name]} -> {after}")


# --- query_cold ---------------------------------------------------------------

def query_cold(env: Env, run: Run, t_process: float) -> None:
    from bench import build_schema
    from tantiny_spark.index import Index

    spark, op = env.spark, run.op
    corpus = gen.zipf_corpus(env.seed)
    src_path = env.work / "zipf.parquet"
    pq.write_table(corpus.table, src_path)
    ix = Index(spark, str(env.work / "zipf"), build_schema())
    with op("build", measured=False), run.timed("build_s", 1.0):
        ix.add_dataframe(spark.read.parquet(str(src_path)))
    _record_bytes(run, ix, corpus.text_bytes)
    with op("open", measured=False):
        ix.reload()
        ix.search(ix.all_query(), limit=1)
    n = len(corpus.docs)
    run.check(ix.snapshot.next_doc_id == n,
              f"zipf build: {ix.snapshot.next_doc_id} docs, want {n}")

    record_path = env.state / f"query_cold-{env.seed}.json"
    record = json.loads(record_path.read_text()) if record_path.exists() else {}
    doc_words = [None] * n  # lazily built token sets for the membership check
    digest = hashlib.sha256()

    def query(key, spec, measured=True):
        hits = run.guarded(lambda: _cold_query(run, ix, spec, measured))
        if hits is None:
            return
        _check_cold(run, corpus, doc_words, spec, hits)
        line = f"{key}:{spec.kind}:{'|'.join(spec.args)}:{','.join(hits)}"
        h = hashlib.sha256(line.encode()).hexdigest()[:16]
        run.check(record.setdefault(key, h) == h,
                  f"query {key} ({spec.kind}) results differ from an earlier run")
        digest.update(line.encode())

    n_kinds = len(gen.COLD_KINDS)
    for i, spec in enumerate(gen.cold_queries(env.seed, corpus)):
        if i == WARMUP_QUERIES:
            run.start(t_process)
        # whole rounds (any n_kinds consecutive queries hold each kind once)
        # only, so every run weighs the kinds alike
        elif i > WARMUP_QUERIES and (i - WARMUP_QUERIES) % n_kinds == 0 and run.expired():
            break
        query(str(i), spec, measured=i >= WARMUP_QUERIES)
    # one WAND-path OR per run, outside the rounds: it costs as much as a
    # third of a round, so one per round would leave fewer samples
    query("wand", next(gen.cold_queries(env.seed, corpus, (gen.WAND_KIND,))))
    run.info["results_sha"] = digest.hexdigest()[:16]
    # after the window, so the samples see the same warmed-up query path
    # on every run
    for _ in range(RELOADS):
        with op("reload", measured=False), run.timed("reload_ms"):
            ix.reload()
            ix.search(ix.all_query(), limit=1)
    tmp = record_path.with_suffix(".tmp")
    tmp.write_text(json.dumps(record, sort_keys=True))
    tmp.replace(record_path)


def _cold_query(run, ix, spec, measured: bool) -> list:
    with run.op("query", measured):
        with run.tracer.span("plan.build"):
            q = gen.build_query(ix, spec)
        if not measured:
            return ix.search(q, limit=10)
        with run.timed("cold_query_ms"):
            return ix.search(q, limit=10)


def _check_cold(run, corpus, doc_words, spec, hits) -> None:
    """Every hit of a term/AND/phrase query holds its terms; term queries
    return min(10, df) hits."""
    words = corpus.words
    for url in hits:
        i = int(url.rsplit("/", 1)[1])
        if doc_words[i] is None:
            doc_words[i] = {words[r] for r in corpus.docs[i]}
        missing = [t for t in spec.must_contain if t not in doc_words[i]]
        run.check(not missing, f"{spec.kind} {spec.args}: hit {url} lacks {missing}")
    if spec.kind in ("term_common", "term_rare"):
        df = int(corpus.df[words.index(spec.args[0])])
        run.check(len(hits) == min(10, df),
                  f"{spec.kind} {spec.args}: {len(hits)} hits, df {df}")


# --- upsert_serve -------------------------------------------------------------

def upsert_serve(env: Env, run: Run, t_process: float) -> None:
    from bench import build_schema, corpus
    from tantiny_spark.index import Index

    spark, op = env.spark, run.op
    _, text_bytes = _sf_text_bytes(env.sf_dir)
    ix = Index(spark, str(env.work / "serve"), build_schema())
    with op("build", measured=False), run.timed("build_s", 1.0):
        ix.add_dataframe(corpus(spark, str(env.sf_dir), 1))
    _record_bytes(run, ix, text_bytes)
    queries = suite(ix)
    with op("reload", measured=False), run.timed("reload_ms"):
        ix.reload()
        ix.search(queries[0][1], limit=10)
    # gate: bench.py's checksum through search and search_many, before any write
    with op("gate", measured=False):
        checksum = hashlib.sha256()
        for name, q in queries:
            hits = ix.search(q, limit=10)
            checksum.update((name + ":" + ",".join(hits)).encode())
        batch = ix.search_many(dict(queries), limit=10)
        for name, _ in queries:
            checksum.update(("batch:" + name + ":" + ",".join(batch[name])).encode())
    got = checksum.hexdigest()[:16]
    run.check(got == SUITE_CHECKSUM, f"suite checksum {got}, want {SUITE_CHECKSUM}")

    draws = gen.suite_draws(env.seed, len(queries))
    batches = gen.upsert_batches(env.seed)
    run.start(t_process)
    while not run.expired():
        batch = next(batches)
        run.guarded(lambda: _serve_cycle(env, run, ix, queries, batch, draws))


def _serve_cycle(env, run, ix, queries, batch, draws) -> None:
    op = run.op
    with op("commit"), run.timed("commit_ms"):
        with ix.transaction():
            for url in batch.deletes:
                ix.delete(url)
            for doc in batch.adds:
                ix.add(doc)
    first, url = next(iter(batch.present.items()))
    with op("reload"), run.timed("reload_ms"):
        ix.reload()
        got = ix.search(ix.term_query("text", first), limit=10)
    run.check(got == [url], f"upsert {first}: {got}")
    with op("verify", measured=False):
        markers = list(batch.present) + list(batch.absent)
        found = ix.search_many(
            {m: ix.term_query("text", m) for m in markers}, limit=10
        )
    for m, url in batch.present.items():
        run.check(found[m] == [url], f"upsert {m}: {found[m]}")
    for m in batch.absent:
        run.check(found[m] == [], f"deleted {m} still found: {found[m]}")
    seen: set = set()
    for _ in range(SERVE_DRAWS):
        name, q = queries[next(draws)]
        kind = "warm_query_ms" if name in seen else "cold_query_ms"
        seen.add(name)
        with op("query"), run.timed(kind):
            ix.search(q, limit=10)
    with op("batch"), run.timed("batch_query_ms"):
        ix.search_many(dict(queries), limit=10)


WORKLOADS = {"ingest": ingest, "query_cold": query_cold, "upsert_serve": upsert_serve}


def percentile_tail(values: list) -> tuple | None:
    """The highest percentile with at least 10 samples beyond it, as
    (percentile, value); None under 40 samples, where it falls below p75."""
    n = len(values)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    if pct < 75:
        return None
    return pct, sorted(values)[n - 11]


def summarize(run: Run) -> dict:
    """Every end-to-end metric the run has samples for, by name: value,
    unit and sample count (medians; tails name their percentile)."""
    s = run.samples
    out = {"setup_s": {"value": run.setup_s, "unit": "s", "samples": 1}}

    def med(key, name, unit):
        if s.get(key):
            out[name] = {"value": statistics.median(s[key]), "unit": unit,
                         "samples": len(s[key])}

    med("build_s", "build_s", "s")
    med("merge_s", "merge_s", "s")
    med("index_bytes_per_input_byte", "index_bytes_per_input_byte", "B/B")
    med("commit_ms", "commit_ms", "ms")
    med("reload_ms", "reload_ms", "ms")
    med("batch_query_ms", "batch_query_ms", "ms")
    for kind in ("cold", "warm"):
        key = f"{kind}_query_ms"
        med(key, f"{kind}_query_p50_ms", "ms")
        if s.get(key):
            # every query of a run weighs alike, the slowest kinds no more
            # than the fastest; the p50 of a run's 9-12 queries of 6-9
            # kinds jumps between kinds from seed to seed
            out[f"{kind}_query_geomean_ms"] = {
                "value": math.exp(statistics.fmean(math.log(v) for v in s[key])),
                "unit": "ms", "samples": len(s[key]),
            }
        tail = percentile_tail(s.get(key, []))
        if tail:
            out[f"{kind}_query_tail_ms"] = {
                "value": tail[1], "unit": "ms", "samples": len(s[key]),
                "percentile": tail[0],
            }
    out["failed_ratio"] = {"value": run.failed / max(run.attempted, 1),
                           "unit": "ratio", "samples": run.attempted}
    return out
