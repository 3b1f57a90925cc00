"""Seeded input generators for the benchmark.

Every generator is a pure function of its ``seed`` (numpy PCG64), so the same
seed gives byte-identical inputs on every run and every host. The library
under test only ever sees what these functions return.

- :func:`zipf_corpus` — the ``query_cold`` corpus: Zipf-distributed tokens
  over a 50k-word synthetic vocabulary, so rare and common terms, prefix and
  fuzzy dictionary expansion, and the block-max WAND threshold are all
  realistic.
- :func:`cold_queries` — the ``query_cold`` stream of distinct queries.
- :func:`append_docs` — the small segment ``ingest`` appends before merging.
- :func:`upsert_batches` and :func:`suite_draws` — the ``upsert_serve``
  transaction stream and its skewed draws from the bench suite.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa

VOCAB_SIZE = 50_000
ZIPF_DOCS = 8_000
ZIPF_EXPONENT = 1.1
DOC_TOKENS = (20, 60)  # uniform document length range, in tokens
#: ``executor.try_wand_topk``'s default ``min_total_df``: a flat term OR
#: whose summed document frequency reaches it takes the WAND path
WAND_MIN_TOTAL_DF = 100_000

# consonant-vowel syllables: every word is lowercase ASCII letters, which the
# default ("simple") tokenizer keeps verbatim, so a generated word is exactly
# the indexed term
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_BASE_TS = datetime(2026, 1, 1)

# the sf0.1 suite's vocabulary: appended and upserted documents reuse it so
# they are found by the same queries as the corpus they join
SUITE_WORDS = (
    "spark merge hash window batch vector sort scan filter group agg value "
    "column row table stream query data key line part order fast slow big "
    "small"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 63)
    return np.random.Generator(np.random.PCG64([int(seed), tag]))


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """Seed-independent word list: ``word(i)`` spells ``i + 70`` in base 70
    with one syllable per digit (2-3 syllables, 4-6 letters)."""
    n = len(_SYLLABLES)
    words = []
    for i in range(n, n + size):
        parts = []
        while i:
            i, r = divmod(i, n)
            parts.append(_SYLLABLES[r])
        words.append("".join(reversed(parts)))
    return words


@dataclass
class ZipfCorpus:
    """A generated corpus plus the statistics the query stream needs."""

    table: pa.Table  # url, text, lang, warc_ts — bench.build_schema()'s shape
    words: list  # words[r] is the word of Zipf rank r (0 = most common)
    docs: list  # per document: its token ids (ranks), in order
    df: np.ndarray  # document frequency per rank

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.table.column("text").to_pylist())


def zipf_corpus(seed: int, n_docs: int = ZIPF_DOCS) -> ZipfCorpus:
    rng = _rng(seed, "corpus")
    vocab = vocabulary()
    # the seed decides which word holds which rank
    words = [vocab[i] for i in rng.permutation(VOCAB_SIZE)]
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_EXPONENT
    cdf = np.cumsum(weights / weights.sum())
    lengths = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, size=n_docs)
    ranks = np.minimum(
        np.searchsorted(cdf, rng.random(int(lengths.sum())), side="right"),
        VOCAB_SIZE - 1,
    )
    docs = np.split(ranks, np.cumsum(lengths)[:-1])
    df = np.zeros(VOCAB_SIZE, dtype=np.int64)
    for d in docs:
        df[np.unique(d)] += 1
    langs = np.where(rng.random(n_docs) < 0.9, "en", "de")
    table = pa.table(
        {
            "url": [f"https://zipf.example/{seed}/doc/{i}" for i in range(n_docs)],
            "text": [" ".join(words[r] for r in d) for d in docs],
            "lang": langs.tolist(),
            "warc_ts": pa.array(
                [_BASE_TS + timedelta(seconds=i) for i in range(n_docs)],
                pa.timestamp("us", tz="UTC"),
            ),
        }
    )
    return ZipfCorpus(table=table, words=words, docs=[d.tolist() for d in docs], df=df)


@dataclass(frozen=True)
class QuerySpec:
    """One generated query: ``kind`` picks the constructor, ``args`` its
    inputs. ``must_contain`` lists every term a hit must contain (empty
    when the kind allows partial matches), for the membership check."""

    kind: str
    args: tuple
    must_contain: tuple = ()


#: round-robin order of the query_cold mix
COLD_KINDS = (
    "term_common", "term_rare", "and", "or_flat",
    "phrase", "prefix", "fuzzy", "smart",
)
#: a flat OR of head terms whose summed df crosses the WAND bar
WAND_KIND = "or_wand"


def cold_queries(seed: int, corpus: ZipfCorpus, kinds: tuple = COLD_KINDS):
    """Endless stream of distinct queries over ``corpus`` (never repeats, so
    every query misses the compiled-query cache). Kinds cycle through
    ``kinds``; each kind draws its terms from the seeded stream of that
    kind list."""
    rng = _rng(seed, "queries:" + ",".join(kinds))
    words, df = corpus.words, corpus.df
    ranked = np.argsort(-df, kind="stable")  # ranks ordered by actual df
    common = [int(r) for r in ranked[:300]]
    mid = [int(r) for r in ranked[300:5000] if df[r] > 0]
    rare = [int(r) for r in np.flatnonzero((df >= 2) & (df <= 20))]
    head = [int(r) for r in ranked[:200]]
    seen: set = set()

    def pick(pool):
        return pool[int(rng.integers(len(pool)))]

    def doc_pair():
        while True:
            d = corpus.docs[int(rng.integers(len(corpus.docs)))]
            i = int(rng.integers(len(d) - 1))
            if d[i] != d[i + 1]:
                return d[i], d[i + 1]

    def make(kind: str) -> QuerySpec:
        if kind == "term_common":
            w = words[pick(common)]
            return QuerySpec(kind, (w,), (w,))
        if kind == "term_rare":
            w = words[pick(rare)]
            return QuerySpec(kind, (w,), (w,))
        if kind == "and":
            a, b = doc_pair()
            return QuerySpec(kind, (words[a], words[b]), (words[a], words[b]))
        if kind == "or_flat":
            terms = sorted({words[pick(mid)] for _ in range(3)})
            return QuerySpec(kind, tuple(terms))
        if kind == "or_wand":
            # the head terms, most frequent first, until the summed df
            # crosses the WAND bar (~60 terms), minus one seeded term to
            # keep each query of the stream distinct
            skip = int(rng.integers(len(head) // 4))
            terms, total = [], 0
            for j, r in enumerate(head):
                if j == skip:
                    continue
                terms.append(words[r])
                total += int(df[r])
                if total >= WAND_MIN_TOTAL_DF:
                    break
            return QuerySpec(kind, tuple(sorted(terms)))
        if kind == "phrase":
            a, b = doc_pair()
            return QuerySpec(kind, (f"{words[a]} {words[b]}",), (words[a], words[b]))
        if kind == "prefix":
            w = words[pick(mid)]
            return QuerySpec(kind, (w[:3],))
        if kind == "fuzzy":
            w = list(words[pick(mid)])
            i = int(rng.integers(len(w)))
            w[i] = "aeiou"[int(rng.integers(5))] if w[i] in "aeiou" else "x"
            return QuerySpec(kind, ("".join(w),))
        if kind == "smart":
            a, b = doc_pair()
            return QuerySpec(kind, (f"{words[a]} {words[b][:4]}",), (words[a],))
        raise ValueError(kind)

    for kind in itertools.cycle(kinds):
        while True:
            spec = make(kind)
            if spec not in seen:
                seen.add(spec)
                yield spec
                break


def build_query(index, spec: QuerySpec):
    """The public-API query for ``spec`` (``Index`` query constructors)."""
    a = spec.args
    if spec.kind in ("term_common", "term_rare"):
        return index.term_query("text", a[0])
    if spec.kind == "and":
        return index.term_query("text", a[0]) & index.term_query("text", a[1])
    if spec.kind in ("or_flat", "or_wand"):
        return index.boolean_query(should=[index.term_query("text", t) for t in a])
    if spec.kind == "phrase":
        return index.phrase_query("text", a[0])
    if spec.kind == "prefix":
        return index.prefix_query("text", a[0])
    if spec.kind == "fuzzy":
        return index.fuzzy_term_query("text", a[0], 1)
    if spec.kind == "smart":
        return index.smart_query(["text"], a[0])
    raise ValueError(spec.kind)


def suite_draws(seed: int, n_queries: int):
    """Endless Zipf-skewed draws of suite query indices, in a seeded
    popularity order."""
    rng = _rng(seed, "draws")
    order = rng.permutation(n_queries)
    weights = 1.0 / np.arange(1, n_queries + 1) ** ZIPF_EXPONENT
    while True:
        yield int(order[rng.choice(n_queries, p=weights / weights.sum())])


def _suite_text(rng: np.random.Generator, marker: str) -> str:
    n = int(rng.integers(8, 24))
    body = [SUITE_WORDS[int(i)] for i in rng.integers(len(SUITE_WORDS), size=n)]
    return " ".join([marker] + body)


def append_docs(seed: int, cycle: int, n: int = 64) -> list[dict]:
    """``n`` new documents (fresh urls, suite vocabulary) for ``ingest``'s
    appended segment; each carries a unique marker word."""
    rng = _rng(seed, f"append-{cycle}")
    return [
        {
            "url": f"https://append.example/{seed}/{cycle}/{j}",
            "text": _suite_text(rng, f"appendmark{cycle}x{j}"),
            "lang": "en",
            "warc_ts": _BASE_TS + timedelta(days=1, seconds=j),
        }
        for j in range(n)
    ]


@dataclass
class UpsertBatch:
    """One ``upsert_serve`` transaction and what a reader must see after it."""

    adds: list  # documents to upsert (new urls and re-upserts)
    deletes: list  # urls to delete
    present: dict  # marker word -> url that must be its only hit
    absent: list  # marker words that must have no hit


def upsert_batches(seed: int):
    """Endless transaction stream: each batch adds two new documents,
    re-upserts one earlier stream document under a new marker and deletes
    another one. Markers make every expectation checkable with a term
    query: a re-upserted doc's old marker and a deleted doc's marker must
    vanish, new markers must resolve to exactly their url."""
    rng = _rng(seed, "upserts")
    live: dict = {}  # url -> current marker, stream documents only
    for k in itertools.count():
        adds, present, absent, deletes = [], {}, [], []

        def doc(url, j):
            marker = f"upmark{k}x{j}"
            present[marker] = url
            live[url] = marker
            return {
                "url": url, "text": _suite_text(rng, marker), "lang": "en",
                "warc_ts": _BASE_TS + timedelta(days=2, seconds=k),
            }

        older = sorted(live)
        if len(older) >= 2:
            i, j = rng.choice(len(older), size=2, replace=False)
            again, gone = older[int(i)], older[int(j)]
            absent.append(live.pop(gone))
            deletes.append(gone)
            absent.append(live[again])
            adds.append(doc(again, 0))
        adds += [doc(f"https://upsert.example/{seed}/{k}/{j}", j) for j in (1, 2)]
        yield UpsertBatch(adds=adds, deletes=deletes, present=present, absent=absent)
