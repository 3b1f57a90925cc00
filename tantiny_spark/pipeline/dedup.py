"""Deduplication operators for web-scale corpora.

Four families, cheapest→richest, all shuffle-conscious:

- exact: hash-groupBy on a content fingerprint (one shuffle on the hash —
  uniform keys, no skew).
- minhash + LSH: shingle → K minhashes → B bands; candidate pairs only join
  within a band bucket, so the cross-product never materializes. Hashes are
  md5-based (available and IDENTICAL in Spark, DuckDB and Python — oracle-
  friendly and seedless-deterministic).
- simhash: 64-bit fingerprint via vectorized numpy; near-dups differ in few
  bits. Banded by 16-bit chunks for candidate generation.
- n-gram Jaccard: exact verification on candidate pairs (or small corpora).

At 10^12 docs: every stage is a dataframe-native group/join keyed on bounded-
cardinality values; the band buckets cap group sizes, and verification only
touches candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T


def shingles_col(text_col, n: int = 3):
    """Word n-gram shingles as an array column (distinct), JVM-side.

    The token array is bound ONCE per row via a single-element transform
    lambda: Catalyst expressions are trees, not DAGs, so naming ``toks``
    as a Python variable and using it inside the per-shingle lambda would
    INLINE the whole split+filter under every element — O(words²) splits
    per document (measured 7.4 s for 500 sf0.01 docs in minhash_signatures
    before this fix, 10× less after). ``transform(array(toks), t -> ...)``
    evaluates the tokenization once and exposes it as the bound lambda
    variable ``t``; element_at(..., 1) unwraps the result."""
    toks = F.filter(F.split(F.lower(text_col), r"[^0-9A-Za-z]+"), lambda t: t != "")

    def shingle(t):
        idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(-1)))
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, n), " "))
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(toks), shingle), 1)


def exact_duplicates(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) content: fingerprint, canonical
    (min key), group size. Filter n_dups > 1 for actual duplicates."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text)), r"\s+", " "))
    return (
        df.select(F.md5(normalized).alias("fingerprint"), F.col(key))
        .groupBy("fingerprint")
        .agg(
            F.min(key).alias("canonical"),
            F.count("*").alias("n_dups"),
        )
    )


def minhash_signatures(
    df: DataFrame, text: str = "text", key: str = "doc_id",
    num_hashes: int = 8, shingle_n: int = 3,
) -> DataFrame:
    """K minhashes per doc: mh_i = min over shingles of md5(i || ':' || s).
    Lexicographic min over hex digests — no int conversion, portable to any
    SQL oracle. Entirely JVM-side (md5 + array ops).

    The shingle array is materialized by its own projection step so the
    tokenization+shingling runs once per row, not once per hash column
    (Catalyst inlines a reused Column expression into every consumer)."""
    shingled = df.select(
        F.col(key), shingles_col(F.col(text), shingle_n).alias("__sh")
    )
    cols = [F.col(key)]

    def hash_lambda(seed: int):
        prefix = f"{seed}:"
        # single-arg lambda: a two-arg lambda would be (element, index) to
        # F.transform and silently shadow the seed
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    for i in range(num_hashes):
        cols.append(
            F.array_min(F.transform(F.col("__sh"), hash_lambda(i))).alias(f"mh{i}")
        )
    return shingled.select(*cols)


def lsh_candidate_pairs(
    df: DataFrame, text: str = "text", key: str = "doc_id",
    num_hashes: int = 8, band_size: int = 2, shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs: docs agreeing on all hashes of any band.
    The self-join happens per band bucket — bounded groups, no n² blowup."""
    sigs = minhash_signatures(df, text, key, num_hashes, shingle_n)
    # Docs with NO shingles (< shingle_n words) have all-null minhashes and
    # would otherwise ALL share the concat_ws bucket "" in every band — a
    # quadratic blowup over the corpus's tiny-doc population pairing docs
    # with zero shared shingles (true Jaccard 0/0). They can't be fuzzy
    # candidates, so drop them before banding.
    sigs = sigs.where(F.col("mh0").isNotNull())
    bands = []
    for b in range(num_hashes // band_size):
        members = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        bands.append(
            sigs.select(
                F.col(key),
                F.lit(b).alias("band"),
                F.concat_ws("|", *members).alias("bucket"),
            )
        )
    exploded = bands[0]
    for b in bands[1:]:
        exploded = exploded.unionByName(b)
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .select(F.col(f"l.{key}").alias("a"), F.col(f"r.{key}").alias("b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame, text: str = "text", key: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.
    inverted-index join (shingle → docs) so only co-shingled pairs meet.

    ``max_shingle_df`` is the skew guard for web scale: a shingle shared by
    1M docs would otherwise create a 10¹² intra-group pair blowup in the
    self-join. Shingles with document frequency above the cap carry ~zero
    Jaccard signal (they inflate every union equally) and are dropped BEFORE
    the join; doc sizes are computed over the same filtered universe so the
    ratio stays a true Jaccard over the surviving shingle space. At 100 TB
    always set a cap (or verify only lsh_candidate_pairs output)."""
    sh = df.select(F.col(key), F.explode(shingles_col(F.col(text), shingle_n)).alias("s"))
    if max_shingle_df is not None:
        dfreq = sh.groupBy("s").agg(F.count("*").alias("sdf"))
        sh = sh.join(
            dfreq.where(F.col("sdf") <= max_shingle_df).select("s"), "s", "left_semi"
        )
    sizes = sh.groupBy(key).agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{key}") < F.col(f"b.{key}")))
        .groupBy(F.col(f"a.{key}").alias("a"), F.col(f"b.{key}").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(key).alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(key).alias("b"), F.col("n").alias("nb"))
    # NO broadcast hint on the per-doc sizes table: it has one row per doc,
    # so at web scale a forced broadcast is a guaranteed OOM. Both joins key
    # on doc id (uniform), and AQE still converts them to broadcast joins at
    # runtime when the corpus actually is small.
    return (
        inter.join(na, "a")
        .join(nb, "b")
        .select(
            "a", "b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash64(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens: per token take the high 8 bytes of
    md5 (big-endian), weight ±1 per occurrence, sign of the column sum.
    Near-duplicates differ in a small Hamming distance.

    Vectorized per Arrow batch — md5 runs once per UNIQUE batch token (Zipfian
    text makes the vocabulary tiny next to the token stream), the 64-bit
    expansion is one numpy broadcast into a (vocab × 64) ±1 matrix, and the
    per-doc accumulation is a single np.add.at gather-sum. No per-row/per-
    token Python in the hot path. md5-based by construction so the DuckDB
    oracle can reproduce every bit (see __spark_entry__ `simhash`)."""
    import hashlib

    @F.pandas_udf(T.LongType())
    def _simhash(series: pd.Series) -> pd.Series:
        n = len(series)
        out = np.zeros(n, dtype=np.int64)
        vocab: dict = {}
        doc_idx: list = []
        tok_idx: list = []
        tok_counts = np.zeros(n, dtype=np.int64)
        for i, txt in enumerate(series):
            if not isinstance(txt, str) or not txt:
                continue
            toks = txt.lower().split()
            tok_counts[i] = len(toks)
            for t in toks:
                j = vocab.get(t)
                if j is None:
                    j = len(vocab)
                    vocab[t] = j
                doc_idx.append(i)
                tok_idx.append(j)
        if not vocab:
            return pd.Series(out)
        hashes = np.fromiter(
            (
                int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
                for t in vocab
            ),
            dtype=np.uint64,
            count=len(vocab),
        )
        bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
            np.int64
        )  # (vocab, 64), bit j in column j
        acc = np.zeros((n, 64), dtype=np.int64)
        np.add.at(acc, np.asarray(doc_idx), bits[np.asarray(tok_idx)])
        # Σ(2·bit−1) = 2·Σbit − n_tokens
        acc = 2 * acc - tok_counts[:, None]
        fingerprint = (
            ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64))
            .sum(axis=1, dtype=np.uint64)
        )
        out = fingerprint.view(np.int64)  # two's-complement into LongType
        return pd.Series(out)

    return df.select(F.col(key), _simhash(F.col(text)).alias("simhash"))


def simhash_candidate_pairs(df: DataFrame, text: str = "text", key: str = "doc_id",
                            max_hamming: int = 3,
                            max_bucket_size: int | None = None) -> DataFrame:
    """Band the 64-bit simhash into four 16-bit chunks: any pair within
    Hamming distance 3 shares at least one exact chunk (pigeonhole).

    ``max_bucket_size`` is the hot-bucket guard for web scale: 16-bit chunks
    give only ~65k buckets per band, so at 10^12 docs an average bucket holds
    ~10^7 docs and the within-bucket self-join explodes quadratically —
    boilerplate-heavy corpora make some buckets far worse. Buckets larger
    than the cap are dropped BEFORE the self-join (same shape as
    ``jaccard_pairs``'s ``max_shingle_df``). Recall tradeoff: a true near-dup
    pair is missed only if EVERY chunk it agrees on lands in an over-cap
    bucket; docs in hot buckets share a 16-bit chunk with a huge crowd, which
    for real corpora means boilerplate-dominated fingerprints better handled
    by widening the chunks (more bands) than by pairing the crowd. At 100 TB
    always set a cap sized to the tolerable pairs-per-bucket budget."""
    sh = simhash64(df, text, key)
    chunks = []
    for c in range(4):
        chunks.append(
            sh.select(
                F.col(key),
                F.col("simhash"),
                F.lit(c).alias("chunk"),
                F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
            )
        )
    exploded = chunks[0]
    for c in chunks[1:]:
        exploded = exploded.unionByName(c)
    if max_bucket_size is not None:
        small = (
            exploded.groupBy("chunk", "bucket")
            .agg(F.count("*").alias("bsz"))
            .where(F.col("bsz") <= max_bucket_size)
            .select("chunk", "bucket")
        )
        exploded = exploded.join(small, ["chunk", "bucket"], "left_semi")
    l, r = exploded.alias("l"), exploded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{key}") < F.col(f"r.{key}")),
        )
        .select(
            F.col(f"l.{key}").alias("a"),
            F.col(f"r.{key}").alias("b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    # popcount(xor) via bin() — JVM-side hamming distance
    ham = F.length(F.regexp_replace(F.bin(F.col("sh_a").bitwiseXOR(F.col("sh_b"))), "0", ""))
    return pairs.select("a", "b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    edges: DataFrame, u: str = "a", v: str = "b", max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list via min-label
    propagation: every node's label converges to the minimum node id in its
    component. Returns (node, cluster).

    Scale shape: each iteration is one join + one min-aggregate, both keyed
    on node id (bounded cardinality, no skew beyond the graph's own degree
    distribution); iteration count is bounded by the largest component's
    diameter, which for near-duplicate graphs is tiny (dup clusters are
    near-cliques). Labels are persisted per round and localCheckpoint'ed
    every 5 rounds so the lineage doesn't grow with iterations — the same
    loop a 1000-executor job runs (GraphFrames' CC uses the equivalent
    large-star/small-star contraction).
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    # persist the (static) edge list: every iteration joins it, and without
    # the cache each round would re-execute the caller's whole upstream
    # lineage — for fuzzy_dedup_corpus that is the full LSH banding +
    # Jaccard verification pipeline, re-run twice per iteration (measured:
    # the sf0.01 contract row went 77 s → ~20 s with this persist). The
    # iterative working set is exactly what guide-style caching is for;
    # GraphFrames' CC persists its edge/vertex frames the same way.
    # The RAW edges are cached first: the symmetrized union's two branches
    # are separate subplans (no subtree reuse in Spark), so materializing
    # ``both`` directly would still run the caller's pair lineage TWICE —
    # one full verification pass wasted at any scale.
    edges_once = edges.select(
        F.col(u).alias("src"), F.col(v).alias("dst")
    ).persist()
    both = (
        edges_once.union(
            edges_once.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .persist()
    )
    labels = (
        both.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .persist()
    )

    def _label_sum(frame) -> object:
        # exact decimal sum — bigint would overflow at 10^12 nodes with
        # 10^12-scale ids (sum up to ~10^24). A decimal(38,0) overflow is
        # NULL with ANSI off, and None == None would declare a false
        # convergence, so a NULL sum over labels fails loudly instead (an
        # empty graph's sum is NULL too, and its fixpoint is immediate)
        row = frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        s = row["s"]
        if s is None and row["n"]:
            for cached in (edges_once, both, labels, frame):
                cached.unpersist()
            raise RuntimeError(
                "connected_components: the label sum overflowed decimal(38,0)"
            )
        return s

    prev_sum = _label_sum(labels)  # also materializes the caches
    # ``both`` is cached now; the raw-edge cache has served its purpose
    edges_once.unpersist()
    for it in range(max_iterations):
        neigh = both.join(labels, both.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        # plain min-label propagation, no pointer jumping: path compression
        # was tried and REVERTED — the jump join evaluates the propagation
        # subtree twice per round, and near-duplicate graphs are
        # near-cliques (diameter 1-3), so doubling every round to save at
        # most one round is a net loss (measured: sf0.01 fuzzy_dedup
        # 7.8 s → 12.0 s with jumping).
        new_labels = (
            labels.select("node", "label")
            .union(neigh)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        if (it + 1) % 5 == 0:
            new_labels = new_labels.localCheckpoint()
        # convergence check WITHOUT joining the two full label tables:
        # per-node labels are monotonically non-increasing (min over a set
        # containing the old label), so the total label sum is strictly
        # smaller iff any label changed — one partial-aggregatable sum per
        # round instead of an old-vs-new join shuffle
        cur_sum = _label_sum(new_labels)
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # the final pass still changed labels — the CURRENT labels may
        # nevertheless be the fixpoint (the last change can complete the
        # propagation), so verify with one more propagation before
        # declaring failure: a silent fall-through would return WRONG
        # (split) clusters on a component wider than max_iterations
        neigh = both.join(labels, both.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        pending = (
            labels.select("node", "label")
            .union(neigh)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        if pending > 0:
            both.unpersist()
            labels.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                f"iterations ({pending} labels still changing); raise "
                "max_iterations — needed rounds are bounded by the largest "
                "component's diameter"
            )
    # labels is persisted and materialized; the edge cache has no further
    # consumers (long-running writers must not accumulate cached relations)
    both.unpersist()
    return labels.select("node", "label")


def duplicate_clusters(
    df: DataFrame, text: str = "text", key: str = "doc_id",
    shingle_n: int = 3, threshold: float = 0.5,
    max_shingle_df: int | None = None, pairs: DataFrame | None = None,
    max_iterations: int = 50,
) -> DataFrame:
    """Document → duplicate-cluster id: near-dup pairs (exact Jaccard over
    an inverted shingle join, or any supplied candidate-pair frame) are
    treated as edges of an undirected graph and resolved to connected
    components. Singletons keep their own id as cluster. The cluster id is
    the minimum doc id of the component — deterministic, so a downstream
    keep-one-per-cluster filter (``doc_id == cluster``) is reproducible."""
    if pairs is None:
        pairs = jaccard_pairs(df, text, key, shingle_n, threshold, max_shingle_df)
    comp = connected_components(pairs.select("a", "b"), max_iterations=max_iterations)
    return (
        df.select(F.col(key))
        .join(comp, F.col(key) == comp.node, "left")
        .select(
            F.col(key).alias("doc_id"),
            F.coalesce("label", F.col(key)).alias("cluster"),
        )
    )


def fuzzy_dedup_corpus(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
    quality: Column | None = None,
    max_iterations: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """END-TO-END MinHash-LSH fuzzy dedup — the published SlimPajama /
    FineWeb near-dedup stage as one composition:

        LSH banded candidates → exact Jaccard verify (candidates ONLY)
        → connected components → best-quality canonical per cluster
        → survivors.

    Returns ``(clean, dup_map)``: ``clean`` is the input frame restricted
    to the kept docs; ``dup_map`` is (doc_id, cluster, score, keep) for
    every input doc — singletons form their own cluster and are always
    kept. ``quality`` is the keep-ranking Column (default: text length —
    keep the longest extraction); ties break to the smallest id so reruns
    are deterministic.

    Scale shape, stage by stage (none is all-pairs):
    - candidates: per-band bucket self-join (``lsh_candidate_pairs``),
      shingle-less docs dropped before banding;
    - verify: the per-doc DISTINCT shingle arrays join onto the bounded
      candidate list by doc id (two uniform-key joins) and Jaccard is one
      JVM ``array_intersect``/``array_union`` per candidate pair — the
      inverted-index self-join of ``jaccard_pairs`` is never needed
      because LSH already bounded the pair set;
    - clustering: min-label propagation, iterations bounded by cluster
      diameter (near-dup clusters are near-cliques), fails loud past
      ``max_iterations``;
    - canonical: ONE partial-aggregatable min-struct groupBy
      (``select_canonical``) — a Zipfian mega-cluster folds map-side;
    - survivors: one left-semi join keyed on the uniform doc id.
    """
    cand = lsh_candidate_pairs(df, text, key, num_hashes, band_size, shingle_n)
    sh = df.select(F.col(key), shingles_col(F.col(text), shingle_n).alias("__sh"))
    verified = (
        cand.join(sh.select(F.col(key).alias("a"), F.col("__sh").alias("__sha")), "a")
        .join(sh.select(F.col(key).alias("b"), F.col("__sh").alias("__shb")), "b")
        .select(
            "a",
            "b",
            F.round(
                F.size(F.array_intersect("__sha", "__shb"))
                / F.size(F.array_union("__sha", "__shb")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    clusters = duplicate_clusters(
        df, text, key, pairs=verified.select("a", "b"),
        max_iterations=max_iterations,
    )
    q = quality if quality is not None else F.length(F.col(text))
    scored = clusters.join(
        df.select(F.col(key).alias("doc_id"), q.cast("double").alias("score")),
        "doc_id",
    )
    dup_map = select_canonical(scored, "score").select(
        "doc_id", "cluster", "score", "keep"
    )
    keep_ids = dup_map.where(F.col("keep")).select(F.col("doc_id").alias(key))
    clean = df.join(keep_ids, key, "left_semi")
    return clean, dup_map


def select_canonical(
    clustered: DataFrame,
    score: Column | str = "score",
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Keep-one-per-cluster by QUALITY, not by accident of id: given
    (doc, cluster, score) rows — e.g. :func:`duplicate_clusters` joined
    with a quality signal — mark exactly one ``keep`` per cluster: the
    highest-scoring member, ties broken to the smallest doc id
    (deterministic re-runs).

    A real pipeline keeps the best copy of a near-dup cluster (longest /
    cleanest extraction), not the one with the lowest crawl id. Scale
    shape: ONE partial-aggregatable groupBy on the cluster id computing
    ``min(struct(-score, id))`` — a Zipfian mega-cluster folds to one
    struct per map partition; no per-cluster window, no collect.
    """
    s = (F.col(score) if isinstance(score, str) else score).cast("double")
    winners = clustered.groupBy(cluster_col).agg(
        F.min(F.struct((-s).alias("ns"), F.col(id_col).alias("i")))["i"].alias(
            "__keep_id"
        )
    )
    return (
        clustered.join(winners, cluster_col)
        .withColumn("keep", F.col(id_col) == F.col("__keep_id"))
        .drop("__keep_id")
    )
