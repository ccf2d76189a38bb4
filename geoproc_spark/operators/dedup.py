"""Deduplication operators for web-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join), SimHash signatures, and n-gram Jaccard — all pure DataFrame ops over
portable md5-derived hashes, so a SQL oracle reproduces them bit-for-bit.

Scale notes:
- exact dedup: one hash aggregate on md5(text) — map-side partial combine,
  no driver involvement.
- MinHash + SimHash signatures: ZERO-shuffle Arrow+numpy kernels
  (functions/textkern), one pass per Arrow batch. At 10^12 docs the
  signature pass is a pure map — it scales with scan bandwidth and
  nothing else. Their JVM-fold twins live in oracle/signature_hof.
- LSH bucket join: the only shuffle; self-equi-join on (band_id, band_key).
  Hot buckets (boilerplate text) are exactly the skew case — AQE skew-join
  splits them, and max_bucket_size drops degenerate buckets from pairing.
- connected components: one bounded collect of the pair lists (_small),
  a numpy union-find on the driver, one broadcast label join back. The
  pair graph is near-dups only, a small fraction of the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from . import _small


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a NARROW input up to the session's parallelism before a
    compute-heavy projection (shingle md5 folds). Small local corpora land
    in 1-3 parquet partitions, serializing the signature pass onto as many
    cores; at warehouse scale inputs already have thousands of splits and
    this is a no-op (repartition only triggers below the floor)."""
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, min_doc, max_doc)."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def minhash_signatures(docs: DataFrame, perms: list[tuple[int, int, int]]) -> DataFrame:
    """Wide signature row per doc: (doc_id, mh0..mh{n-1}) — Arrow+numpy
    kernel (functions/textkern), ZERO shuffles, ONE scan.

    r6 optimization: the previous JVM aggregate()/zip_with fold
    (oracle/signature_hof.minhash_signatures_hof) runs INTERPRETED — Spark
    does not codegen HOF lambdas — at 16 lambda calls per shingle; profiled
    38 s at sf1.0 vs ~2 s for the numpy kernel doing identical arithmetic
    (bit-parity pinned by tests/test_textkern.py + the unchanged oracles)."""
    from ..functions import textkern as TK

    return TK.minhash_signatures(docs, perms)


def lsh_bands(
    signatures: DataFrame, n_perms: int, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_key): band_key is the ordered concat of the
    band's minhash values — pure column expressions + stack, no second
    aggregate."""
    n_bands = n_perms // rows_per_band
    keys = []
    for b in range(n_bands):
        cols = ", ".join(
            f"CAST(mh{b * rows_per_band + r} AS STRING)" for r in range(rows_per_band)
        )
        keys.append(f"{b}, concat_ws(',', {cols})")
    stack = f"stack({n_bands}, {', '.join(keys)}) AS (band_id, band_key)"
    return signatures.selectExpr("doc_id", stack)


def lsh_candidate_pairs(
    docs: DataFrame,
    perms: list[tuple[int, int, int]],
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate near-dup pairs (doc_a < doc_b) sharing >= 1 band.

    The bands table is persisted before the self-join: without it Catalyst
    re-executes the whole shingle->md5->minhash subtree once per join side
    (and the pushed non-empty filter recomputes the shingle HOF again) —
    profiled at ~4x the work. At warehouse scale this persist is a stage
    boundary: signatures land in a table once, the pair join scans it.
    Repeated calls in one session hold at most ONE cached copy
    (_cache.swap_cache releases the previous call's).

    max_bucket_size: the hot-bucket guard. A band bucket of b docs emits
    O(b^2) pairs — one boilerplate bucket of 10^6 docs would emit 5*10^11
    pairs and sink the job. Buckets larger than the cap are DROPPED from
    pairing (standard MinHashLSH practice: near-identical boilerplate is
    better handled by exact dedup upstream); docs in a dropped bucket still
    pair through their other, smaller bands. None = no cap (the fixture
    default — keeps oracle exactness; production sets ~10^3-10^4).
    """
    from ._cache import swap_cache

    bands = swap_cache(
        "lsh_bands", lsh_bands(minhash_signatures(docs, perms), len(perms), rows_per_band)
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band_key")
        bands = bands.withColumn("_bsz", F.count("*").over(w)).filter(
            F.col("_bsz") <= max_bucket_size
        ).drop("_bsz")
    b1 = bands.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_key"
    )
    b2 = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        b1.join(b2, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash(docs: DataFrame, n_bits: int = 60) -> DataFrame:
    """(doc_id, simhash): bit j set iff sum over distinct 3-gram shingles of
    (bit_j(h) ? +1 : -1) is positive. 60 bits (the portable hash width).
    Arrow+numpy kernel (functions/textkern) — ZERO shuffles, ONE scan.

    r6 optimization: the JVM fold (oracle/signature_hof.simhash_hof) costs
    60 interpreted lambda calls per shingle (HOFs are never codegen'd) —
    profiled 38.6 s at sf1.0 vs 4.3 s for the identical-value numpy kernel
    (parity pinned by tests/test_textkern.py + the unchanged oracle)."""
    from ..functions import textkern as TK

    return TK.simhash(docs, n_bits=n_bits)


def hamming_distance(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def _min_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component) for the undirected edges a[i]-b[i]: every node
    of the edge list and the minimum node of its component.

    Hook-and-shortcut union-find over np.unique-compacted ids: each round
    hooks every root to the minimum root across its edges (np.minimum.at),
    then pointer-jumps `lab = lab[lab]` to a fixpoint. Labels only
    decrease and stay inside their component, so a round that changes
    nothing leaves one root per component: its minimum."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(nodes))
    while True:
        ru, rv = lab[u], lab[v]
        m = np.minimum(ru, rv)
        new = lab.copy()
        np.minimum.at(new, ru, m)
        np.minimum.at(new, rv, m)
        while not np.array_equal(jumped := new[new], new):
            new = jumped
        if np.array_equal(new, lab):
            return nodes, nodes[lab]
        lab = new


def connected_components(ids: DataFrame, *pairs: DataFrame) -> DataFrame:
    """(doc_id, component) where component = min doc_id reachable through
    the pair graph — the canonical-document assignment after near-dup
    pairing (every doc appears; singletons map to themselves).

    One bounded driver pass, the shape of knn_join: each (doc_a, doc_b)
    frame is collected through _small (its own collect, so each plan still
    reads its caller's caches — a Union over cached frames re-runs both
    lineages from the scans in this Spark build), the total is bounded by
    MAX_ROWS, and `_min_labels` labels the nodes in numpy. Only the nodes
    whose component is not themselves go back, as one local relation
    (at most one row per pair), broadcast into a left join with `ids`;
    every other id maps to itself. The result holds no cache or checkpoint.

    A near-dup graph is tiny by construction (230 pairs over 672 docs at
    sf0.01). Above MAX_ROWS pairs the distributed answer would be
    large-star/small-star (Kiveris et al., SoCC 2014), O(log n) rounds."""
    what = "connected_components pairs"
    instead = (
        "dedup exact duplicates upstream, or cap max_bucket_size in "
        "lsh_candidate_pairs"
    )
    edges = [np.empty((0, 2), np.int64)]
    for p in pairs:
        rows = _small.collect(p.select("doc_a", "doc_b"), what, instead)
        edges.append(np.array(rows, dtype=np.int64).reshape(-1, 2))
        _small.check(sum(map(len, edges)), what, instead)
    e = np.concatenate(edges)
    nodes, comp = _min_labels(e[:, 0], e[:, 1])
    moved = nodes != comp
    labels = _small.frame(
        ids.sparkSession,
        list(zip(nodes[moved].tolist(), comp[moved].tolist())),
        "doc_id bigint, component bigint",
        what,
        instead,
    )
    return ids.select("doc_id").join(F.broadcast(labels), "doc_id", "left_outer").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


def chunk_dedup_stats(docs: DataFrame, chunk_tokens: int = 20) -> DataFrame:
    """Duplicated-span removal stats — the scalable chunk-level
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", public):
    split each doc into fixed K-token chunks, count every chunk's
    corpus-wide occurrences, report per doc how many chunks are duplicated
    anywhere in the corpus and how many tokens survive removing them.

    Returns (doc_id, n_chunks, n_dup_chunks, n_kept_tokens).

    Scale shape: chunking is a pure map (rows grow by n_tokens/K, never
    quadratic) that runs ONCE — the occurrence count is a count-over-window
    on the chunk hash, so the corpus scans a single time and the plan has
    exactly two Exchanges (chunk hash for the window, doc_id for the
    rollup; plan-asserted). The groupBy+join-back alternative scans the
    corpus twice and adds a third shuffle. The window partition key is the
    16-byte md5, never chunk text; hot boilerplate chunks skew the window
    partition, which is in-partition counting, not a join explosion.

    The token array is materialized as a named column before the chunk
    transform: slice() inside a HOF lambda over an INLINE split() would
    re-run the split per chunk — O(n_tokens^2 / K) per doc (the measured
    ~100x repetition-filter trap, functions/text.py)."""
    K = int(chunk_tokens)
    if K <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    toks_df = docs.selectExpr("doc_id", "split(text, ' ') AS toks")
    chunked = toks_df.selectExpr(
        "doc_id",
        f"""posexplode(transform(
              sequence(0, CAST(ceil(size(toks) / {K}.0) AS INT) - 1),
              i -> named_struct(
                'ch', md5(concat_ws(' ', slice(toks, i * {K} + 1, {K}))),
                'ctok', least({K}, size(toks) - i * {K})))) AS (chunk_idx, c)""",
    ).select("doc_id", F.col("c.ch").alias("ch"), F.col("c.ctok").alias("ctok"))
    from pyspark.sql import Window

    counted = chunked.withColumn(
        "n_occ", F.count("*").over(Window.partitionBy("ch"))
    )
    return counted.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum((F.col("n_occ") > 1).cast("bigint")).alias("n_dup_chunks"),
        F.sum(F.when(F.col("n_occ") == 1, F.col("ctok")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_kept_tokens"),
    )


def ngram_jaccard(docs: DataFrame, pairs: DataFrame, k: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs:
    (doc_a, doc_b, n_inter, n_union) — integer-exact, ratio left to the
    caller (n_inter/n_union)."""
    sh = docs.selectExpr(
        "doc_id", TX.shingles_sql_spark("split(text, ' ')", k) + " AS sh"
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    n_inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    return j.select(
        "doc_a",
        "doc_b",
        n_inter.alias("n_inter"),
        (F.size("sh_a") + F.size("sh_b") - n_inter).cast("bigint").alias("n_union"),
    )


def decontaminate(
    corpus: DataFrame, benchmark: DataFrame, k: int = 8
) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc that shares at
    least one k-token n-gram with an evaluation/benchmark document — the
    standard train/test-overlap scrub of LLM corpus prep (GPT-3 appendix C
    / Llama-style 13-gram overlap; k is a parameter because the fixture
    docs are short).

    Returns (doc_id, n_hits) for contaminated docs only, n_hits = number
    of DISTINCT benchmark n-grams the doc contains.

    Scale shape: both sides shingle as zero-shuffle higher-order
    projections; the benchmark side (an eval suite — MBs, not TBs) is
    deduplicated and BROADCAST, so the corpus is scanned once and never
    shuffled on the n-gram: the only Exchange is the final per-doc
    aggregate. N-grams cross the join as 60-bit portable md5 hashes
    (functions/text.token_hash), not strings, keeping the broadcast table
    compact; the DuckDB oracle applies the identical hash so a collision
    (2^-60-scale improbable) would still agree across engines."""
    sh = TX.shingles_sql_spark("split(text, ' ')", k)
    hashed = f"transform({sh}, g -> {TX.token_hash_sql_spark('g')})"
    corp = spread(corpus).selectExpr("doc_id", f"explode({hashed}) AS ng")
    bench = benchmark.selectExpr(f"explode({hashed}) AS ng").distinct()
    return (
        corp.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count_distinct("ng").alias("n_hits"))
    )
