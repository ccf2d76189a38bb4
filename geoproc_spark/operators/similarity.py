"""Similarity search over embedding columns (ARRAY<FLOAT>).

Design: every top-k path is one *broadcast probe* (operators._small.
ranked_probe, the tail knn_join shares). The query table (the small side)
is collected once through operators._small, its probe state is computed in
numpy on the driver and broadcast, and ONE mapInPandas pass over the corpus
keeps a partial top-k per query and scorer block (at most
_small.PAIR_BUDGET values); the scan side never shuffles, and a row_number
window ranks the candidates.

- `cosine_topk`: exact top-k, one `batch_matrix @ queries.T` GEMM per batch.
- `ann_topk_lsh` / `ivf_topk` / `probe_ivf_index`: bucketed ANN through one
  kernel (`_bucket_topk`). The driver computes each query's probe keys —
  its sign-LSH code (plus the hamming-1 codes under multi_probe) or its
  `nprobe` nearest IVF lists; each corpus row finds its own bucket, meets
  the queries probing that bucket through a sorted-key lookup, and each
  pair is scored by a per-pair einsum over normalized rows.
- `embedding_near_dups`: all pairs above a cosine threshold. Default is
  banded sign-LSH bucketing with the exact GEMM per bucket (fully
  distributed, no driver collect); the broadcast all-pairs kernel is the
  small-corpus fast path, chosen only under an explicit row-count hint.

Bucket keys stay deterministic across partitionings (fixed plane and
centroid matrices, row-wise GEMM); top-k ranks are stable because random
-embedding similarity gaps dwarf BLAS reduction-order noise.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import _small


def _matrix(col: pd.Series) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _normalize(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


_QUERIES_SMALLER = "the query table is the broadcast side: probe with fewer queries per call"


def _collect_side(df: DataFrame, id_col: str, what: str, dim=0, instead=_QUERIES_SMALLER):
    """(ids, raw float64 matrix) of a small side: one bounded driver
    collect. No rows give a (0, dim) matrix, so driver-side numpy still
    runs and the probe returns no rows."""
    rows = _small.collect(df.select(id_col, "embedding"), what, instead)
    mat = _matrix([r[1] for r in rows]) if rows else np.empty((0, dim))
    return np.array([r[0] for r in rows], dtype=np.int64), mat


_TOPK_SCHEMA = "qid bigint, vec_id bigint, cos double"


def _by_cos() -> list:
    return [F.col("cos").desc(), F.col("vec_id").asc()]


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    qid_col: str = "qid",
    vid_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors: (qid, vec_id, rank). Self-matches excluded,
    ties broken by vec_id. Queries must be the small side (broadcast)."""
    qids, qmat = _collect_side(queries, qid_col, "cosine_topk query table")

    def score(state: tuple, pdf: pd.DataFrame, budget: int) -> Iterator[pd.DataFrame]:
        q_ids, q = state
        c = _normalize(_matrix(pdf["embedding"]))
        vids = pdf[vid_col].to_numpy(dtype=np.int64)
        for rs, qs in _small.blocks(len(vids), len(q_ids), budget):
            v = vids[rs]
            s = c[rs] @ q[qs].T  # (rows, queries) of this block
            s[v[:, None] == q_ids[None, qs]] = -np.inf  # exclude self
            kk = min(k, s.shape[0])
            top = np.argpartition(-s, kk - 1, axis=0)[:kk]  # (kk, queries) partial
            qi = np.repeat(q_ids[None, qs], kk, axis=0).ravel()
            vi = v[top].ravel()
            co = np.take_along_axis(s, top, axis=0).ravel()
            keep = np.isfinite(co)
            yield pd.DataFrame({"qid": qi[keep], "vec_id": vi[keep], "cos": co[keep]})

    return _small.ranked_probe(corpus, (qids, _normalize(qmat)), score, _TOPK_SCHEMA, _by_cos(), k)


def _bucket_topk(
    corpus: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray,
    probe_keys: np.ndarray,
    corpus_keys: Callable[[pd.DataFrame, np.ndarray], np.ndarray],
    k: int,
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-k of each query over the corpus rows in the buckets it probes.

    probe_keys: (n_queries, n_probes) distinct bucket keys per query.
    corpus_keys(pdf, raw_matrix): the one bucket key of each corpus row.
    A corpus row lives in one bucket, so each (query, row) pair is scored
    at most once; the per-block cut keeps k pairs per query in
    (cos DESC, vec_id) order, the order the final rank uses. A block holds
    at most `budget` pair x dimension values: the gathered einsum operands
    are the largest arrays."""
    keys = probe_keys.ravel()
    order = np.argsort(keys, kind="stable")
    owner = np.repeat(np.arange(len(qids)), probe_keys.shape[1])[order]

    def score(state: tuple, pdf: pd.DataFrame, budget: int) -> Iterator[pd.DataFrame]:
        q_ids, q, keys, owner = state
        m = _matrix(pdf[emb_col])
        cn = _normalize(m)
        vids = pdf["vec_id"].to_numpy(dtype=np.int64)
        ck = corpus_keys(pdf, m)
        lo = np.searchsorted(keys, ck, "left")
        n = np.searchsorted(keys, ck, "right") - lo
        end = np.cumsum(n)  # pairs of rows 0..i
        total = int(end[-1]) if len(end) else 0
        step = max(1, budget // max(q.shape[1], 1))
        for s in range(0, total, step):
            p = np.arange(s, min(s + step, total))
            ci = np.searchsorted(end, p, "right")  # corpus row of each pair
            qi = owner[lo[ci] + p - end[ci] + n[ci]]
            keep = vids[ci] != q_ids[qi]  # exclude self
            ci, qi = ci[keep], qi[keep]
            cos = np.einsum("ij,ij->i", q[qi], cn[ci])
            by = np.lexsort((vids[ci], -cos, qi))
            ci, qi, cos = ci[by], qi[by], cos[by]
            top = np.arange(len(qi)) - np.searchsorted(qi, qi) < k
            yield pd.DataFrame(
                {"qid": q_ids[qi[top]], "vec_id": vids[ci[top]], "cos": cos[top]}
            )

    state = (qids, _normalize(qmat), keys[order], owner)
    return _small.ranked_probe(corpus, state, score, _TOPK_SCHEMA, _by_cos(), k)


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _sign_codes(m: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign-LSH code (int64) of each row of a raw embedding matrix."""
    return ((m @ planes.T) > 0) @ (1 << np.arange(len(planes), dtype=np.int64))


def ann_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    planes: np.ndarray,
    k: int = 5,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, exact
    cosine re-rank within. (qid, vec_id, rank).

    multi_probe: additionally probe every bucket at hamming distance 1 from
    the query's code — standard multi-probe LSH, recall for candidate
    volume without growing the bucket table."""
    planes = np.asarray(planes, dtype=np.float64)
    qids, qmat = _collect_side(queries, "qid", "ann_topk_lsh query table", planes.shape[1])
    codes = _sign_codes(qmat, planes)[:, None]
    if multi_probe:
        codes = np.hstack([codes, codes ^ (1 << np.arange(len(planes), dtype=np.int64))])
    corpus = corpus.select("vec_id", "embedding")
    return _bucket_topk(corpus, qids, qmat, codes, lambda _, m: _sign_codes(m, planes), k)


# ----------------------------------------------------------------- IVF index
def centroids_np(sample_mat: np.ndarray, n_lists: int = 16, iters: int = 3) -> np.ndarray:
    """Deterministic Lloyd k-means on a pre-normalized sample matrix — the
    shared numpy kernel behind ivf_centroids AND the driver-side oracle twin
    (queries.py ann_ivf_topk oracle), so both compute bit-identical
    centroids."""
    m = _normalize(sample_mat)
    cents = m[:n_lists].copy()
    for _ in range(iters):
        assign = np.argmax(m @ _normalize(cents).T, axis=1)
        for j in range(n_lists):
            sel = m[assign == j]
            if len(sel):
                cents[j] = sel.mean(axis=0)
    return _normalize(cents)


def ivf_centroids(
    corpus: DataFrame, n_lists: int = 16, iters: int = 3, sample: int = 4096
) -> np.ndarray:
    """Deterministic IVF centroids: k-means on the first `sample` vectors by
    id (seedless — the sample choice IS the seed), few Lloyd iterations,
    driver-side numpy. At warehouse scale the sample is a cheap LIMIT scan;
    training cost is independent of corpus size."""
    rows = _small.collect(
        corpus.orderBy("vec_id").limit(sample).select("embedding"),
        "ivf_centroids training sample",
        "lower `sample`",
    )
    return centroids_np(_matrix([r[0] for r in rows]), n_lists=n_lists, iters=iters)


def _nearest_lists(m: np.ndarray, centroids: np.ndarray, n: int) -> np.ndarray:
    """The `n` nearest IVF lists of each row of a raw embedding matrix."""
    return np.argsort(-(_normalize(m) @ centroids.T), axis=1)[:, :n]


def ivf_assign(df: DataFrame, centroids: np.ndarray, emb_col: str = "embedding") -> DataFrame:
    """Add `list_id` = nearest centroid. One GEMM per Arrow batch."""
    bc = df.sparkSession.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf(T.IntegerType())
    def nearest(emb: pd.Series) -> pd.Series:
        return pd.Series(_nearest_lists(_matrix(emb), bc.value, 1)[:, 0].astype(np.int32))

    return df.withColumn("list_id", nearest(emb_col))


def write_ivf_index(
    corpus: DataFrame, centroids: np.ndarray, path: str, emb_col: str = "embedding"
) -> None:
    """Materialize the inverted lists as a list_id-partitioned table: the
    IVF index IS the table layout. A probe that filters on its nprobe list
    ids then scans only those partitions (partition pruning — asserted in
    tests), which is what makes IVF sublinear at rest: untouched lists are
    untouched files."""
    cb = ivf_assign(corpus.select("vec_id", F.col(emb_col).alias("emb_c")), centroids, "emb_c")
    cb.write.mode("overwrite").partitionBy("list_id").parquet(path)


def probe_ivf_index(
    spark, path: str, queries: DataFrame, centroids: np.ndarray, k: int = 5, nprobe: int = 4
) -> DataFrame:
    """ANN over a persisted IVF index table: assign queries to their nprobe
    lists, scan ONLY those partitions, exact cosine re-rank within.

    The probed list ids come from the collected query side and are pushed
    as a LITERAL partition filter — static pruning the scan shows in
    PartitionFilters, no reliance on runtime DPP. The index is read with
    its footer's schema plus `list_id`, so no schema-inference job runs."""
    from ..sources.tableformat import parquet_schema, read_back_schema

    cents = np.asarray(centroids, dtype=np.float64)
    qids, qmat = _collect_side(queries, "qid", "probe_ivf_index query table", cents.shape[1])
    lists = _nearest_lists(qmat, cents, nprobe)
    schema = read_back_schema(parquet_schema(path), ["list_id"])
    scan = spark.read.schema(schema).parquet(path)
    scan = scan.filter(F.col("list_id").isin(np.unique(lists).tolist()))
    return _bucket_topk(
        scan, qids, qmat, lists, lambda pdf, _: pdf["list_id"].to_numpy(np.int64), k, "emb_c"
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style ANN: corpus bucketed by nearest centroid (the inverted
    lists — at scale, the table's partition key); queries probe their
    `nprobe` nearest lists; exact cosine re-rank within. (qid, vec_id, rank).
    """
    cents = np.asarray(centroids, dtype=np.float64)
    qids, qmat = _collect_side(queries, "qid", "ivf_topk query table", cents.shape[1])
    corpus = corpus.select("vec_id", "embedding")
    lists = _nearest_lists(qmat, cents, nprobe)
    return _bucket_topk(
        corpus, qids, qmat, lists, lambda _, m: _nearest_lists(m, cents, 1)[:, 0], k
    )


def _banded_sign_codes(n_bands: int, band_bits: int, seed: int):
    """pandas UDF: ARRAY<BIGINT> of per-band sign-LSH codes. The hyperplanes
    are generated inside the worker from (seed, dim) — deterministic and
    identical across executors, with zero driver-side data movement (the
    dimension is discovered from the first batch, not from a driver job)."""
    planes_cache: dict[int, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def codes(emb: pd.Series) -> pd.Series:
        m = _matrix(emb)
        dim = m.shape[1]
        p = planes_cache.get(dim)
        if p is None:
            p = planes_cache[dim] = hyperplanes(dim, n_bands * band_bits, seed)
        signs = (m @ p.T) > 0  # (rows, n_bands*band_bits)
        w = 1 << np.arange(band_bits, dtype=np.int64)
        per_band = signs.reshape(len(m), n_bands, band_bits) @ w  # (rows, n_bands)
        return pd.Series(list(per_band.astype(np.int64)))

    return codes


class _DropStats:
    """Hot-bucket-cap drop counter with two read paths. Fast path: a
    pyspark Observation piggybacking on the pairing job (zero extra work).
    Fallback: AQE's empty-relation propagation PRUNES the CollectMetrics
    node whenever the observed subtree collapses to an empty result — the
    all-buckets-dropped case, exactly where the metric matters most — so on
    a failed read the count is recomputed exactly with a small aggregate
    job over the sized-buckets frame."""

    def __init__(self, obs, recompute):
        self._obs, self._recompute = obs, recompute

    @property
    def get(self) -> dict:
        # Narrow catch (ADVICE r04): only the two known "metrics not
        # collected" shapes fall back to the exact recompute job —
        # AssertionError (pyspark Observation.get before any action) and
        # the Py4J error raised when AQE's empty-relation propagation
        # pruned the CollectMetrics node. Anything else propagates.
        try:
            return self._obs.get
        except AssertionError:
            return self._recompute()
        except Exception as e:  # noqa: BLE001 — filtered below
            if type(e).__module__.startswith("py4j"):
                return self._recompute()
            raise


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    corpus_rows: int | None = None,
    broadcast_limit: int = 65536,
    n_bands: int = 4,
    band_bits: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = 4096,
    target_bucket_rows: int = 1024,
    with_stats: bool = False,
) -> DataFrame:
    """(vec_a < vec_b) pairs with cosine > threshold.

    Default path (the scale path): banded sign-LSH pairing — each vector
    gets `n_bands` band codes (band_bits hyperplane signs each), candidates
    share ANY band bucket (minhash-LSH's OR-of-ANDs), the exact GEMM runs
    per bucket inside applyInPandas, duplicates across bands drop in one
    distinct. Nothing is ever collected to the driver.

    Hot-bucket governor (the 100x scale guard — VERDICT r02): per-band code
    space is 2^band_bits, so bucket size grows O(N/2^band_bits) with the
    corpus and `pair_gemm` is quadratic in bucket size — and applyInPandas
    cannot split a group, so AQE skew handling can NOT save an oversized
    bucket. Two governors, mirroring dedup.lsh_candidate_pairs:
    - `corpus_rows` hint (manifest row count — never a count job): band_bits
      auto-scales to ceil(log2(corpus_rows / target_bucket_rows)) so the
      EXPECTED bucket stays ~target_bucket_rows regardless of corpus size.
    - `max_bucket_size` cap (default 4096 ~ a 128 MB float64 GEMM): buckets
      over the cap are DROPPED from pairing — degenerate piles (zero
      vectors, one dominant direction) are exactly where sign-LSH carries
      no information; genuinely near-identical dups still pair through
      their other bands. None disables the cap. The drop is NOT silent:
      pass `with_stats=True` to get `(pairs, stats)` where `stats` is a
      `_DropStats` (None when no cap is set) — `stats.get` reports dropped
      (row, band) entries after any action on `pairs`. The same object is
      also attached as `pairs._neardup_drop_observation` for callers that
      hold THIS exact frame, but any transformation returns a new
      DataFrame without the attribute (ADVICE r04) — the tuple is the
      durable API.

    Candidate recall for a pair at cosine c is 1-(1-p^band_bits)^n_bands
    with p = 1 - arccos(c)/pi (~0.985 at c=0.95 with 4x4; -> 1 as c -> 1),
    so this is exact for near-identical duplicates and near-exact at the
    threshold; `embedding_near_dups_broadcast` is the exact all-pairs
    kernel, auto-chosen only when the caller supplies a `corpus_rows` hint
    under `broadcast_limit` (e.g. from a table-format manifest — never from
    a count job here).
    """
    if corpus_rows is not None and corpus_rows <= broadcast_limit:
        exact = embedding_near_dups_broadcast(corpus, threshold)
        return (exact, None) if with_stats else exact
    if corpus_rows is not None:
        import math

        band_bits = max(
            band_bits,
            math.ceil(math.log2(max(corpus_rows / target_bucket_rows, 1.0))),
        )

    codes = _banded_sign_codes(n_bands, band_bits, seed)
    bucketed = (
        corpus.select("vec_id", "embedding", codes("embedding").alias("_codes"))
        .select("vec_id", "embedding", F.posexplode("_codes").alias("band_id", "band_code"))
    )
    dropped_obs = None
    if max_bucket_size is not None:
        # count-over-window on the SAME key the groupBy shuffles on — the
        # exchange is shared, the filter costs one in-partition sort.
        # The cap's recall loss must be OBSERVABLE (no silent caps): an
        # Observation counts the (row, band) entries the cap drops; it is
        # attached to the returned frame as `_neardup_drop_observation`
        # and readable after any action — `.get["dropped_band_rows"]`.
        from pyspark.sql import Observation

        w = Window.partitionBy("band_id", "band_code")
        with_sizes = bucketed.withColumn("_bsz", F.count("*").over(w))
        obs = Observation("embedding_neardup_bucket_cap")
        drop_exprs = (
            F.sum((F.col("_bsz") > max_bucket_size).cast("long")).alias(
                "dropped_band_rows"
            ),
            F.count(F.lit(1)).alias("band_rows"),
        )
        dropped_obs = _DropStats(
            obs, lambda: with_sizes.select(*drop_exprs).collect()[0].asDict()
        )
        bucketed = (
            with_sizes.observe(obs, *drop_exprs)
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )

    schema = T.StructType(
        [T.StructField("vec_a", T.LongType()), T.StructField("vec_b", T.LongType())]
    )

    def pair_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": []}).astype(np.int64)
        m = _normalize(_matrix(pdf["embedding"]))
        vids = pdf["vec_id"].to_numpy(dtype=np.int64)
        s = m @ m.T
        hit = (s > threshold) & (vids[:, None] < vids[None, :])
        ai, bi = np.nonzero(hit)
        return pd.DataFrame({"vec_a": vids[ai], "vec_b": vids[bi]})

    pairs = bucketed.groupBy("band_id", "band_code").applyInPandas(pair_gemm, schema)
    out = pairs.distinct()
    out._neardup_drop_observation = dropped_obs
    return (out, dropped_obs) if with_stats else out


def embedding_near_dups_broadcast(corpus: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Exact all-pairs kernel for small corpora: broadcast the corpus
    matrix, one GEMM per Arrow batch. OOMs beyond ~10^5-10^6 vectors — the
    caller (embedding_near_dups) only picks this under a size hint."""
    ids, mat = _collect_side(
        corpus,
        "vec_id",
        "embedding_near_dups_broadcast corpus",
        instead="drop the corpus_rows hint to take the distributed banded-LSH path",
    )
    bc = corpus.sparkSession.sparkContext.broadcast((ids, _normalize(mat)))

    schema = T.StructType(
        [T.StructField("vec_a", T.LongType()), T.StructField("vec_b", T.LongType())]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in batches:
            c = _normalize(_matrix(pdf["embedding"]))
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            s = c @ all_mat.T
            hit = (s > threshold) & (vids[:, None] < all_ids[None, :])
            bi, ai = np.nonzero(hit)
            yield pd.DataFrame({"vec_a": vids[bi], "vec_b": all_ids[ai]})

    return corpus.mapInPandas(probe, schema)


def quantize_int8(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard compression
    step before shipping an embedding corpus to an ANN index or a
    retrieval store (scale = max|x| / 127, q_i = round(x_i / scale)).

    Pure zero-shuffle JVM projection (abs/max/round inside one
    whole-stage-codegen pass over each row's array): at corpus scale this
    runs at scan bandwidth and shrinks the column 4x before any shuffle
    or sink sees it. Values are computed in float64 from the float32
    input, so the identical IEEE ops in a SQL oracle reproduce the bytes
    exactly; all-zero vectors quantize to all-zero with scale 0 (guarded
    — no inf/NaN leaves this operator).

    Returns (id cols..., scale DOUBLE, q ARRAY<BIGINT>)."""
    dbl = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    keep = [c for c in df.columns if c != emb_col]
    # scale materialized as a COLUMN before the per-element lambda uses it:
    # an inline expression inside a higher-order lambda body is re-evaluated
    # per array element (the array_max fold would run d times per row ->
    # O(d^2); see oracle/text_hof.repetition_metrics for the same trap).
    staged = df.select(
        *keep,
        dbl.alias("_dbl"),
        (F.array_max(F.transform(dbl, F.abs)) / F.lit(127.0)).alias("scale"),
    )
    scale = F.col("scale")
    return staged.select(
        *keep,
        "scale",
        F.when(
            scale > 0,
            F.transform(F.col("_dbl"), lambda x: F.round(x / scale).cast("bigint")),
        )
        .otherwise(F.transform(F.col("_dbl"), lambda x: F.lit(0).cast("bigint")))
        .alias("q"),
    )
