"""Exact kNN join as one broadcast top-k pass (cf. SURVEY.md §2.4).

Semantics: for each query point, the k nearest pages by squared-euclidean
distance in scaled-integer space (lat_s/lon_s, degrees x 10^4) — exact BIGINT
math, no floating point; ties broken by page_id. Planar metric (no meridian
wrap), pinned for oracle parity.

Algorithm: the query table is the small side. It is collected once through
operators._small (bounded by MAX_ROWS, a clean ValueError above it) and
broadcast as int64 arrays; ONE mapInPandas pass over the pages computes the
exact int64 d2 of every (page, query) pair in numpy and keeps each query's
k smallest in (d2, page_id) order; one row_number window ranks the union
(operators._small.ranked_probe, the tail the ANN operators share). Exact:
(d2, page_id) is a total order, so the union of the per-batch top-ks holds
the global top-k, and co-located duplicate pages need no special case.

Cost: O(pages x queries) integer work, in blocks of at most
_small.PAIR_BUDGET pairs, with no shuffle of the pages and no driver loop:
a call is the query collect plus one probe job and one rank job, and the
probe runs one task per partition of the page scan. A partition-local
top-k followed by one merge, as in Distributed Stream KNN Join (SIGMOD
2021).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _small

_SCHEMA = "qid bigint, page_id bigint, d2 bigint, k int"
# A block's kth-distance bound comes from a strided sample of about
# k x _SAMPLE rows, so ~rows / _SAMPLE candidates per query reach the sort;
# np.partition over every row took ~10x longer (0.05 s vs 0.005 s per
# 400-query x 10,000-row block).
_SAMPLE = 128


def _score(state: tuple, pdf: pd.DataFrame, budget: int) -> Iterator[pd.DataFrame]:
    """Each query's k nearest pages of one batch in (d2, page_id) order.

    A bound on each query's kth smallest d2 comes from np.partition over a
    strided sample of the block's rows (the kth of any subset is >= the
    true kth); every row at or below it is kept, so ties at the k boundary
    survive, and one lexsort then cuts each query to its own k."""
    qid, qla, qlo, qk = state
    pid = pdf["page_id"].to_numpy(np.int64)
    la = pdf["lat_s"].to_numpy(np.int64)
    lo = pdf["lon_s"].to_numpy(np.int64)
    for rs, qs in _small.blocks(len(pid), len(qid), budget):
        k, p = qk[qs], pid[rs]
        kk = min(int(k.max()), len(p))
        if kk <= 0:
            continue
        d2 = la[None, rs] - qla[qs, None]  # (queries, rows)
        d2 *= d2
        dlo = lo[None, rs] - qlo[qs, None]
        dlo *= dlo
        d2 += dlo
        step = max(1, len(p) // (kk * _SAMPLE))
        kth = np.partition(d2[:, ::step], kk - 1, axis=1)[:, kk - 1]
        qi, ri = np.divmod(np.flatnonzero(d2 <= kth[:, None]), len(p))
        dd, p = d2[qi, ri], p[ri]
        by = np.lexsort((p, dd, qi))
        qi, p, dd = qi[by], p[by], dd[by]
        top = np.arange(len(qi)) - np.searchsorted(qi, qi) < k[qi]
        yield pd.DataFrame(
            {"qid": qid[qs][qi[top]], "page_id": p[top], "d2": dd[top], "k": k[qi[top]]}
        )


def knn_join(
    queries: DataFrame,
    pages: DataFrame,
    n_pages: int | None = None,
    k_max: int | None = None,
) -> DataFrame:
    """Exact kNN: queries(qid, qlat_s, qlon_s, k) x pages(page_id, lat_s, lon_s)
    -> (qid, page_id, rank).

    The query table is the small side: it is collected to the driver once
    (operators._small), bounded by _small.MAX_ROWS rows; above it knn_join
    raises ValueError — split the query table into batches. Pages without a
    position (NULL lat_s or lon_s) never rank.

    k_max, when given, caps every query's k. n_pages is accepted and
    ignored: one pass needs no density estimate."""
    split = "split the query table into smaller batches and union the results"
    rows = _small.collect(
        queries.select("qid", "qlat_s", "qlon_s", "k"), "knn_join query table", split
    )
    qid, qla, qlo, qk = (np.array([r[i] for r in rows], dtype=np.int64) for i in range(4))
    if k_max is not None:
        qk = np.minimum(qk, k_max)
    data = pages.select("page_id", "lat_s", "lon_s").filter(
        F.col("lat_s").isNotNull() & F.col("lon_s").isNotNull()
    )
    order = [F.col("d2").asc(), F.col("page_id").asc()]
    return _small.ranked_probe(data, (qid, qla, qlo, qk), _score, _SCHEMA, order, F.col("k"))
