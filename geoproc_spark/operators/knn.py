"""Exact kNN join via cell-ring expansion (north_rule; cf. SURVEY.md §2.4).

Semantics: for each query point, the k nearest pages by squared-euclidean
distance in scaled-integer space (lat_s/lon_s, degrees x 10^4) — exact BIGINT
math, no floating point; ties broken by page_id. Planar metric (no meridian
wrap), pinned for oracle parity.

Algorithm (two-phase filter-refine, exact):
  1. Candidate phase: join queries to pages in the query's cell ring at
     `zoom` (ring radius doubles until every query has >= k candidates).
  2. Bound phase: the kth candidate distance d_k is an upper bound on the
     true kth distance. Re-join against all cells intersecting the
     bbox [q +- ceil(sqrt(d_k))] and take the exact top-k by window rank.
Phase-2 correctness does not depend on phase-1 ring geometry — any >= k
candidates give a valid bound, so Mercator y-distortion in the ring metric
is harmless.

Scale: the query side is the small side by construction. It is collected
once through operators._small (bounded by MAX_ROWS, a clean ValueError
above it); its ring and cover cells are computed in numpy on the driver and
broadcast as local relations into cell equi-joins against the pages. The
driver loop runs O(log(world/cell)) rounds in the worst case, each a single
job on the *unresolved* queries only.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells
from . import _small

DEFAULT_KNN_ZOOM = 6
SCALE = 10_000


def _pages_with_cell(pages: DataFrame, zoom: int) -> DataFrame:
    return pages.withColumn(
        "_cell",
        cells.cell_id_col(F.col("lat_s") / SCALE, F.col("lon_s") / SCALE, zoom),
    )


def _ring_cells_np(lat_s, lon_s, zoom: int, radius: int) -> list[list[int]]:
    """Cells within `radius` tiles of each point's cell (x wraps around the
    antimeridian, y clamps to the grid) — the phase-1 ring cells."""
    n = 1 << zoom
    xt, yt = cells.tile_xy_np(
        np.asarray(lat_s, dtype=np.float64) / SCALE,
        np.asarray(lon_s, dtype=np.float64) / SCALE,
        zoom,
    )
    offs = np.arange(-radius, radius + 1, dtype=np.int64)
    zbase = np.int64(zoom) << (2 * cells.Z_BITS)
    xs = (xt[:, None] + offs[None, :]) % n
    ys = yt[:, None] + offs[None, :]
    out = []
    for i in range(len(xt)):
        yy = ys[i][(ys[i] >= 0) & (ys[i] < n)]
        grid = zbase | (xs[i][:, None] << cells.Z_BITS) | yy[None, :]
        out.append(np.unique(grid.ravel()).tolist())
    return out


def _bbox_cells_np(lat_s, lon_s, d_k, zoom: int) -> list[list[int]]:
    """Covering cells of [q +- r] where r = ceil(sqrt(d_k)) scaled units —
    the phase-2 cover cells."""
    la = np.asarray(lat_s, dtype=np.float64)
    lo = np.asarray(lon_s, dtype=np.float64)
    r = np.ceil(np.sqrt(np.asarray(d_k, dtype=np.float64)))
    covers = cells.covering_cells_np(
        np.maximum((lo - r) / SCALE, -180.0),
        np.maximum((la - r) / SCALE, -cells.MAX_LAT),
        np.minimum((lo + r) / SCALE, 180.0),
        np.minimum((la + r) / SCALE, cells.MAX_LAT),
        zoom,
    )
    return [c.tolist() for c in covers]


def _d2():
    return (
        (F.col("qlat_s") - F.col("lat_s")) * (F.col("qlat_s") - F.col("lat_s"))
        + (F.col("qlon_s") - F.col("lon_s")) * (F.col("qlon_s") - F.col("lon_s"))
    ).alias("d2")


def knn_join(
    queries: DataFrame,
    pages: DataFrame,
    zoom: int = DEFAULT_KNN_ZOOM,
    max_rounds: int = 12,
    n_pages: int | None = None,
    k_max: int | None = None,
) -> DataFrame:
    """Exact kNN: queries(qid, qlat_s, qlon_s, k) x pages(page_id, lat_s, lon_s)
    -> (qid, page_id, rank).

    The query table is the small side: it is collected to the driver once
    (operators._small), and so is each round's ring-cell table and the
    phase-2 cover table. Each is bounded by _small.MAX_ROWS rows; above it
    knn_join raises ValueError — split the query table into batches.

    n_pages / k_max: density-seed hints. At 100 TB a count() is a full-scan
    job before any useful work — pass the row count from the table-format
    manifest (tableformat.read_manifest(path)["total_rows"]); the count
    runs only as a fallback when no hint is given. k_max defaults to the
    largest k of the collected queries.

    Duplicate-position collapse (r6): web corpora repeat exact coordinates
    massively (same venue, mirrored pages — the bench corpus holds ~400
    copies of every point, 2M in one cell). For top-k by (d2, page_id),
    only the k_max smallest page_ids AT EACH POSITION can ever rank: a
    point with k_max same-position smaller-id twins is beaten by all of
    them for every query. Keeping row_number() <= k_max per (lat_s, lon_s)
    is therefore EXACT, and shrinks the candidate table by the duplication
    factor BEFORE any per-query work — profiled 12.6 s -> ~1 s for the
    phase-1 ranking, which previously sorted millions of co-located ties
    per query."""
    from ._cache import swap_cache

    split = "split the query table into smaller batches and union the results"
    # one collect serves kmax AND every round's ring metadata below
    qrows = [
        (int(r["qid"]), int(r["qlat_s"]), int(r["qlon_s"]), int(r["k"]))
        for r in _small.collect(
            queries.select("qid", "qlat_s", "qlon_s", "k"),
            "knn_join query table", split,
        )
    ]
    kmax = k_max if k_max is not None else (max((q[3] for q in qrows), default=1) or 1)
    wpos = Window.partitionBy("lat_s", "lon_s").orderBy("page_id")
    pages_c = swap_cache(
        "knn_pages_cell",
        _pages_with_cell(
            pages.select("page_id", "lat_s", "lon_s")
            .filter(F.col("lat_s").isNotNull())
            .withColumn("_pr", F.row_number().over(wpos))
            .filter(F.col("_pr") <= F.lit(int(kmax)))
            .drop("_pr"),
            zoom,
        ),
    )

    # Phase 1: ring expansion until every query holds >= k candidates.
    # Initial radius from corpus density (uniform estimate, 3x safety):
    # dense corpora start at radius 1; sparse ones skip straight to a ring
    # that plausibly holds k candidates instead of doubling through empty
    # rounds (each round is a full Spark job).
    import math

    if n_pages is None:
        n_pages = pages_c.count()
    density = n_pages / float(4**zoom)
    cells_needed = max(9.0, 3.0 * kmax / max(density, 1e-12))
    radius = min(1 << zoom, max(1, math.ceil((math.sqrt(cells_needed) - 1) / 2)))

    # With the query rows local, each round is ONE Spark job: ring cells
    # come from numpy (the broadcast side is a local relation), the
    # per-query kth bound comes back via a collect of <= |unresolved| tiny
    # rows, and convergence is a set difference in Python.
    spark = queries.sparkSession
    unresolved = qrows
    bounds: list[tuple[int, int, int, int, float]] = []
    for _ in range(max_rounds):
        rings = _ring_cells_np(
            [q[1] for q in unresolved], [q[2] for q in unresolved], zoom, radius
        )
        qcells = _small.frame(
            spark,
            [
                (qid, la, lo, k, int(c))
                for (qid, la, lo, k), cs in zip(unresolved, rings)
                for c in cs
            ],
            "qid long, qlat_s long, qlon_s long, k int, _cell long",
            "knn_join ring cells", split,
        )
        cand = F.broadcast(qcells).join(pages_c, "_cell", "inner").select(
            "qid", "qlat_s", "qlon_s", "k", "page_id", _d2()
        )
        wq = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("page_id").asc())
        kth = (
            cand.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= F.col("k"))
            .groupBy("qid", "qlat_s", "qlon_s", "k")
            .agg(F.count("*").alias("n"), F.max("d2").alias("d_k"))
        )
        resolved = kth.filter(F.col("n") >= F.col("k")).select(
            "qid", "qlat_s", "qlon_s", "k", "d_k"
        ).collect()
        bounds.extend(
            (int(r["qid"]), int(r["qlat_s"]), int(r["qlon_s"]), int(r["k"]), float(r["d_k"]))
            for r in resolved
        )
        done_ids = {int(r["qid"]) for r in resolved}
        unresolved = [q for q in unresolved if q[0] not in done_ids]
        if not unresolved:
            break
        radius *= 2
    else:
        # Degenerate corpus (< k pages anywhere): full-scan bound.
        bounds.extend((qid, la, lo, k, float((4e6) ** 2 * 2)) for qid, la, lo, k in unresolved)

    # Phase 2: exact top-k within the certified radius.
    covers = _bbox_cells_np(
        [b[1] for b in bounds], [b[2] for b in bounds], [b[4] for b in bounds], zoom
    )
    qcover = _small.frame(
        spark,
        [
            (qid, la, lo, k, dk, int(c))
            for (qid, la, lo, k, dk), cs in zip(bounds, covers)
            for c in cs
        ],
        "qid long, qlat_s long, qlon_s long, k int, d_k double, _cell long",
        "knn_join cover cells", split,
    )
    cand2 = (
        F.broadcast(qcover).join(pages_c, "_cell", "inner")
        .select("qid", "k", "page_id", _d2(), "d_k")
        .filter(F.col("d2") <= F.col("d_k"))
        # a page in several covered cells appears once per (qid): cells are
        # disjoint, each page lives in exactly one -> no dedup needed
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("page_id").asc())
    return (
        cand2.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("qid", "page_id", "rank")
    )
