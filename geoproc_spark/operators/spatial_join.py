"""Point-in-polygon spatial join — the engine's headline operator.

Filter-refine, Raptor-style (PAPERS.md): polygons get a covering-cell set at
a fixed zoom; pages get their point cell at the same zoom; matching cells
produce candidates; an exact vectorized ray-cast refines. Maps the
reference's only join — the spatially-aligned zip join of
/root/reference/geoproc/server/image.py:295-301, where both children are
evaluated for the same window key — onto cell-keyed candidate generation.

Scale notes (100 TB / 1000 executors):
- By default (`broadcast_poly=True`) the polygon layer is collected through
  operators._small and packed into a CellBboxIndex (sorted cell-keyed
  ranges); the index is broadcast and every Arrow batch of points probes
  it and refines inside ONE mapInPandas pass — no join, no shuffle, one
  Python boundary per batch.
- Continent-scale layers pass `broadcast_poly=False`: the covering cells
  are exploded and equi-joined on cell, hash-partitioning both sides
  (with a cell-prefix-partitioned layout, `bucketed_spatial_join`, the
  pages side never moves).
- Hot cells (city-center skew) on the shuffle join are handled by explicit
  salting (`salt_buckets`) plus AQE skew-join as backstop. Salting
  preserves semantics: the page side picks ONE salt per row, the polygon
  side is replicated across all salts, so no duplicates are produced. The
  broadcast probe has no shuffle, so salting it is an error.

All paths produce identical (page_id, feature_id) sets; strict-interior
semantics (boundary points excluded — fixtures keep integer points off the
half-integer polygon edges, synth.py).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells
from .. import synth
from . import _small

DEFAULT_JOIN_ZOOM = 8


# ----------------------------------------------------------------- PIP kernel
def points_in_ring_np(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast point-in-polygon (strict interior, even-odd rule).

    `ring` is flat [x0,y0,...,x0,y0] (closed). ~the numpy PIP the reference
    would have needed had it implemented vector ops (its shapely/geopandas
    dev-deps, /root/reference/pyproject.toml:35-36, were never used).
    """
    xs = ring[0::2]
    ys = ring[1::2]
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(xs) - 1):
        x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        if y1 == y2:
            continue
        crosses = (y1 > py) != (y2 > py)
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
    return inside


def pip_refine_np(
    px: np.ndarray, py: np.ndarray, fid: np.ndarray, ring_at: Callable[[int], np.ndarray]
) -> np.ndarray:
    """Exact refine of candidate (point, polygon) rows: row i holds point
    (px[i], py[i]) and polygon fid[i], whose flat ring is ring_at(i).

    Rows are grouped by fid (an int64 argsort — no per-row Python) and each
    distinct polygon is tested against its candidate points in one
    vectorized ray-cast pass."""
    out = np.zeros(len(px), dtype=bool)
    order = np.argsort(fid, kind="stable")
    fs = fid[order]
    bounds = np.r_[np.flatnonzero(np.r_[True, fs[1:] != fs[:-1]]), len(fs)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        ii = order[a:b]
        out[ii] = points_in_ring_np(px[ii], py[ii], ring_at(ii[0]))
    return out


@F.pandas_udf(T.BooleanType())
def _pip_udf(lon: pd.Series, lat: pd.Series, ring: pd.Series, fid: pd.Series) -> pd.Series:
    """Arrow-batched PIP refine; each candidate row carries its ring."""
    return pd.Series(
        pip_refine_np(
            lon.to_numpy(dtype=np.float64),
            lat.to_numpy(dtype=np.float64),
            fid.to_numpy(dtype=np.int64),
            lambda i: np.asarray(ring.iloc[i], dtype=np.float64),
        )
    )


# ------------------------------------------------------------- polygon layer
def polygons_df(spark: SparkSession) -> DataFrame:
    """The fixture polygon layer as general closed rings (FIXTURES.md T2)."""
    feats = synth.polygon_rings()
    schema = T.StructType(
        [
            T.StructField("layer_id", T.StringType()),
            T.StructField("feature_id", T.LongType()),
            T.StructField("ring", T.ArrayType(T.DoubleType())),
            T.StructField("minx", T.DoubleType()),
            T.StructField("miny", T.DoubleType()),
            T.StructField("maxx", T.DoubleType()),
            T.StructField("maxy", T.DoubleType()),
        ]
    )
    return _small.frame(spark, feats, schema, "polygon layer", "read a large layer from a table")


def with_covering_cells(poly: DataFrame, zoom: int = DEFAULT_JOIN_ZOOM) -> DataFrame:
    """Attach ARRAY<BIGINT> covering cells per polygon (Arrow-batched).

    Distributed: works for millions of polygons — the cover is computed per
    Arrow batch from the bbox, never driver-side.
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cover(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        covers = cells.covering_cells_np(
            minx.to_numpy(), miny.to_numpy(), maxx.to_numpy(), maxy.to_numpy(), zoom
        )
        return pd.Series([c.tolist() for c in covers])

    return poly.withColumn("covering_cells", cover("minx", "miny", "maxx", "maxy"))


# ------------------------------------------------------------ the join paths
_RESERVED_PT_COLS = ("_cell", "_salt", "ring", "feature_id")


def _check_reserved(points: DataFrame) -> None:
    # helper/poly columns must not shadow caller data: withColumn silently
    # REPLACES a same-named input column and the final drop would eat it
    clash = [c for c in _RESERVED_PT_COLS if c in points.columns]
    if clash:
        raise ValueError(
            f"spatial join reserves columns {clash} but the points input "
            f"already has them — rename before joining"
        )


def spatial_join(
    points: DataFrame,
    poly: DataFrame,
    zoom: int = DEFAULT_JOIN_ZOOM,
    salt_buckets: int | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    broadcast_poly: bool = True,
) -> DataFrame:
    """Covering-cell filter + exact PIP refine (the scale path).

    points: any DataFrame with (lat_col, lon_col) in degrees + id columns.
    Returns points' columns + feature_id, one row per (point, containing
    polygon). Rows with null coordinates are dropped (no geo -> no match).

    broadcast_poly=True (polygon layers are almost always the small side):
    the layer is collected to the driver (operators._small), packed into a
    CellBboxIndex and broadcast; each Arrow batch of points probes it and
    refines in ONE mapInPandas pass — the points are neither shuffled nor
    joined. More than _small.MAX_ROWS polygons or (cell, polygon) pairs
    raise ValueError. Pass False for continent-scale layers: the covering
    cells are exploded and equi-joined on cell, shuffling both sides.

    salt_buckets (shuffle join only, so ValueError with broadcast_poly):
    the point side picks one salt per row, the polygon side is replicated
    across all salts, so hot cells spread without duplicate rows.
    """
    if broadcast_poly and salt_buckets and salt_buckets > 1:
        raise ValueError(
            "salt_buckets spreads the shuffle join's hot cells; the broadcast "
            "probe has no shuffle to salt — pass broadcast_poly=False to salt"
        )
    _check_reserved(points)
    pts = points.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    if broadcast_poly:
        return _probe_join(pts, poly, zoom, lat_col, lon_col)

    pts = pts.withColumn("_cell", cells.cell_id_col(F.col(lat_col), F.col(lon_col), zoom))
    poly_cells = with_covering_cells(poly, zoom).select(
        "feature_id", "ring", F.explode("covering_cells").alias("_cell")
    )
    if salt_buckets and salt_buckets > 1:
        # Salt on a hash of ALL point columns: hashing only the first column
        # silently degrades to a constant salt when a caller's leading column
        # is low-cardinality (e.g. a lat passed first).
        pts = pts.withColumn(
            "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in pts.columns]), F.lit(salt_buckets))
        )
        poly_cells = poly_cells.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0).cast("bigint"), F.lit(salt_buckets - 1).cast("bigint")))
        )
        joined = pts.join(poly_cells, ["_cell", "_salt"], "inner")
    else:
        joined = pts.join(poly_cells, "_cell", "inner")

    refined = joined.filter(
        _pip_udf(F.col(lon_col), F.col(lat_col), F.col("ring"), F.col("feature_id"))
    )
    return refined.drop("_cell", "_salt", "ring")


def bucketed_spatial_join(
    points: DataFrame,
    poly: DataFrame,
    table: str = "geo_pages_cell_bkt",
    zoom: int = DEFAULT_JOIN_ZOOM,
    n_buckets: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """The storage-partitioned variant of `spatial_join` (SURVEY §4.2 /
    north_rule cell-prefix layout): the cell-keyed points are materialized
    ONCE as a table bucketed AND sorted on the join cell, so the join plans
    with ZERO Exchange and zero Sort on the pages side — only the small
    exploded polygon side shuffles into the bucket partitioning (hinted
    merge join; broadcast would bypass the layout under test). At 100 TB
    this is Iceberg's bucket(N, cell) write followed by storage-partitioned
    joins: the expensive side never moves again, across every query that
    keys on the cell.

    Same (point columns + feature_id) contract and exact PIP refine as
    spatial_join."""
    from ..sources import bucketed as bk

    spark = points.sparkSession
    _check_reserved(points)
    pts = points.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    pts = pts.withColumn("_cell", cells.cell_id_col(F.col(lat_col), F.col(lon_col), zoom))
    bk.write_bucketed(pts, table, ["_cell"], n_buckets=n_buckets, sort_cols=["_cell"])
    t = bk.read_bucketed(spark, table)

    poly_cells = (
        with_covering_cells(poly, zoom)
        .select("feature_id", "ring", F.explode("covering_cells").alias("_cell"))
        .hint("merge")  # force SMJ: the bucketed side joins in place
    )
    joined = t.join(poly_cells, "_cell", "inner")
    refined = joined.filter(
        _pip_udf(F.col(lon_col), F.col(lat_col), F.col("ring"), F.col("feature_id"))
    )
    return refined.drop("_cell", "ring")


def _multi_arange(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate arange(s, s+c) for each (s, c) — vectorized, no Python
    loop over ranges (the classic cumsum trick)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    out = np.ones(total, dtype=np.int64)
    out[0] = starts[0]
    cs = counts.cumsum()
    out[cs[:-1]] = starts[1:] - (starts[:-1] + counts[:-1] - 1)
    return out.cumsum()


class CellBboxIndex:
    """Packed cell-keyed polygon index for the broadcast join.

    Build (driver-side, once): every polygon bbox gets its covering cells
    at `zoom`; the (cell, poly) pairs are sorted by cell into three flat
    arrays — sorted unique cells, range starts, and poly indices — the
    array-packed form of an R-tree leaf level keyed by grid cell. Probe
    (per Arrow batch): point -> cell -> binary search -> candidate range,
    all vectorized; the old (npoints x npolys) containment matrix is gone,
    so cost is O(n log c + candidates) instead of O(n * m) per batch —
    the difference between 15 polygons and 10^5.
    """

    def __init__(self, poly_rows: list[dict], zoom: int = DEFAULT_JOIN_ZOOM):
        self.zoom = zoom
        self.fids = np.array([p["feature_id"] for p in poly_rows], dtype=np.int64)
        self.boxes = np.array(
            [[p["minx"], p["miny"], p["maxx"], p["maxy"]] for p in poly_rows],
            dtype=np.float64,
        )
        self.rings = [np.asarray(p["ring"], dtype=np.float64) for p in poly_rows]
        covers = cells.covering_cells_np(
            self.boxes[:, 0], self.boxes[:, 1], self.boxes[:, 2], self.boxes[:, 3], zoom
        )
        cell_keys = np.concatenate(covers) if covers else np.empty(0, dtype=np.int64)
        poly_idx = np.repeat(
            np.arange(len(poly_rows), dtype=np.int64),
            [len(c) for c in covers],
        )
        order = np.argsort(cell_keys, kind="stable")
        cell_sorted = cell_keys[order]
        self.flat_poly = poly_idx[order]
        uniq_mask = np.r_[True, cell_sorted[1:] != cell_sorted[:-1]]
        self.uniq_cells = cell_sorted[uniq_mask]
        self.starts = np.r_[np.flatnonzero(uniq_mask), len(cell_sorted)].astype(np.int64)

    def candidates(self, lat: np.ndarray, lon: np.ndarray):
        """(point_idx, poly_idx) candidate pairs whose cell matches AND
        whose bbox strictly contains the point."""
        ptc = cells.cell_id_np(lat, lon, self.zoom)
        pos = np.searchsorted(self.uniq_cells, ptc)
        ok = pos < len(self.uniq_cells)
        ok[ok] &= self.uniq_cells[pos[ok]] == ptc[ok]
        hit = np.flatnonzero(ok)
        s = self.starts[pos[hit]]
        e = self.starts[pos[hit] + 1]
        counts = e - s
        pi = np.repeat(hit, counts)
        fi = self.flat_poly[_multi_arange(s, counts)]
        b = self.boxes
        keep = (
            (lon[pi] > b[fi, 0])
            & (lon[pi] < b[fi, 2])
            & (lat[pi] > b[fi, 1])
            & (lat[pi] < b[fi, 3])
        )
        return pi[keep], fi[keep]


def _probe_join(
    pts: DataFrame, poly: DataFrame, zoom: int, lat_col: str, lon_col: str
) -> DataFrame:
    """spatial_join's broadcast path: the collected layer is packed into a
    CellBboxIndex and broadcast; each Arrow batch of (non-null) points
    probes it via binary search (candidate pairs), then the exact ray-cast
    refines. The distributed analog of the reference evaluating a constant
    image per window (/root/reference/geoproc/server/image.py:120-139):
    the small side rides along to every partition.
    """
    instead = "pass broadcast_poly=False to shuffle-join the polygon layer"
    rows = _small.collect(
        poly.select("feature_id", "ring", "minx", "miny", "maxx", "maxy"),
        "spatial_join polygon layer", instead,
    )
    if not rows:  # an empty layer matches nothing
        return pts.withColumn("feature_id", F.lit(None).cast("long")).filter(F.lit(False))
    index = CellBboxIndex(rows, zoom)
    _small.check(len(index.flat_poly), "spatial_join covering cells", instead)
    bc = pts.sparkSession.sparkContext.broadcast(index)

    out_schema = T.StructType(
        pts.schema.fields + [T.StructField("feature_id", T.LongType())]
    )
    pt_cols = pts.columns

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = bc.value
        for pdf in batches:
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            # non-null NaN coordinates pass the isNotNull filter but must
            # never reach the float->int64 cell cast (UB in numpy): park
            # them at (0, 0) and drop their candidates
            bad = np.isnan(lon) | np.isnan(lat)
            if bad.any():
                lon = np.where(bad, 0.0, lon)
                lat = np.where(bad, 0.0, lat)
            pi, fi = index.candidates(lat, lon)
            if bad.any():
                keep_ok = ~bad[pi]
                pi, fi = pi[keep_ok], fi[keep_ok]
            if len(pi) == 0:
                yield pdf.iloc[:0].assign(feature_id=np.array([], dtype=np.int64))
                continue
            keep = pip_refine_np(lon[pi], lat[pi], fi, lambda i: index.rings[fi[i]])
            pi, fi = pi[keep], fi[keep]
            out = pdf.iloc[pi][pt_cols].reset_index(drop=True)
            out["feature_id"] = index.fids[fi]
            yield out

    return pts.mapInPandas(probe, out_schema)
