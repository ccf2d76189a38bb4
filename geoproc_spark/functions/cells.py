"""Web-Mercator tile / cell math — closed-form, three equivalent forms.

Reproduces the tile grid geoproc uses (morecantile WEB_MERCATOR_TMS,
/root/reference/geoproc/server/image.py:322,389) with the standard
slippy-map formulas — no geo libraries required:

    xtile = floor((lon + 180) / 360 * 2^z)
    ytile = floor((1 - ln(tan(lat) + sec(lat)) / pi) / 2 * 2^z)

Three implementations, kept bit-compatible:
- `tile_cols`      — JVM Column expressions (whole-stage codegen; the hot path)
- `tile_xy_np`     — vectorized numpy (used inside pandas UDFs and the oracle)
- `tile_sql`       — shared-dialect SQL fragments (DuckDB oracle parity)

Cell ids pack (z, x, y) into one BIGINT:  z*2^58 + x*2^29 + y  (z <= 28).
A *parent* cell at zoom p is a bit-shift of x/y — the cell-prefix partition
key used for co-located joins and partition pruning.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.05112878  # Web-Mercator latitude clamp
Z_BITS = 29  # max zoom 28 -> x,y < 2^28 each fit below the z field


# ---------------------------------------------------------------- numpy form
def tile_xy_np(lat: np.ndarray, lon: np.ndarray, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized slippy-map tile coordinates (float64 in, int64 out)."""
    n = 1 << zoom
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    lon = np.asarray(lon, dtype=np.float64)
    xt = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    rad = np.radians(lat)
    yt = np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n).astype(
        np.int64
    )
    return np.clip(xt, 0, n - 1), np.clip(yt, 0, n - 1)


def cell_id_np(lat: np.ndarray, lon: np.ndarray, zoom: int) -> np.ndarray:
    xt, yt = tile_xy_np(lat, lon, zoom)
    return (np.int64(zoom) << (2 * Z_BITS)) | (xt << Z_BITS) | yt


def cell_to_zxy_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    mask = (1 << Z_BITS) - 1
    return (cell >> (2 * Z_BITS)), (cell >> Z_BITS) & mask, cell & mask


def tile_bounds_np(z: np.ndarray, x: np.ndarray, y: np.ndarray):
    """Tile bbox in degrees: (west, south, east, north), vectorized."""
    n = np.power(2.0, np.asarray(z, dtype=np.float64))
    west = np.asarray(x) / n * 360.0 - 180.0
    east = (np.asarray(x) + 1) / n * 360.0 - 180.0
    north = np.degrees(np.arctan(np.sinh(math.pi * (1 - 2 * np.asarray(y) / n))))
    south = np.degrees(np.arctan(np.sinh(math.pi * (1 - 2 * (np.asarray(y) + 1) / n))))
    return west, south, east, north


def covering_cells_np(minx, miny, maxx, maxy, zoom: int) -> list[np.ndarray]:
    """Cell ids covering a bbox (degree space) at `zoom`, one array per bbox.

    Closed-form range cover (no tree walk): x range from lon span, y range
    from Mercator-projected lat span. Row-major order, deterministic.
    """
    n = 1 << zoom
    x0, _ = tile_xy_np(np.zeros_like(np.atleast_1d(minx)), np.atleast_1d(minx), zoom)
    x1, _ = tile_xy_np(np.zeros_like(np.atleast_1d(maxx)), np.atleast_1d(maxx), zoom)
    # north edge -> smaller y
    _, y0 = tile_xy_np(np.atleast_1d(maxy), np.zeros_like(np.atleast_1d(maxy)), zoom)
    _, y1 = tile_xy_np(np.atleast_1d(miny), np.zeros_like(np.atleast_1d(miny)), zoom)
    out = []
    zbase = np.int64(zoom) << (2 * Z_BITS)
    for a, b, c, d in zip(x0, x1, y0, y1):
        xs = np.arange(a, b + 1, dtype=np.int64)
        ys = np.arange(c, d + 1, dtype=np.int64)
        grid = (zbase | (xs[:, None] << Z_BITS) | ys[None, :]).ravel()
        out.append(grid)
    assert all(len(c) <= n * n for c in out)
    return out


# --------------------------------------------------------------- Column form
def tile_cols(lat: Column, lon: Column, zoom: int) -> tuple[Column, Column]:
    """JVM-side tile coordinates — stays inside whole-stage codegen."""
    n = F.lit(1 << zoom)
    lat_c = F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat.cast("double")))
    xt = F.floor((lon.cast("double") + F.lit(180.0)) / F.lit(360.0) * n).cast("bigint")
    rad = F.radians(lat_c)
    yt = F.floor(
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(math.pi))
        / F.lit(2.0)
        * n
    ).cast("bigint")
    clamp = lambda c: F.greatest(F.lit(0).cast("bigint"), F.least(F.lit((1 << zoom) - 1).cast("bigint"), c))  # noqa: E731
    return clamp(xt), clamp(yt)


def cell_id_col(lat: Column, lon: Column, zoom: int) -> Column:
    xt, yt = tile_cols(lat, lon, zoom)
    return (
        F.lit(zoom).cast("bigint") * F.lit(1 << (2 * Z_BITS)).cast("bigint")
        + xt * F.lit(1 << Z_BITS).cast("bigint")
        + yt
    )


def parent_cell_col(cell: Column, from_zoom: int, to_zoom: int) -> Column:
    """Cell-prefix: re-key a cell id to a coarser zoom (partition key)."""
    assert to_zoom <= from_zoom
    d = from_zoom - to_zoom
    x = F.shiftrightunsigned(
        (cell - F.lit(from_zoom).cast("bigint") * F.lit(1 << (2 * Z_BITS)).cast("bigint")),
        Z_BITS,
    )
    y = cell % F.lit(1 << Z_BITS).cast("bigint")
    return (
        F.lit(to_zoom).cast("bigint") * F.lit(1 << (2 * Z_BITS)).cast("bigint")
        + F.shiftrightunsigned(x, d) * F.lit(1 << Z_BITS).cast("bigint")
        + F.shiftrightunsigned(y, d)
    )


# --------------------------------------------------- CRS transforms (F9/F5)
# WGS84 lon/lat degrees <-> Web-Mercator meters (EPSG:3857) in closed form
# here (SURVEY §2.3 F9), UTM in tmerc.py and the conics in conic.py, all
# dispatched by crs_entry. transform_bounds mirrors
# rasterio.warp.transform_bounds(densify_pts=21) as used by the reference's
# bounds_union / export grid (geoproc/server/image.py:51,184,204,346,359).

_R = 6378137.0


def lonlat_to_mercator_np(lon: np.ndarray, lat: np.ndarray):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    x = np.radians(lon) * _R
    y = np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0)) * _R
    return x, y


def mercator_to_lonlat_np(x: np.ndarray, y: np.ndarray):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / _R)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / _R)) - np.pi / 2.0)
    return lon, lat


def _as_f64(a: np.ndarray, b: np.ndarray):
    return np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)


def crs_entry(crs: str):
    """The engine's CRS registry, the one dispatch behind to_lonlat_np,
    from_lonlat_np and grid.is_projected: `crs` -> (projected, to_lonlat,
    from_lonlat), vectorized numpy transforms to and from lon/lat degrees.
    epsg:4326 (geographic), epsg:3857 (spherical Mercator), epsg:326xx/327xx
    (WGS84 UTM, tmerc.py), epsg:2154/3034 LCC and epsg:3035 LAEA (conic.py);
    anything else raises ValueError."""
    c = crs.lower()
    if c == "epsg:4326":
        return False, _as_f64, _as_f64
    if c == "epsg:3857":
        return True, mercator_to_lonlat_np, lonlat_to_mercator_np
    from . import conic, tmerc

    p = tmerc.utm_params(c)
    if p is not None:
        return (
            True,
            lambda x, y: tmerc.tmerc_to_lonlat_np(x, y, *p),
            lambda lon, lat: tmerc.lonlat_to_tmerc_np(lon, lat, *p),
        )
    if conic.conic_params(c) is not None:
        return (
            True,
            lambda x, y: conic.to_lonlat_np(x, y, c),
            lambda lon, lat: conic.from_lonlat_np(lon, lat, c),
        )
    raise ValueError(
        f"unsupported CRS {crs!r} (engine registry: epsg:4326, epsg:3857, "
        f"epsg:326xx/327xx UTM, epsg:2154/3034 LCC, epsg:3035 LAEA)"
    )


def to_lonlat_np(x: np.ndarray, y: np.ndarray, crs: str):
    """Any registry CRS -> (lon, lat) degrees, vectorized (see crs_entry)."""
    return crs_entry(crs)[1](x, y)


def from_lonlat_np(lon: np.ndarray, lat: np.ndarray, crs: str):
    """(lon, lat) degrees -> any registry CRS, vectorized (see crs_entry)."""
    return crs_entry(crs)[2](lon, lat)


def transform_bounds(
    bounds: tuple[float, float, float, float],
    src: str = "epsg:4326",
    dst: str = "epsg:3857",
    densify_pts: int = 21,
) -> tuple[float, float, float, float]:
    """Reproject a bbox between any two registry CRSs by densifying each
    edge with `densify_pts` samples and taking the envelope — the
    rasterio.warp.transform_bounds contract the reference leans on. For
    the 4326<->3857 pair the transform is separable (x from lon only, y
    from lat only) so densification cannot tighten the envelope; for UTM
    it is NOT separable (meridians converge toward the central meridian)
    and the edge sampling genuinely determines the envelope. Routed
    through lon/lat as the hub CRS."""
    if src.lower() == dst.lower():
        return bounds
    minx, miny, maxx, maxy = bounds
    t = np.linspace(0.0, 1.0, max(2, densify_pts))
    x_sweep = minx + (maxx - minx) * t
    y_sweep = miny + (maxy - miny) * t
    # all four edges: bottom/top x-sweeps + left/right y-sweeps
    xs = np.concatenate([x_sweep, x_sweep, np.full_like(t, minx), np.full_like(t, maxx)])
    ys = np.concatenate([np.full_like(t, miny), np.full_like(t, maxy), y_sweep, y_sweep])
    lon, lat = to_lonlat_np(xs, ys, src)
    px, py = from_lonlat_np(lon, lat, dst)
    return float(px.min()), float(py.min()), float(px.max()), float(py.max())


def bounds_union(
    a: tuple[float, float, float, float],
    b: tuple[float, float, float, float],
    a_crs: str = "epsg:4326",
    b_crs: str = "epsg:4326",
) -> tuple[tuple[float, float, float, float], str]:
    """Union of two bboxes with CRS reconciliation — b is reprojected into
    a's CRS first (F5, reference geoproc/server/image.py:526-539). Returns
    (bounds, crs)."""
    if a is None:
        return b, b_crs
    if b is None:
        return a, a_crs
    if a_crs.lower() != b_crs.lower():
        b = transform_bounds(b, src=b_crs, dst=a_crs)
    return (
        min(a[0], b[0]),
        min(a[1], b[1]),
        max(a[2], b[2]),
        max(a[3], b[3]),
    ), a_crs


# --------------------------------------------------------- zoom derivation
# F10 (reference geoproc/server/image.py:467-515): min_zoom comes from the
# maximum theoretical overview level of the raster, max_zoom from matching
# the native resolution to the tile-matrix resolution ladder. The reference
# delegates to rio-tiler's get_maximum_overview_level and morecantile's
# zoom_for_res; both are closed-form math reproduced here without the libs.

EARTH_CIRCUMFERENCE = 2.0 * math.pi * 6378137.0  # WebMercator equator, meters
TILE_SIZE = 256
TMS_MAX_ZOOM = 24


def zoom_resolution(zoom: int, tilesize: int = TILE_SIZE) -> float:
    """Meters/pixel of the Web-Mercator tile matrix at `zoom`."""
    return EARTH_CIRCUMFERENCE / (tilesize * (1 << zoom))


def zoom_for_res(
    res: float,
    max_z: int = TMS_MAX_ZOOM,
    strategy: str = "auto",
    tilesize: int = TILE_SIZE,
) -> int:
    """Zoom whose matrix resolution best matches `res` (m/px) — the
    morecantile `TMS.zoom_for_res` contract used by the reference's
    _get_minzoom/_get_maxzoom (geoproc/server/image.py:484,505): scan down
    the ladder to the first zoom at least as fine as `res`, then the
    'auto' strategy snaps to whichever neighbor is closer in ratio."""
    zoom = 0
    matrix_res = zoom_resolution(0, tilesize)
    for zoom in range(max_z + 1):
        matrix_res = zoom_resolution(zoom, tilesize)
        if res > matrix_res or abs(res - matrix_res) / matrix_res <= 1e-8:
            break
    if zoom > 0 and abs(res - matrix_res) / matrix_res > 1e-8:
        if strategy == "lower":
            zoom = max(zoom - 1, 0)
        elif strategy == "upper":
            zoom = min(zoom, max_z)
        else:  # auto: pick the closer neighbor by resolution ratio
            if (zoom_resolution(zoom - 1, tilesize) / res) < (res / matrix_res):
                zoom = max(zoom - 1, 0)
    return zoom


def max_overview_level(width: int, height: int, minsize: int = TILE_SIZE) -> int:
    """Maximum theoretical COG overview level: halve until the smaller
    dimension fits one tile (rio-tiler get_maximum_overview_level, cited by
    the reference at geoproc/server/image.py:477)."""
    level = 0
    factor = 1
    while min(width // factor, height // factor) > minsize:
        factor *= 2
        level += 1
    return level


def min_max_zoom(
    width: int, height: int, resolution: float, tilesize: int = TILE_SIZE
) -> tuple[int, int]:
    """(min_zoom, max_zoom) for a raster of `width`x`height` px at
    `resolution` m/px — the P4 zoom gate inputs (reference
    geoproc/server/image.py:467-515): min from the coarsest overview's
    resolution, max from the native resolution."""
    ovr = max_overview_level(width, height, minsize=tilesize)
    min_zoom = zoom_for_res(resolution * (1 << ovr), tilesize=tilesize)
    max_zoom = zoom_for_res(resolution, tilesize=tilesize)
    return min_zoom, max_zoom


# ------------------------------------------------------------------ SQL form
def tile_sql(lat_expr: str, lon_expr: str, zoom: int) -> tuple[str, str]:
    """Shared-dialect SQL fragments for (xtile, ytile) — DuckDB oracle parity.

    `lat_expr`/`lon_expr` must be *degree-space* SQL expressions.
    """
    n = 1 << zoom
    lat_c = f"greatest(-{MAX_LAT}, least({MAX_LAT}, CAST({lat_expr} AS DOUBLE)))"
    xt = (
        f"greatest(CAST(0 AS BIGINT), least(CAST({n - 1} AS BIGINT), "
        f"CAST(floor((CAST({lon_expr} AS DOUBLE) + 180.0) / 360.0 * {n}) AS BIGINT)))"
    )
    yt = (
        f"greatest(CAST(0 AS BIGINT), least(CAST({n - 1} AS BIGINT), "
        f"CAST(floor((1.0 - ln(tan(radians({lat_c})) + 1.0 / cos(radians({lat_c}))) / pi()) "
        f"/ 2.0 * {n}) AS BIGINT)))"
    )
    return xt, yt


def cell_id_sql(lat_expr: str, lon_expr: str, zoom: int) -> str:
    xt, yt = tile_sql(lat_expr, lon_expr, zoom)
    return f"(CAST({zoom} AS BIGINT) * {1 << (2 * Z_BITS)} + ({xt}) * {1 << Z_BITS} + ({yt}))"
