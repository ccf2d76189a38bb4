"""Projected export grid — the reference's scale/CRS export spec.

Reproduces the grid derivation of the reference's `Image.export`
(/root/reference/geoproc/server/image.py:162-241) without rasterio:

1. scale units are meters, so bounds are first reprojected to a PROJECTED
   CRS — the output CRS itself if projected, else EPSG:3857 (:183-184);
2. width/height come from a from_origin(minx, maxy, scale, scale) transform
   over the projected bounds: round(span / scale) (:186-200 — Python
   round(), i.e. half-to-even, exactly as round(window.width) there);
3. the OUTPUT transform is from_bounds(out_bounds, width, height) in the
   requested output CRS (:202-207): pixel size = span / pixel count,
   origin at (west, north), north-up (negative y size).

The CRS registry (functions/cells.py F9 + functions/tmerc.py): EPSG:4326
(geographic), EPSG:3857 (projected), and WGS84 UTM epsg:326xx/327xx
(projected) — covering the reference's documented
`export(..., crs="epsg:32630")` workflow. Window enumeration
mirrors the reference's 4096-px export loop (WINDOW_SIZE at :32), row-major.

All closed form: usable driver-side (specs), inside pandas UDFs
(vectorized sampling), and re-derivable by the DuckDB/numpy oracles.
"""

from __future__ import annotations

import math

import numpy as np

from . import cells

WINDOW_SIZE = 4096  # reference geoproc/server/image.py:32


def is_projected(crs: str) -> bool:
    """The engine's CRS registry: 3857 and UTM (epsg:326xx/327xx) are
    projected (meter units), 4326 is geographic."""
    c = crs.lower()
    if c == "epsg:3857":
        return True
    if c == "epsg:4326":
        return False
    from . import conic, tmerc

    if tmerc.utm_params(c) is not None:
        return True
    if conic.conic_params(c) is not None:
        return True
    raise ValueError(
        f"unsupported CRS {crs!r} (engine registry: epsg:4326, epsg:3857, "
        f"epsg:326xx/327xx UTM, epsg:2154/3034 LCC, epsg:3035 LAEA)"
    )


def export_grid_spec(
    bounds: tuple[float, float, float, float],
    scale: float,
    in_crs: str = "epsg:4326",
    crs: str = "epsg:4326",
) -> dict:
    """Grid shape + affine transform for an export at `scale` meters/pixel.

    Returns {width, height, proj_crs, proj_bounds, out_bounds, transform}
    with transform = (xsize, 0, west, 0, -ysize, north) — rasterio Affine
    element order (a, b, c, d, e, f)."""
    proj_crs = crs if is_projected(crs) else "epsg:3857"
    proj_bounds = cells.transform_bounds(bounds, src=in_crs, dst=proj_crs)
    minx, miny, maxx, maxy = proj_bounds
    width = round((maxx - minx) / scale)
    height = round((maxy - miny) / scale)
    if width <= 0 or height <= 0:
        raise ValueError(f"degenerate export grid {width}x{height} for {bounds} at {scale} m")
    out_bounds = cells.transform_bounds(bounds, src=in_crs, dst=crs)
    ow, osouth, oe, on = out_bounds
    xsize = (oe - ow) / width
    ysize = (on - osouth) / height
    return {
        "width": width,
        "height": height,
        "proj_crs": proj_crs,
        "proj_bounds": proj_bounds,
        "out_bounds": out_bounds,
        "crs": crs,
        "transform": (xsize, 0.0, ow, 0.0, -ysize, on),
    }


def n_windows(width: int, height: int, window_size: int = WINDOW_SIZE) -> tuple[int, int]:
    """(cols, rows) of the export window grid."""
    return (
        (width + window_size - 1) // window_size,
        (height + window_size - 1) // window_size,
    )


def out_xy_to_lonlat(x: np.ndarray, y: np.ndarray, crs: str):
    """Output-CRS coordinates -> (lon, lat) degrees (any registry CRS)."""
    return cells.to_lonlat_np(x, y, crs)


def tile_range_pad(crs: str) -> int:
    """Safety pad (in tiles) for a window's source-tile range derived from
    boundary samples. 4326/3857 are SEPARABLE (lon from x only, lat from y
    only) so boundary extremes are exact -> 0. UTM is not: meridians curve
    in grid coords, so a sampled boundary can undershoot the true lon/lat
    extremes by a sliver -> pad 1 tile (extra candidates are harmless: the
    gather only copies pixels whose nearest tile actually matches)."""
    return 0 if crs.lower() in ("epsg:4326", "epsg:3857") else 1


def sample_native_pixels(
    lon: np.ndarray, lat: np.ndarray, zoom: int, side: int
):
    """Nearest-neighbor source lookup for output pixel centers: global
    slippy pixel coordinates at `zoom` with `side`-px tiles ->
    (tile_x, tile_y, col, row). Off-globe latitudes clamp like tile_xy_np."""
    n = 1 << zoom
    lat = np.clip(np.asarray(lat, dtype=np.float64), -cells.MAX_LAT, cells.MAX_LAT)
    lon = np.asarray(lon, dtype=np.float64)
    gx = (lon + 180.0) / 360.0 * n * side
    rad = np.radians(lat)
    gy = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) / 2.0 * n * side
    gx = np.clip(np.floor(gx).astype(np.int64), 0, n * side - 1)
    gy = np.clip(np.floor(gy).astype(np.int64), 0, n * side - 1)
    return gx // side, gy // side, gx % side, gy % side
