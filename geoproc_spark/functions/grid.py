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

The CRS registry is cells.crs_entry: EPSG:4326 (geographic), EPSG:3857,
WGS84 UTM epsg:326xx/327xx (functions/tmerc.py) and the conics
(functions/conic.py), all projected — covering the reference's documented
`export(..., crs="epsg:32630")` workflow. Window enumeration
mirrors the reference's 4096-px export loop (WINDOW_SIZE at :32), row-major.
`cut_tiles` is the ingest side: the one cutter from a raster onto the
slippy tile grid.

All closed form: usable driver-side (specs), inside pandas UDFs
(vectorized sampling), and re-derivable by the DuckDB/numpy oracles.
"""

from __future__ import annotations

import math

import numpy as np

from . import cells

WINDOW_SIZE = 4096  # reference geoproc/server/image.py:32


def is_projected(crs: str) -> bool:
    """True for the registry's projected (meter-unit) CRSs: 3857, UTM
    (epsg:326xx/327xx) and the conics; False for geographic 4326
    (cells.crs_entry)."""
    return cells.crs_entry(crs)[0]


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


def tile_range_pad(crs: str) -> int:
    """Safety pad (in tiles) for a window's source-tile range derived from
    boundary samples. 4326/3857 are SEPARABLE (lon from x only, lat from y
    only) so boundary extremes are exact -> 0. UTM is not: meridians curve
    in grid coords, so a sampled boundary can undershoot the true lon/lat
    extremes by a sliver -> pad 1 tile (extra candidates are harmless: the
    gather only copies pixels whose nearest tile actually matches)."""
    return 0 if crs.lower() in ("epsg:4326", "epsg:3857") else 1


def cut_tiles(
    data: np.ndarray, mask: np.ndarray, zoom: int, x0: int, y0: int, side: int
) -> list[tuple[int, int, int, list[list[float]], list[int]]]:
    """Cut a (bands, H, W) raster and its (H, W) mask into `side`-px slippy
    tiles at `zoom`, the top-left pixel at tile (x0, y0): the engine's one
    tile cutter. Right/bottom edges pad as nodata (0, mask 0). Returns tile
    rows (z, x, y, data per band, mask) in row-major tile order; a raster
    reaching past the zoom grid raises ValueError before any cutting."""
    nb, H, W = data.shape
    nty, ntx = -(-H // side), -(-W // side)
    n = 1 << zoom
    x0, y0 = int(x0), int(y0)
    if x0 < 0 or y0 < 0 or x0 + ntx > n or y0 + nty > n:
        raise ValueError(
            f"tiles x {x0}..{x0 + ntx - 1}, y {y0}..{y0 + nty - 1} outside "
            f"the zoom-{zoom} grid (0..{n - 1})"
        )
    pad_a = np.zeros((nb, nty * side, ntx * side), dtype=np.float64)
    pad_a[:, :H, :W] = data
    pad_m = np.zeros((nty * side, ntx * side), dtype=np.int64)
    pad_m[:H, :W] = mask
    # (bands, ty, row, tx, col) -> (ty, tx, bands, row * col)
    tiles_a = pad_a.reshape(nb, nty, side, ntx, side).transpose(1, 3, 0, 2, 4)
    tiles_m = pad_m.reshape(nty, side, ntx, side).transpose(0, 2, 1, 3)
    tiles_a = tiles_a.reshape(nty * ntx, nb, side * side).tolist()
    tiles_m = tiles_m.reshape(nty * ntx, side * side).tolist()
    return [
        (zoom, x0 + i % ntx, y0 + i // ntx, d, m)
        for i, (d, m) in enumerate(zip(tiles_a, tiles_m))
    ]


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
