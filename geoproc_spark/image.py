"""Lazy Image API — the geoproc client surface, Spark-native.

The reference client (/root/reference/geoproc/image.py) builds a JSON call
graph per operation and ships it to a server for window-at-a-time pull
evaluation. Here the call graph is Column expressions over the tile
sources an image reads: every operator returns a new `Image` with
rewritten per-band expressions, and Catalyst plays the role of the
server's `eval_image` interpreter (reference geoproc/server/image.py:
542-549). Nothing touches pixels until an action (export/collect/stats)
runs — the same two-level laziness the reference gets from closure
composition. The reference evaluates every child of an operator on the
same window (server/image.py:295-301); here an expression over N distinct
tile sources aligns them once, in one N-way full outer join on the tile
key (`align`), however many ops it chains, and an expression over one
source is one projection of it. A single-tile request filters every
source by its key before they align, so it reads one tile of each, as the
reference pulls one window through its closure tree.

API parity with the reference client class (geoproc/image.py):
  load, constant, select, export, band_names/info,
  __add__ __radd__ __sub__ __rsub__ __mul__ __rmul__ __truediv__
  __rtruediv__ __floordiv__ __rfloordiv__ __abs__,
  __lt__ __le__ __eq__ __ne__ __gt__ __ge__
plus the vis pipeline (rescale/opacity, server app.py:155-171) and a real
`statistics()` (the reference's is an empty stub, server/image.py:378-379).

Pinned reference semantics (SURVEY.md §7.5): binary results are float64,
comparisons give 0.0/1.0, masks union via maximum, left operand's band
names win, constants are boundless and fully valid.
"""

from __future__ import annotations

import copy
import functools
import itertools
import numbers
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators import _small
from .operators import algebra as A

TILE_KEY = A.TILE_KEY

# COG payloads held on the driver at once while export_geotiff_cog streams
# its tiles (about one partition): 64 tiles ≈ 32 MB at 256 px.
STREAM_PARTITION_TILES = 64

# the export window grid's driver-side table, and what to do when it is
# too large for the driver (operators._small)
_WIN_DDL = "wid bigint, col_off int, row_off int, win_w int, win_h int"
_WIN_SMALLER = "raise window_size or scale, or export smaller bounds"


class _Source:
    """One base tile frame (z, x, y, data, mask; other columns are not
    read) and its band count.

    In an aligned frame its data and mask are `_d<k>` and `_m<k>`, names no
    other source has, and `_p<k>` flags the tiles it has, so expressions
    over it never need renaming. Sources are compared by identity: two
    `from_df` calls over the same rows are two sources."""

    _ids = itertools.count()

    def __init__(self, df: DataFrame, n_bands: int):
        k = next(self._ids)
        self.df, self.n_bands = df, n_bands
        self.data, self.mask, self.present = f"_d{k}", f"_m{k}", f"_p{k}"

    @functools.cached_property
    def frame(self) -> DataFrame:
        return self.df.select(
            *TILE_KEY, F.col("data").alias(self.data), F.col("mask").alias(self.mask)
        )


def _lift(images) -> tuple[tuple[_Source, ...], list[tuple[list[Column], Column]]]:
    """The distinct tile sources of `images` in first-appearance order, and
    each image's (bands, mask) over their alignment: an image that reads
    only some of them is zero data and zero mask on the tiles none of its
    own sources has (numpy_oracle._align's zero fill)."""
    sources: list[_Source] = []
    for img in images:
        sources += [s for s in img._sources if not any(s is t for t in sources)]
    lifted = []
    for img in images:
        # a raw image reads its source's columns, which the alignment
        # zero-fills already
        if img._raw or len(img._sources) == len(sources):
            lifted.append((img.bands, img.mask))
            continue
        here = functools.reduce(operator.or_, (F.col(s.present) for s in img._sources))
        lifted.append((
            [F.when(here, b).otherwise(A.zero_band(img.n_px)) for b in img.bands],
            F.when(here, img.mask).otherwise(A.zero_mask(img.n_px)),
        ))
    return tuple(sources), lifted


def align(
    images, where: Column | None = None
) -> tuple[DataFrame, list[tuple[list[Column], Column]]]:
    """One alignment of tiled `images`: the frame of their distinct tile
    sources and each image's (bands, mask) over it (see _lift).

    One source is its own projection. Several form one full outer join on
    the tile key, each source's columns zero-filled beside its presence
    flag, so a tile a source lacks reads as zero data and zero mask, like
    rio-tiler's all-masked window outside an image's bounds (reference
    geoproc/server/image.py:295-301). `where`, a predicate over the tile
    key, filters every source before the join, so it reaches every scan."""
    sources, lifted = _lift(images)
    frames = [s.frame if where is None else s.frame.filter(where) for s in sources]
    if len(frames) == 1:
        return frames[0], lifted
    n_px = images[0].n_px
    joined = functools.reduce(lambda l, r: l.join(r, TILE_KEY, "full_outer"), frames)
    return joined.select(*TILE_KEY, *(c for s in sources for c in (
        F.coalesce(s.data, A.zero_data(s.n_bands, n_px)).alias(s.data),
        F.coalesce(s.mask, A.zero_mask(n_px)).alias(s.mask),
        F.col(s.mask).isNotNull().alias(s.present),
    ))), lifted


class Image:
    """A lazy multi-band tiled image: the tile sources it reads plus pixel
    expressions.

    Each source is a base tile frame (one row per tile key z, x, y, with
    data and mask). `bands` holds one ARRAY<DOUBLE> Column expression per
    band and `mask` one ARRAY<INT> expression (uint8-valued, 255 = valid),
    over the alignment of the sources (see `align`); per-band expressions
    keep a chain of ops linear in the band count (see operators.algebra).
    Band selection, abs, scalar ops and the vis ops rewrite the
    expressions; a binary op reads the union of its operands' sources,
    lifting an operand that reads only some of them (see _lift), so an
    image over one source is one projection of it and one over N sources
    one N-way join. `source` is the frame of a single-source image as
    read, and `df` the tile-row table (z, x, y, data ARRAY<ARRAY<DOUBLE>>,
    mask) the expressions define. `scalar` images (from `constant`) are
    boundless: they have no source and fold into kernels.
    """

    def __init__(
        self,
        source: DataFrame | None,
        band_names: list[str],
        dtype: str,
        n_px: int,
        scalar: float | None = None,
        min_zoom: int | None = None,
        max_zoom: int | None = None,
    ):
        self.band_names = list(band_names)
        if source is None:
            self._sources, self.bands, self.mask = (), [], None
        else:
            s = _Source(source, len(self.band_names))
            self._sources = (s,)
            self.bands = [F.col(s.data)[i] for i in range(len(self.band_names))]
            self.mask = F.col(s.mask)
        self._raw = True  # reads its source's columns as they are; select keeps this
        self.dtype = dtype
        self.n_px = n_px
        self.scalar = scalar
        # F10 zoom range (reference geoproc/server/image.py:467-515); None =
        # unknown (derive with with_zoom_range / functions.cells.min_max_zoom)
        self.min_zoom = min_zoom
        self.max_zoom = max_zoom

    @property
    def source(self) -> DataFrame | None:
        """The tile frame of an image over one source, as read; None for a
        constant or an image over several sources."""
        return self._sources[0].df if len(self._sources) == 1 else None

    @property
    def df(self) -> DataFrame | None:
        """The tile rows (z, x, y, data, mask); None for a constant."""
        return None if self.scalar is not None else self._rows()

    def _rows(self, where: Column | None = None) -> DataFrame:
        """The tile rows, `where` (a tile-key predicate) applied to every
        source before they align."""
        self._need_tiles()
        frame, [(bands, mask)] = align([self], where)
        return frame.select(*TILE_KEY, F.array(*bands).alias("data"), mask.alias("mask"))

    def _need_tiles(self) -> None:
        """Raise for a constant: it is boundless, so it has no tiles to
        read, render or export (reference geoproc/server/image.py:171-178)."""
        if self.scalar is not None:
            raise ValueError("a constant has no tiles: it is boundless")

    def _derive(
        self,
        bands: list[Column],
        mask: Column,
        band_names: list[str] | None = None,
        dtype: str | None = None,
        sources: tuple[_Source, ...] | None = None,
        raw: bool = False,
    ) -> "Image":
        """A new image over this image's sources (or `sources`) with the
        same pixel count and zoom range."""
        out = copy.copy(self)
        out.bands, out.mask, out._raw = bands, mask, raw
        if band_names is not None:
            out.band_names = list(band_names)
        if dtype is not None:
            out.dtype = dtype
        if sources is not None:
            out._sources = sources
        return out

    # ------------------------------------------------------------- sources
    @classmethod
    def load(cls, spark: SparkSession, path: str, n_bands: int | None = None) -> "Image":
        """Open a tile table (parquet) — schema read from metadata, bands
        named B1..Bn like the reference loader
        (/root/reference/geoproc/server/image.py:95). The reference reads
        band count/zooms from the raster profile without touching pixels;
        here `export` writes an `_image_meta.json` sidecar and `load` reads
        it, the table's schema included, so a load runs no job. The
        schema-inference job and the `.first()` pixel probe run only for
        foreign tables with no sidecar."""
        import json
        import os

        meta_path = os.path.join(path, "_image_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                m = json.load(fh)
            df = spark.read.schema(StructType.fromJson(m["schema"])).parquet(path)
            if n_bands is None and m.get("band_names"):
                names = m["band_names"]  # band identity survives the roundtrip
            else:
                names = [f"B{i+1}" for i in range(n_bands or m["n_bands"])]
            return cls(
                df, names, "float64", m["n_px"], min_zoom=m.get("min_zoom"), max_zoom=m.get("max_zoom")
            )
        df = spark.read.parquet(path)
        first = df.select(F.size(F.col("data")).alias("nb"), F.size(F.col("data")[0]).alias("np")).first()
        if first is None:
            raise ValueError(
                f"{path}: no _image_meta.json and no tile rows to read the pixel count from"
            )
        nb = n_bands or first["nb"]
        return cls(df, [f"B{i+1}" for i in range(nb)], "float64", first["np"])

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        n_bands: int,
        n_px: int,
        dtype: str = "float64",
        min_zoom: int | None = None,
        max_zoom: int | None = None,
    ) -> "Image":
        # min/max_zoom: callers that know the table's zoom range (fixture
        # constants, catalog metadata) pass it here so projected_windows /
        # export skip their max-z metadata job entirely.
        names = [f"B{i+1}" for i in range(n_bands)]
        return cls(df, names, dtype, n_px, min_zoom=min_zoom, max_zoom=max_zoom)

    @classmethod
    def from_array(
        cls,
        spark: SparkSession,
        array,
        zoom: int,
        x0: int = 0,
        y0: int = 0,
        tile_side: int = 16,
        mask=None,
        band_names: list[str] | None = None,
    ) -> "Image":
        """Offline raster ingest — the no-GDAL analog of the reference's
        `Image.load` over an arbitrary raster (geoproc/server/image.py:
        92-118, which reads any GDAL profile; this sandbox has no GDAL, so
        the entry path is a numpy array + grid placement): cut `array`
        (bands x H x W, or H x W) into `tile_side`-px tiles aligned to the
        slippy grid at `zoom` with the top-left pixel at tile (x0, y0),
        right/bottom edges padded as NODATA (mask 0), and return a lazy
        Image over the resulting tile rows.

        This is the per-scene unit of a distributed ingest: at warehouse
        scale each scene/granule runs this cut inside its own task
        (binaryFiles -> mapPartitions) and the tile rows union into one
        table; a single driver-side array is the importer's unit test.
        The cut is functions.grid.cut_tiles, the same one
        sources.geotiff.scene_tile_rows runs per scene; a raster reaching
        past the zoom grid raises ValueError before any tile is cut."""
        import numpy as np

        from .functions import grid as _grid

        arr = np.asarray(array, dtype=np.float64)
        if arr.ndim == 2:
            arr = arr[None, :, :]
        if arr.ndim != 3:
            raise ValueError(f"array must be (bands, H, W) or (H, W); got {arr.shape}")
        nb, H, W = arr.shape
        if mask is None:
            m = np.full((H, W), 255, dtype=np.int64)
        else:
            m = np.asarray(mask, dtype=np.int64)
            if m.shape != (H, W):
                raise ValueError(f"mask shape {m.shape} != raster shape {(H, W)}")
        rows = _grid.cut_tiles(arr, m, zoom, x0, y0, tile_side)
        df = _small.frame(
            spark,
            rows,
            "z int, x int, y int, data array<array<double>>, mask array<int>",
            "Image.from_array tile rows",
            "cut large scenes per task with sources.geotiff.ingest_geotiffs",
        )
        names = band_names or [f"B{i+1}" for i in range(nb)]
        return cls(df, names, "float64", tile_side * tile_side, min_zoom=zoom, max_zoom=zoom)

    @classmethod
    def constant(cls, value: float, n_px: int = 0) -> "Image":
        """Boundless constant (/root/reference/geoproc/server/image.py:120-139)."""
        return cls(None, ["constant"], "float64", n_px, scalar=float(value))

    # -------------------------------------------------------------- schema
    @property
    def info(self) -> dict:
        """Metadata without touching pixels — the /info path
        (/root/reference/geoproc/server/app.py:116-122)."""
        return {
            "band_names": self.band_names,
            "dtype": self.dtype,
            "n_px": self.n_px,
            "boundless": self.scalar is not None,
            "min_zoom": self.min_zoom,
            "max_zoom": self.max_zoom,
        }

    @property
    def n_bands(self) -> int:
        return len(self.band_names)

    def with_zoom_range(self, width_px: int, height_px: int, resolution: float) -> "Image":
        """Derive (min_zoom, max_zoom) from raster geometry — F10 (reference
        geoproc/server/image.py:467-515): min from the coarsest overview
        resolution, max from the native resolution."""
        from .functions import cells as _cells

        out = copy.copy(self)
        out.min_zoom, out.max_zoom = _cells.min_max_zoom(width_px, height_px, resolution)
        return out

    def tile(self, z: int, x: int, y: int) -> DataFrame:
        """Single-tile fetch with the P4 min-zoom gate (reference
        geoproc/server/app.py:145-149: tiles below min_zoom are refused —
        rendering them would pull the whole image through one request) and
        the P3 bounds predicate (tiles outside the data 204 to empty).

        The (z,x,y) filter applies to every tile source before they align,
        so it reaches each parquet scan, which prunes the z partition and
        skips row groups on x/y: one request reads one tile of each source,
        and an image over several sources joins those tiles only. A
        constant has no tiles and raises ValueError."""
        if self.min_zoom is not None and z < self.min_zoom:
            raise ValueError(
                f"zoom {z} below min_zoom {self.min_zoom} (P4 gate, reference app.py:145-149)"
            )
        return self._rows((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y))

    # ---------------------------------------------------------- projection
    def select(self, bands: list[str] | list[int]) -> "Image":
        """Band projection; validates names against the schema like the
        server select (/root/reference/geoproc/server/image.py:141-160).
        Pure expression slicing over the same source."""
        idxs = []
        for b in bands:
            if isinstance(b, int):
                idxs.append(b)
            else:
                if b not in self.band_names:
                    raise ValueError(f"band {b!r} not in {self.band_names}")
                idxs.append(self.band_names.index(b))
        if self.scalar is not None:
            return self
        names = [self.band_names[i] for i in idxs]
        return self._derive([self.bands[i] for i in idxs], self.mask, names, raw=self._raw)

    # ------------------------------------------------------------- algebra
    def _binary(self, other, op: str, reverse: bool = False) -> "Image":
        if isinstance(other, numbers.Number):
            other = Image.constant(float(other), self.n_px)
        if self.scalar is not None and other.scalar is not None:
            raise ValueError("at least one operand must have tiles")

        if other.scalar is not None:  # image op constant
            data = A.scalar_data(op, self.bands, other.scalar, self.n_bands, reverse=reverse)
            return self._derive(data, A.full_mask(self.n_px), dtype="float64")
        if self.scalar is not None:  # constant op image
            return other._binary(self, op, reverse=not reverse)

        a, b = (other, self) if reverse else (self, other)
        sources, ((da, ma), (db, mb)) = _lift((a, b))
        # left operand's band names AND zoom range
        # (/root/reference/geoproc/server/image.py:312-315)
        names = a.band_names if len(a.band_names) == max(a.n_bands, b.n_bands) else [
            f"B{i+1}" for i in range(max(a.n_bands, b.n_bands))
        ]
        return a._derive(
            A.binary_data(op, da, db, a.n_bands, b.n_bands),
            A.mask_union(ma, mb),
            names,
            "float64",
            sources,
        )

    def _op(op: str, reverse: bool = False):  # noqa: N805 — builds the operators below
        return lambda self, o: self._binary(o, op, reverse)

    __add__ = __radd__ = _op("add")
    __mul__ = __rmul__ = _op("mul")
    __sub__, __rsub__ = _op("sub"), _op("sub", reverse=True)
    __truediv__, __rtruediv__ = _op("truediv"), _op("truediv", reverse=True)
    __floordiv__, __rfloordiv__ = _op("floordiv"), _op("floordiv", reverse=True)
    __lt__, __le__, __gt__, __ge__ = _op("lt"), _op("le"), _op("gt"), _op("ge")
    # operator objects, like PySpark's Column.__eq__
    __eq__, __ne__ = _op("eq"), _op("ne")  # noqa: PLW3201
    __hash__ = None
    del _op

    def __abs__(self):
        if self.scalar is not None:
            return Image.constant(abs(self.scalar), self.n_px)
        return self._derive(A.abs_data(self.bands, self.n_bands), self.mask)

    # ------------------------------------------------------- visualization
    def rescale(self, rng) -> "Image":
        self._need_tiles()
        ranges = A.expand_scale_range(rng, self.n_bands)
        return self._derive(A.rescale_data(self.bands, ranges), self.mask, dtype="float64")

    def with_gain_bias_gamma(self, gain: float = 1.0, bias: float = 0.0, gamma: float = 1.0) -> "Image":
        """F8 vis params — declared by the reference's VisualizationParams
        (geoproc/models.py:11-13) but never applied by its server; see
        algebra.gain_bias_gamma_data for the semantics implemented here."""
        self._need_tiles()
        data = A.gain_bias_gamma_data(self.bands, self.n_bands, gain, bias, gamma)
        return self._derive(data, self.mask, dtype="float64")

    def with_opacity(self, opacity: float) -> "Image":
        self._need_tiles()
        return self._derive(self.bands, A.opacity_mask(self.mask, opacity))

    def build_overview(self) -> "Image":
        """One pyramid level up (z-1 parents from 2x2 children) — the
        COG-overview build the reference's min_zoom derivation presumes
        (geoproc/server/image.py:467-494). Nearest-neighbor top-left,
        missing quadrants fully masked. Chain for deeper pyramids."""
        from .operators import tiles as _tiles

        return Image(
            _tiles.build_parent_tiles(self._rows(), self.n_bands, self.n_px),
            self.band_names, self.dtype, self.n_px,
            min_zoom=None if self.min_zoom is None else max(0, self.min_zoom - 1),
            max_zoom=self.max_zoom,
        )

    def render_png(self, band, rng, opacity: float = 1.0) -> DataFrame:
        """The COMPLETE S5 tile sink (reference geoproc/server/app.py:125-178):
        band select -> clamped rescale -> opacity -> uint8 -> real PNG bytes
        (functions/png.py; mask rides as the alpha plane), one row per tile
        (z, x, y, png BINARY). `band` is one band name (grayscale PNG) or a
        list of three (truecolor) — the exact 1-or-3 contract of the
        reference's VisualizationParams (geoproc/models.py:8). Encoding runs
        inside an Arrow-batched pandas UDF — distributed, bytes
        deterministic per tile."""
        import math

        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        from .functions import png as _png

        bands = [band] if isinstance(band, (str, int)) else list(band)
        if len(bands) not in (1, 3):
            raise ValueError("render_png takes 1 or 3 bands (models.py:8)")
        nb = len(bands)
        r = self.select(bands).rescale(rng)
        if opacity < 1.0:
            r = r.with_opacity(opacity)
        side = int(math.isqrt(self.n_px))
        rendered = r._derive(A.uint8_data(r.bands, nb), r.mask).df

        # no annotations: `from __future__ import annotations` stringifies
        # hints on nested functions, breaking pandas_udf inference — the
        # explicit (fn, returnType) form takes the scalar path directly
        def _enc(data, mask):
            out = []
            for d, m in zip(data, mask):
                alpha = np.asarray(m, dtype=np.uint8).reshape(side, side)
                if nb == 1:
                    plane = np.asarray(d[0], dtype=np.uint8).reshape(side, side)
                    out.append(_png.encode_gray_png(plane, alpha))
                else:
                    rgb = np.stack(
                        [np.asarray(b, dtype=np.uint8).reshape(side, side) for b in d]
                    )
                    out.append(_png.encode_rgb_png(rgb, alpha))
            return pd.Series(out)

        enc = F.pandas_udf(_enc, T.BinaryType())

        return rendered.select(*TILE_KEY, enc("data", "mask").alias("png"))

    # ------------------------------------------------------------- actions
    def statistics(self) -> DataFrame:
        """Per-tile per-band stats — implements the reference's empty stub
        (/root/reference/geoproc/server/image.py:378-379) as a hash
        aggregate: (z,x,y,band, n_valid, sum, min, max). Valid = mask 255.
        Partial+final aggregation is Spark's; results are exact for
        integer-valued data."""
        exploded = self._rows().select(
            *TILE_KEY,
            F.posexplode(F.col("data")).alias("band_idx", "band_data"),
            "mask",
        ).select(
            *TILE_KEY,
            "band_idx",
            F.zip_with(
                "band_data", "mask", lambda v, m: F.when(m == 255, v)
            ).alias("valid_px"),
        )
        base = exploded.select(
            *TILE_KEY,
            "band_idx",
            F.size(F.filter("valid_px", lambda v: v.isNotNull())).alias("n_valid"),
            F.aggregate(
                "valid_px", F.lit(0.0), lambda acc, v: acc + F.coalesce(v, F.lit(0.0))
            ).alias("sum"),
            F.aggregate(
                "valid_px", F.lit(0.0), lambda acc, v: acc + F.coalesce(v * v, F.lit(0.0))
            ).alias("_sumsq"),
            F.array_min("valid_px").alias("min"),
            F.array_max("valid_px").alias("max"),
        )
        # avg + population stddev from (sum, sumsq, n) — SURVEY §2.5 A1 names
        # F.avg/F.stddev; here the "group" is the pixel array, so the moments
        # fold JVM-side and the stddev is the closed form sqrt(E[x^2]-E[x]^2)
        mean = F.col("sum") / F.col("n_valid")
        var = F.greatest(F.lit(0.0), F.col("_sumsq") / F.col("n_valid") - mean * mean)
        return base.select(
            *TILE_KEY,
            "band_idx",
            "n_valid",
            "sum",
            "min",
            "max",
            F.when(F.col("n_valid") > 0, mean).alias("avg"),
            F.when(F.col("n_valid") > 0, F.sqrt(var)).alias("stddev"),
        )

    def derive_bounds(self, zoom: int) -> tuple[float, float, float, float]:
        """Lonlat bbox of the tile set at `zoom` — one tiny key-only agg
        (column-pruned scan; the reference reads this from the raster
        profile, server/image.py:441-443). Raises ValueError when no tile
        sits at `zoom`."""
        return self._extent(zoom)[1]

    def _extent(self, zoom: int | None = None) -> tuple[int, tuple[float, float, float, float]]:
        """(zoom, lonlat bbox of the tiles at that zoom) in ONE key-only
        aggregate job; `zoom` None means the highest zoom present. Tile
        extremes at the maximum z come from lexicographic struct maxima
        over (z, +-x) and (z, +-y), so max z and the bbox at it need no
        second pass; a known zoom filters to it first."""
        from .functions import cells as _cells

        df = self._rows(None if zoom is None else F.col("z") == zoom)
        r = df.agg(
            F.max("z").alias("z"),
            F.max(F.struct(F.col("z"), (-F.col("x")).alias("v"))).alias("nx"),
            F.max(F.struct(F.col("z"), F.col("x").alias("v"))).alias("xx"),
            F.max(F.struct(F.col("z"), (-F.col("y")).alias("v"))).alias("ny"),
            F.max(F.struct(F.col("z"), F.col("y").alias("v"))).alias("xy"),
        ).first()
        if r["z"] is None:
            raise ValueError("no tiles" if zoom is None else f"no tiles at zoom {zoom}")
        z = r["z"]
        w, s, _e, _n = _cells.tile_bounds_np([z], [-r["nx"]["v"]], [r["xy"]["v"]])
        _w, _s, e, n = _cells.tile_bounds_np([z], [r["xx"]["v"]], [-r["ny"]["v"]])
        return z, (float(w[0]), float(s[0]), float(e[0]), float(n[0]))

    def _window_join(
        self,
        scale: float,
        crs: str,
        bounds: tuple[float, float, float, float] | None,
        in_crs: str,
        window_size: int,
    ):
        """The export window grid, each window joined to the source tiles it
        overlaps, and the per-window gather kernel.

        Returns (spec, grid, joined, gather): `grid` is the driver-side
        window list of (wid, col_off, row_off, win_w, win_h) in row-major
        order, `joined` the broadcast inner join of the window->tile table
        with the tile rows at the native zoom (windows that reach no tile
        have no row), and `gather(pdf)` turns one window's rows into its
        (bands x pixels) data and mask, skipping rows with a null `data`
        (so a window whose only row is its grid row is all nodata). The
        native zoom is max_zoom when declared; it and the bounds, when not
        given, come from one _extent job."""
        import math as _math

        import numpy as _np

        from .functions import cells as _cells
        from .functions import grid as _grid

        z = self.max_zoom
        if bounds is None:
            z, bounds = self._extent(z)
            in_crs = "epsg:4326"
        elif z is None:
            z = self._extent()[0]
        spec = _grid.export_grid_spec(bounds, scale, in_crs=in_crs, crs=crs)
        width, height = spec["width"], spec["height"]
        xsize, _b, ox, _d, nysize, oy = spec["transform"]
        ysize = -nysize
        side = int(_math.isqrt(self.n_px))
        nb = self.n_bands
        wcols, wrows = _grid.n_windows(width, height, window_size)
        out_crs = spec["crs"]

        # the window grid is enumerated ONCE on the driver and feeds both
        # the window table and the window->tile table: wtiles is broadcast
        # below, so it is small by construction, and the bound is checked
        # before any numpy work
        n_win = wcols * wrows
        _small.check(n_win, "projected_windows window grid", _WIN_SMALLER)
        wid = _np.arange(n_win, dtype=_np.int64)
        co = (wid % wcols) * window_size
        ro = (wid // wcols) * window_size
        ww = _np.minimum(window_size, width - co)
        wh = _np.minimum(window_size, height - ro)
        grid = list(zip(wid.tolist(), co.tolist(), ro.tolist(), ww.tolist(), wh.tolist()))

        # boundary pixel CENTERS bound each window's tile range. For the
        # separable CRSs corners alone would do (gx monotone in output col,
        # gy in row); for UTM lon/lat extremes can sit mid-edge (meridian
        # convergence; equator crossing), so sample the full perimeter and
        # pad (grid.tile_range_pad). One vectorized pass over all windows.
        k = 9
        cs = _np.linspace(co + 0.5, co + ww - 0.5, k, axis=1)
        rs = _np.linspace(ro + 0.5, ro + wh - 0.5, k, axis=1)
        first_c, last_c = _np.repeat(cs[:, :1], k, 1), _np.repeat(cs[:, -1:], k, 1)
        first_r, last_r = _np.repeat(rs[:, :1], k, 1), _np.repeat(rs[:, -1:], k, 1)
        xx = ox + _np.concatenate([cs, cs, first_c, last_c], axis=1) * xsize
        yy = oy - _np.concatenate([first_r, last_r, rs, rs], axis=1) * ysize
        lon, lat = _cells.to_lonlat_np(xx.ravel(), yy.ravel(), out_crs)
        tx, ty, _c, _r = _grid.sample_native_pixels(lon, lat, z, side)
        tx, ty = tx.reshape(n_win, 4 * k), ty.reshape(n_win, 4 * k)
        pad = _grid.tile_range_pad(out_crs)
        top = (1 << z) - 1
        x0 = _np.maximum(tx.min(axis=1) - pad, 0).tolist()
        x1 = _np.minimum(tx.max(axis=1) + pad, top).tolist()
        y0 = _np.maximum(ty.min(axis=1) - pad, 0).tolist()
        y1 = _np.minimum(ty.max(axis=1) + pad, top).tolist()
        wtile_rows = [
            (*g, x, y)
            for g, xa, xb, ya, yb in zip(grid, x0, x1, y0, y1)
            for x in range(xa, xb + 1)
            for y in range(ya, yb + 1)
        ]
        tiles = self._rows(F.col("z") == z).select("x", "y", "data", "mask")
        wtiles = _small.frame(
            tiles.sparkSession, wtile_rows, _WIN_DDL + ", x int, y int",
            "projected_windows window->tile table", _WIN_SMALLER,
        )
        # the window-tile list is the SMALL side (windows x tiles-per-window
        # keys, no pixel payloads) — broadcast it so the big tile table
        # never shuffles for the join; the only Exchange left is the
        # per-window gather. A broadcast side cannot be the preserved side
        # of an outer join, so tile-less windows (possible when the export
        # bounds exceed the tile set) have no row here: projected_windows
        # unions the window grid into the gather stream, and
        # export_geotiff_cog fills them on the driver.
        joined = F.broadcast(wtiles).join(tiles, ["x", "y"], "inner")

        def gather(pdf):
            co = int(pdf["col_off"].iloc[0])
            ro = int(pdf["row_off"].iloc[0])
            ww = int(pdf["win_w"].iloc[0])
            wh = int(pdf["win_h"].iloc[0])
            cols = ox + (co + _np.arange(ww) + 0.5) * xsize
            rows = oy - (ro + _np.arange(wh) + 0.5) * ysize
            X = _np.tile(cols, wh)
            Y = _np.repeat(rows, ww)
            lon, lat = _cells.to_lonlat_np(X, Y, out_crs)
            tx, ty, pc, pr = _grid.sample_native_pixels(lon, lat, z, side)
            data = _np.zeros((nb, wh * ww), dtype=_np.float64)
            mask = _np.zeros(wh * ww, dtype=_np.int64)
            for _, row in pdf.iterrows():
                if row["data"] is None:
                    continue
                sel = (tx == row["x"]) & (ty == row["y"])
                if not sel.any():
                    continue
                src = (pr[sel] * side + pc[sel]).astype(_np.int64)
                td = _np.asarray([_np.asarray(b) for b in row["data"]])
                tm = _np.asarray(row["mask"], dtype=_np.int64)
                data[:, sel] = td[:, src]
                mask[sel] = tm[src]
            return data, mask

        return spec, grid, joined, gather

    def projected_windows(
        self,
        scale: float,
        crs: str = "epsg:4326",
        bounds: tuple[float, float, float, float] | None = None,
        in_crs: str = "epsg:4326",
        window_size: int = 256,
    ) -> tuple[DataFrame, dict]:
        """The output-CRS/scale export grid, resampled DISTRIBUTED — the
        engine's analog of the reference's projected export
        (reference geoproc/server/image.py:162-241): grid shape +
        affine from functions/grid.py (:183-207 semantics), window loop
        (:225-241) as a Spark job — windows enumerate on the driver, each
        window joins ONLY the source tiles it overlaps (perimeter-derived
        tile range, a broadcast local relation), and one applyInPandas per
        window gathers its pixels nearest-neighbor from the native tile
        grid. The window grid itself is unioned into that gather stream
        (null tile columns), so every window reaches the gather at least
        once and one no tile reaches assembles as all nodata (mask 0),
        like the reference's write_mask over an out-of-data window: one
        code path, one scan of the tile table.

        The window grid and its window->tile table are driver-side small
        sides (operators._small): more than _small.MAX_ROWS rows raise
        ValueError, the window count before the grid is built.

        Returns (windows DataFrame, grid spec dict); rows are
        (col_off, row_off, win_w, win_h, data ARRAY<ARRAY<DOUBLE>>,
        mask ARRAY<INT>) — the COG-window table form of the output raster.
        """
        import pandas as _pd
        from pyspark.sql import types as T

        spec, grid, joined, gather = self._window_join(
            scale, crs, bounds, in_crs, window_size
        )
        schema = T.StructType(
            [
                T.StructField("col_off", T.IntegerType()),
                T.StructField("row_off", T.IntegerType()),
                T.StructField("win_w", T.IntegerType()),
                T.StructField("win_h", T.IntegerType()),
                T.StructField("data", T.ArrayType(T.ArrayType(T.DoubleType()))),
                T.StructField("mask", T.ArrayType(T.IntegerType())),
            ]
        )

        def assemble(pdf: _pd.DataFrame) -> _pd.DataFrame:
            data, mask = gather(pdf)
            return _pd.DataFrame(
                {
                    "col_off": [int(pdf["col_off"].iloc[0])],
                    "row_off": [int(pdf["row_off"].iloc[0])],
                    "win_w": [int(pdf["win_w"].iloc[0])],
                    "win_h": [int(pdf["win_h"].iloc[0])],
                    "data": [[list(b) for b in data]],
                    "mask": [mask.tolist()],
                }
            )

        windows = _small.frame(
            joined.sparkSession, grid, _WIN_DDL, "projected_windows window grid", _WIN_SMALLER
        )
        stream = joined.unionByName(windows, allowMissingColumns=True)
        return stream.groupBy("wid").applyInPandas(assemble, schema), spec

    def export_projected(
        self,
        path: str,
        scale: float,
        crs: str = "epsg:4326",
        bounds: tuple[float, float, float, float] | None = None,
        in_crs: str = "epsg:4326",
        window_size: int = 256,
    ) -> dict:
        """Materialize the projected-grid export as a parquet window table
        plus an `_export_meta.json` sidecar carrying the raster profile the
        reference writes into the COG header (crs, transform, width/height,
        band names — server/image.py:211-219). Returns the grid spec."""
        import json
        import os

        wdf, spec = self.projected_windows(
            scale, crs=crs, bounds=bounds, in_crs=in_crs, window_size=window_size
        )
        wdf.repartitionByRange("row_off", "col_off").sortWithinPartitions(
            "row_off", "col_off"
        ).write.mode("overwrite").parquet(path)
        with open(os.path.join(path, "_export_meta.json"), "w") as fh:
            json.dump(
                {
                    "width": spec["width"],
                    "height": spec["height"],
                    "crs": spec["crs"],
                    "transform": list(spec["transform"]),
                    "band_names": self.band_names,
                    "window_size": window_size,
                },
                fh,
            )
        return spec

    def export_geotiff_cog(
        self,
        path: str,
        scale: float,
        crs: str = "epsg:4326",
        bounds: tuple[float, float, float, float] | None = None,
        in_crs: str = "epsg:4326",
        window_size: int = 256,
    ) -> dict:
        """Write an ACTUAL .tif — the reference's literal documented
        workflow `img.export("out.tif", scale=10, crs="epsg:32630")`
        (server/image.py:162-241), as one tiled deflate GeoTIFF (the
        reference's COG write profile, server/image.py:210-219) of any
        size up to the classic-TIFF 4 GiB offset limit, produced
        DISTRIBUTED.

        Shape: the export window grid IS the TIFF tile grid (window_size
        must be a multiple of 16, the TIFF tile-dim rule). One
        groupBy("wid").applyInPandas pass over the window->tile join
        gathers each window's pixels (the same kernel as
        projected_windows), pads each band to the full tile, stamps nodata
        as NaN and deflates it: every pixel crosses into Python once, and
        all compression happens on executors. The pass's rows
        (tile_idx, payload) are cached; the driver then does three cheap
        things: collect the (tile_idx, byte-count) list (one small row per
        tile) to assemble the header/IFD, fill the windows no source tile
        reaches with one deflated all-nodata block per window shape, and
        write every payload at its offset in tile order, in whatever order
        toLocalIterator delivers the cached partitions. The pass is
        partitioned on wid into ceil(tiles / STREAM_PARTITION_TILES)
        partitions, so peak driver memory is about STREAM_PARTITION_TILES
        payloads, never the raster. Every tile is checked to be written
        exactly once. Nodata pixels are written as NaN with a
        GDAL_NODATA tag, so read_geotiff reconstructs the same mask.

        Returns the grid spec. The output is readable by read_geotiff and
        by any TIFF reader that handles tiled+deflate (GDAL's default)."""
        import numpy as _np
        import pandas as _pd
        from pyspark.sql import types as T

        from .sources import geotiff as _gt

        if window_size % 16:
            raise ValueError(
                f"window_size must be a multiple of 16 for a tiled TIFF, "
                f"got {window_size}"
            )
        spec, grid, joined, gather = self._window_join(
            scale, crs, bounds, in_crs, window_size
        )
        w, h, nb = spec["width"], spec["height"], self.n_bands
        ws = window_size
        # the window grid is the tile grid, row-major: window wid is tile
        # wid of every band plane
        tpb = len(grid)
        n_tiles = nb * tpb

        def encode(pdf: _pd.DataFrame) -> _pd.DataFrame:
            wid = int(pdf["wid"].iloc[0])
            ww, wh = int(pdf["win_w"].iloc[0]), int(pdf["win_h"].iloc[0])
            data, mask = gather(pdf)
            valid = mask.reshape(wh, ww) == 255
            return _pd.DataFrame(
                {
                    "tile_idx": [b * tpb + wid for b in range(nb)],
                    "payload": [
                        _gt.encode_tile(
                            _np.where(valid, data[b].reshape(wh, ww), _np.nan), (ws, ws), True
                        )
                        for b in range(nb)
                    ],
                }
            )

        out_schema = T.StructType(
            [
                T.StructField("tile_idx", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        )
        n_parts = max(1, (n_tiles + STREAM_PARTITION_TILES - 1) // STREAM_PARTITION_TILES)
        chunks = (
            joined.repartition(n_parts, "wid")
            .groupBy("wid")
            .applyInPandas(encode, out_schema)
            .persist()
        )
        try:
            sizes = dict(
                chunks.select("tile_idx", F.length("payload")).collect()
            )
            reached = {i % tpb for i in sizes}
            nodata, fill = {}, {}
            for wid, _co, _ro, ww, wh in grid:
                if wid not in reached:
                    if (wh, ww) not in nodata:
                        blank = _np.full((wh, ww), _np.nan)
                        nodata[(wh, ww)] = _gt.encode_tile(blank, (ws, ws), True)
                    for b in range(nb):
                        fill[b * tpb + wid] = nodata[(wh, ww)]
            if len(sizes) + len(fill) != n_tiles:
                raise ValueError(
                    f"window table produced {len(sizes) + len(fill)} tiles, "
                    f"expected {n_tiles}"
                )
            counts = [sizes[i] if i in sizes else len(fill[i]) for i in range(n_tiles)]
            entries = _gt.geotiff_tags(
                nb,
                h,
                w,
                spec["out_bounds"],
                spec["crs"],
                float("nan"),
                "deflate",
                (ws, ws),
                counts,
            )
            # classic vs BigTIFF decided BEFORE packing (ADVICE r05 high
            # #2: classic assembly raises struct.error on any >u32 chunk
            # offset, so a post-hoc check never ran for real >4 GiB
            # exports) — same chunks, same streaming write either way
            prefix, data_off, _big = _gt.assemble_tiff_auto(entries, counts)
            offsets = data_off + _np.cumsum([0] + counts[:-1])
            written = _np.zeros(n_tiles, dtype=bool)
            with open(path, "wb") as fh:
                fh.write(prefix)

                def put(idx: int, payload: bytes) -> None:
                    if written[idx] or len(payload) != counts[idx]:
                        raise ValueError(
                            f"tile {idx} written twice or resized "
                            f"({len(payload)} bytes, {counts[idx]} collected)"
                        )
                    fh.seek(int(offsets[idx]))
                    fh.write(payload)
                    written[idx] = True

                for idx, payload in fill.items():
                    put(idx, payload)
                for row in chunks.toLocalIterator():
                    put(row["tile_idx"], row["payload"])
            if not written.all():
                raise ValueError(
                    f"tile stream wrote {int(written.sum())}/{n_tiles} tiles"
                )
        finally:
            chunks.unpersist()
        return spec

    def export(self, path: str, partition_zooms: bool = True, rows_per_file: int = 4096) -> None:
        """Materialize to a partitioned parquet tile table — the distributed
        analog of the reference's serial 4096^2-window COG export loop
        (/root/reference/geoproc/server/image.py:162-241, WINDOW_SIZE at
        :32). Window grid -> partition grid; deterministic write order via
        range partitioning on the tile key.

        P5 guard: a boundless image (constant) has no tile set to export —
        analyzer-time error before any job, like the reference's
        bounds-or-explicit-bounds check (server/image.py:171-178)."""
        import json
        import os

        from .sources.tableformat import read_back_schema

        out = self._rows().repartitionByRange(*TILE_KEY).sortWithinPartitions(*TILE_KEY)
        writer = out.write.mode("overwrite").option("maxRecordsPerFile", rows_per_file)
        if partition_zooms:
            writer = writer.partitionBy("z")
        writer.parquet(path)
        # metadata sidecar: load() reads bands and the table's schema
        # without a pixel probe or an inference job (the reference reads
        # the raster profile, server/image.py:441-443)
        with open(os.path.join(path, "_image_meta.json"), "w") as fh:
            json.dump(
                {
                    "n_bands": self.n_bands,
                    "n_px": self.n_px,
                    "band_names": self.band_names,
                    "min_zoom": self.min_zoom,
                    "max_zoom": self.max_zoom,
                    "schema": read_back_schema(
                        out.schema, ["z"] if partition_zooms else []
                    ).jsonValue(),
                },
                fh,
            )
