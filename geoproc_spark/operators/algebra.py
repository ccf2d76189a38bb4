"""Tile-row image algebra kernels — geoproc §2.3 parity, pure JVM.

The reference's per-pixel operator kernel
(/root/reference/geoproc/server/image.py:292-315) pulls both children's
windows, applies a numpy ufunc, and pins three non-standard semantics that
MUST be preserved (SURVEY.md §2.3/§7):

  1. every arithmetic/comparison result is float64 (:311) — comparisons
     yield 0.0/1.0, not booleans;
  2. masks combine with np.maximum — valid-if-EITHER union (:300), not the
     SQL-ish intersection;
  3. the result takes the LEFT operand's band names (:312).

Here a tile row is (z, x, y, data ARRAY<ARRAY<DOUBLE>>, mask ARRAY<INT>)
— data is bands x pixels, one uint8-valued mask plane per tile (the
ImageData model of rio-tiler, reference image.py:25). All kernels are
Catalyst higher-order functions (transform / zip_with) — whole-stage
codegen, zero Python in the pixel path.

The data kernels take their image operands as anything indexable by band
(an ARRAY<ARRAY<DOUBLE>> Column, or a list of per-band ARRAY<DOUBLE>
Columns) and return a list of per-band Columns; `F.array(*bands)` makes
the tile's data column. Each output band then references only the input
bands it reads, so a chain of ops stays linear in the band count instead
of re-embedding every band of its input in every output band.

The kernels know nothing of tile sources: image.align puts the sources
an expression reads side by side in one frame (one N-way full outer join
on the tile key for N sources), and the Column operands here are
expressions over it. A tile a source lacks reads as `zero_data` and
`zero_mask`, like rio-tiler returning an all-masked window outside an
image's bounds.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TILE_KEY = ["z", "x", "y"]


def zero_band(n_px: int) -> Column:
    return F.array_repeat(F.lit(0.0), n_px)


def zero_data(n_bands: int, n_px: int) -> Column:
    return F.array_repeat(zero_band(n_px), n_bands)


def zero_mask(n_px: int) -> Column:
    return F.array_repeat(F.lit(0), n_px)


def full_mask(n_px: int) -> Column:
    """Constant images are boundless and fully valid
    (/root/reference/geoproc/server/image.py:120-139)."""
    return F.array_repeat(F.lit(255), n_px)


# ------------------------------------------------------------ pixel lambdas
_INF = float("inf")


def _div(x, y):
    """numpy float64 division under ANSI mode: x/0 -> +-inf, 0/0 -> nan
    (np.divide with errstate ignore — the reference kernel's behavior)."""
    return (
        F.when(y != F.lit(0.0), x / F.when(y != F.lit(0.0), y).otherwise(F.lit(1.0)))
        .when(x > F.lit(0.0), F.lit(_INF))
        .when(x < F.lit(0.0), F.lit(-_INF))
        .otherwise(F.lit(float("nan")))
    )


def _floordiv(x, y):
    """np.floor_divide: floor(x/y) with inf/nan passed through (ANSI floor
    refuses non-finite input)."""
    d = _div(x, y)
    return F.when(F.isnan(d) | (F.abs(d) == F.lit(_INF)), d).otherwise(
        F.floor(d).cast("double")
    )


def _arith(op: str):
    return {
        "add": lambda x, y: x + y,
        "sub": lambda x, y: x - y,
        "mul": lambda x, y: x * y,
        "truediv": _div,
        "floordiv": _floordiv,
        "lt": lambda x, y: (x < y).cast("double"),
        "le": lambda x, y: (x <= y).cast("double"),
        "eq": lambda x, y: (x == y).cast("double"),
        "ne": lambda x, y: (x != y).cast("double"),
        "gt": lambda x, y: (x > y).cast("double"),
        "ge": lambda x, y: (x >= y).cast("double"),
    }[op]


def binary_data(op: str, a, b, n_bands_a: int, n_bands_b: int) -> list[Column]:
    """Elementwise op over bands x pixels; 1-band sides broadcast (numpy
    broadcasting semantics, as the reference's raw ufunc call would)."""
    f = _arith(op)
    n_out = max(n_bands_a, n_bands_b)
    bands = []
    for i in range(n_out):
        ba = a[min(i, n_bands_a - 1)] if n_bands_a == 1 else a[i]
        bb = b[min(i, n_bands_b - 1)] if n_bands_b == 1 else b[i]
        bands.append(F.zip_with(ba, bb, lambda x, y: f(x, y).cast("double")))
    return bands


def scalar_data(op: str, a, scalar: float, n_bands: int, reverse: bool = False) -> list[Column]:
    """Image op constant — the reference promotes scalars to boundless
    constant images (/root/reference/geoproc/image.py:187); here the scalar
    folds straight into the per-pixel lambda."""
    f = _arith(op)
    s = F.lit(float(scalar))
    fn = (lambda x: f(s, x)) if reverse else (lambda x: f(x, s))
    return [F.transform(a[i], lambda x: fn(x).cast("double")) for i in range(n_bands)]


def abs_data(a, n_bands: int) -> list[Column]:
    """Unary abs keeps dtype and mask (/root/reference/geoproc/server/image.py:243-257)."""
    return [F.transform(a[i], lambda x: F.abs(x)) for i in range(n_bands)]


def mask_union(a: Column, b: Column) -> Column:
    """np.maximum(a.mask, b.mask) — valid-if-either
    (/root/reference/geoproc/server/image.py:300)."""
    return F.zip_with(a, b, lambda x, y: F.greatest(x, y))


def rescale_data(a, ranges: list[tuple[float, float]]) -> list[Column]:
    """Linear rescale to 0..255 per band
    (/root/reference/geoproc/server/app.py:162-168); `ranges` is already
    expanded per band (expand_scale_range, app.py:55-61). The reference's
    img.rescale delegates to rio-tiler linear_rescale, which CLIPS the input
    to [lo, hi] before scaling — out-of-range pixels saturate at 0/255
    rather than escaping the output range. (The uint8 cast happens at render
    time, see render_tile_uint8.)"""
    bands = []
    for i, (lo, hi) in enumerate(ranges):
        lo_l, hi_l = F.lit(float(lo)), F.lit(float(hi))
        span = F.lit(float(hi) - float(lo))
        bands.append(
            F.transform(
                a[i],
                lambda x: (F.greatest(lo_l, F.least(hi_l, x)) - lo_l) / span * F.lit(255.0),
            )
        )
    return bands


def opacity_mask(mask: Column, opacity: float) -> Column:
    """mask *= round((1 - opacity) * 255) with uint8 wraparound — the
    reference's literal (inverted-looking, overflowing) formula
    (/root/reference/geoproc/server/app.py:170-171), pinned for parity."""
    if opacity >= 1.0:
        return mask
    k = round((1.0 - opacity) * 255)
    return F.transform(mask, lambda m: (m * F.lit(k)) % F.lit(256))


def gain_bias_gamma_data(
    a, n_bands: int, gain: float = 1.0, bias: float = 0.0, gamma: float = 1.0
) -> list[Column]:
    """F8: gain/bias/gamma are DECLARED in the reference's
    VisualizationParams (/root/reference/geoproc/models.py:11-13) but never
    consumed by its server — implemented here with the standard vis
    semantics (Earth-Engine style): out = clamp01(gain*x/255 + bias) ^
    (1/gamma) * 255, applied after rescale. Kept out of the pinned-parity
    surface; documented as an extension the reference's API promises."""
    g, b = F.lit(float(gain)), F.lit(float(bias))
    inv_gamma = F.lit(1.0 / float(gamma))
    one, zero = F.lit(1.0), F.lit(0.0)

    def fn(x):
        v = F.greatest(zero, F.least(one, g * x / F.lit(255.0) + b))
        return F.pow(v, inv_gamma) * F.lit(255.0)

    return [F.transform(a[i], fn) for i in range(n_bands)]


def uint8_data(a, n_bands: int) -> list[Column]:
    """Final render cast: float [0,255] -> uint8 by truncation, numpy
    `.astype(np.uint8)` semantics after the clamped rescale (the PNG encode
    step of /root/reference/geoproc/server/app.py:176-178). Values are
    already in range; floor == truncation for non-negative input."""
    return [F.transform(a[i], lambda x: F.floor(x).cast("int")) for i in range(n_bands)]


def expand_scale_range(rng, n_bands: int) -> list[tuple[float, float]]:
    """Scalar (lo, hi) -> per-band list (/root/reference/geoproc/server/app.py:55-61)."""
    if isinstance(rng, tuple):
        return [rng] * n_bands
    assert len(rng) == n_bands
    return list(rng)
