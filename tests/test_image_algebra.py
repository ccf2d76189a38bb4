"""Kernel golden tests: the distributed Image pipeline vs the single-process
numpy oracle, block-for-block (FIXTURES.md T5, SURVEY.md §5.2)."""

import operator
import re

import numpy as np
import pytest

from geoproc_spark import synth
from geoproc_spark.image import Image
from geoproc_spark.oracle import numpy_oracle as O
from tests.test_image_api import ARITH, COMPARE


def _collect(img: Image):
    out = {}
    for r in img.df.collect():
        out[(r["z"], r["x"], r["y"])] = (
            np.array([list(b) for b in r["data"]], dtype=np.float64),
            np.array(list(r["mask"]), dtype=np.int64),
        )
    return out


def _assert_tiles_equal(got, want):
    assert sorted(got) == sorted(want)
    for k in want:
        gd, gm = got[k]
        wd, wm = want[k]
        np.testing.assert_array_equal(gm, wm, err_msg=f"mask {k}")
        np.testing.assert_array_equal(gd, wd, err_msg=f"data {k}")


@pytest.fixture(scope="module")
def imgs(spark):
    a = Image.from_df(synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], synth.TILE_PX)
    b = Image.from_df(synth.tiles_df(spark, "B"), synth.TILE_BANDS["B"], synth.TILE_PX)
    return a, b, synth.tile_pixels_np("A"), synth.tile_pixels_np("B")


def test_fixture_matches_numpy_twin(imgs):
    a, b, na, nb = imgs
    _assert_tiles_equal(_collect(a), na)
    _assert_tiles_equal(_collect(b), nb)


BINOPS = [
    ("add", operator.add),
    ("sub", operator.sub),
    ("mul", operator.mul),
    ("truediv", operator.truediv),
    ("floordiv", operator.floordiv),
    ("lt", operator.lt),
    ("ge", operator.ge),
    ("eq", operator.eq),
    ("ne", operator.ne),
]


@pytest.mark.parametrize("name,op", BINOPS)
def test_binary_image_image(imgs, name, op):
    """2-band x 1-band with partial tile overlap: bounds-union, mask-union,
    float64 promotion, broadcast — all at once. Different tile sets align
    through a full outer join."""
    a, b, na, nb = imgs
    out = op(a, b)
    assert "FullOuter" in _plan(out.df)
    got = _collect(out)
    want = O.binary(op, na, nb, 2, 1, synth.TILE_PX)
    _assert_tiles_equal(got, want)


@pytest.mark.parametrize("scalar,reverse", [(3.0, False), (2.0, True), (0.0, False)])
def test_scalar_ops(imgs, scalar, reverse):
    a, _, na, _ = imgs
    if reverse:
        got = _collect(scalar - a)
        want = O.scalar_op(operator.sub, na, scalar, reverse=True)
    else:
        got = _collect(a * scalar)
        want = O.scalar_op(operator.mul, na, scalar)
    _assert_tiles_equal(got, want)


def test_division_by_zero_parity(imgs):
    """B - B has zeros; A / (B - B) must give numpy's inf/nan, not errors."""
    a, b, na, nb = imgs
    zero = b - b
    got = _collect(a / zero)
    zn = O.binary(operator.sub, nb, nb, 1, 1, synth.TILE_PX)
    want = O.binary(operator.truediv, na, zn, 2, 1, synth.TILE_PX)
    _assert_tiles_equal(got, want)


def test_abs_and_chain(imgs):
    a, b, na, nb = imgs
    got = _collect(abs(a - b * 2.0))
    want = O.abs_(O.binary(operator.sub, na, O.scalar_op(operator.mul, nb, 2.0), 2, 1, synth.TILE_PX))
    _assert_tiles_equal(got, want)


def test_select_bands(imgs):
    a, _, na, _ = imgs
    sel = a.select(["B2"])
    assert sel.band_names == ["B2"]
    got = _collect(sel)
    want = {k: (d[1:2], m) for k, (d, m) in na.items()}
    _assert_tiles_equal(got, want)
    with pytest.raises(ValueError):
        a.select(["B9"])


def test_rescale_opacity(imgs):
    a, _, na, _ = imgs
    got = _collect(a.rescale((0.0, 96.0)).with_opacity(0.4))
    want = O.opacity(O.rescale(na, [(0.0, 96.0), (0.0, 96.0)]), 0.4)
    _assert_tiles_equal(got, want)


def test_rescale_clamps_out_of_range(imgs):
    """rio-tiler linear_rescale clips input to [lo, hi]: pixels outside the
    range saturate at 0/255 instead of escaping the output range. The
    fixture pixel range is [0, 96], so (20, 60) forces both tails."""
    a, _, na, _ = imgs
    got = _collect(a.rescale((20.0, 60.0)))
    want = O.rescale(na, [(20.0, 60.0), (20.0, 60.0)])
    _assert_tiles_equal(got, want)
    lo = min(d.min() for d, _ in got.values())
    hi = max(d.max() for d, _ in got.values())
    assert lo == 0.0 and hi == 255.0  # saturation actually exercised


def test_render_uint8_chain(imgs):
    """The S5 render composition: select -> clamped rescale -> opacity ->
    uint8 truncation, vs the numpy oracle end-to-end."""
    from pyspark.sql import functions as F

    from geoproc_spark.operators import algebra as A

    a, _, na, _ = imgs
    r = a.select(["B1"]).rescale((10.0, 70.0)).with_opacity(0.5)
    rendered = r.df.select(
        "z", "x", "y", F.array(*A.uint8_data(F.col("data"), 1)).alias("data"), "mask"
    )
    got = {}
    for row in rendered.collect():
        got[(row["z"], row["x"], row["y"])] = (
            np.array([list(b) for b in row["data"]], dtype=np.float64),
            np.array(list(row["mask"]), dtype=np.int64),
        )
    sel = {k: (d[0:1], m) for k, (d, m) in na.items()}
    want = O.render_uint8(O.opacity(O.rescale(sel, [(10.0, 70.0)]), 0.5))
    _assert_tiles_equal(got, want)


def test_comparison_is_float64_zero_one(imgs):
    a, b, *_ = imgs
    got = _collect(a > b)
    vals = np.unique(np.concatenate([d.ravel() for d, _ in got.values()]))
    assert set(vals.tolist()) <= {0.0, 1.0}


def test_statistics(spark, imgs):
    a, _, na, _ = imgs
    rows = a.statistics().collect()
    by_key = {(r["z"], r["x"], r["y"], r["band_idx"]): r for r in rows}
    for k, (d, m) in na.items():
        for band in range(2):
            r = by_key[(*k, band)]
            valid = d[band][m == 255]
            assert r["n_valid"] == len(valid)
            assert r["sum"] == valid.sum()
            assert r["min"] == valid.min() and r["max"] == valid.max()
            assert r["avg"] == pytest.approx(valid.mean(), rel=1e-12)
            assert r["stddev"] == pytest.approx(valid.std(), rel=1e-9, abs=1e-9)


def test_zoom_range_and_p4_gate(imgs):
    """F10 zoom derivation + the P4 min-zoom gate on single-tile fetch."""
    a, *_ = imgs
    # 10m/px 10000x8000 raster: max_zoom = zoom_for_res(10) = 14 (res_14 =
    # 9.55 m/px, res_13 = 19.1; 10 is closer to 9.55 in ratio), overviews
    # halve 8000 -> 250<=256 at level 5, min_zoom = zoom_for_res(10*32=320)
    # = 9 (res_9 = 305.7, res_8 = 611.5; ratio picks 9).
    img = a.with_zoom_range(10000, 8000, 10.0)
    assert (img.min_zoom, img.max_zoom) == (9, 14)
    assert img.info["min_zoom"] == 9
    with pytest.raises(ValueError):
        img.tile(3, 0, 0)  # z=3 < min_zoom=9 -> refused (app.py:145-149)
    # binary ops keep the LEFT operand's zoom range (image.py:313-314)
    assert ((img + 1).min_zoom, (img + 1).max_zoom) == (9, 14)
    assert (img * 2 + 1).max_zoom == 14


def test_export_roundtrip(spark, imgs, tmp_path):
    a, b, na, nb = imgs
    c = a + b
    path = str(tmp_path / "tiles_out")
    c.export(path)
    back = Image.load(spark, path)
    assert back.n_px == synth.TILE_PX
    _assert_tiles_equal(_collect(back), O.binary(operator.add, na, nb, 2, 1, synth.TILE_PX))


def test_gain_bias_gamma_vs_numpy(imgs):
    """F8 extension (reference declares these vis params but never applies
    them): out = clamp01(gain*x/255 + bias)^(1/gamma) * 255."""
    a, _, na, _ = imgs
    img = a.rescale((0.0, 96.0)).with_gain_bias_gamma(gain=1.5, bias=0.05, gamma=2.2)
    got = _collect(img)
    resc = O.rescale(na, [(0.0, 96.0), (0.0, 96.0)])
    want = {}
    for k, (d, m) in resc.items():
        v = np.clip(1.5 * d / 255.0 + 0.05, 0.0, 1.0)
        want[k] = (np.power(v, 1.0 / 2.2) * 255.0, m)
    assert sorted(got) == sorted(want)
    for k in want:
        np.testing.assert_allclose(got[k][0], want[k][0], rtol=1e-12)
        np.testing.assert_array_equal(got[k][1], want[k][1])


def test_build_overview_vs_numpy(imgs):
    """Pyramid level vs the numpy twin, incl. a MISSING child quadrant
    (drop one child tile -> that parent quadrant is fully masked)."""
    a, b, na, nb = imgs
    got = _collect(a.build_overview())
    want = O.build_overview(na, 2, synth.TILE_PX)
    _assert_tiles_equal(got, want)
    # two levels deep
    got2 = _collect(a.build_overview().build_overview())
    want2 = O.build_overview(want, 2, synth.TILE_PX)
    _assert_tiles_equal(got2, want2)
    # missing quadrant: drop child (3, 1, 1) from A
    from pyspark.sql import functions as F

    a_holed = Image.from_df(
        a.df.filter(~((F.col("x") == 1) & (F.col("y") == 1))), 2, synth.TILE_PX
    )
    na_holed = {k: v for k, v in na.items() if k != (3, 1, 1)}
    _assert_tiles_equal(
        _collect(a_holed.build_overview()), O.build_overview(na_holed, 2, synth.TILE_PX)
    )


def test_export_sidecar_roundtrip_metadata(spark, imgs, tmp_path):
    """Export writes the metadata sidecar; load reads schema + zoom range
    without a pixel-probe job (the reference reads the raster profile)."""
    a, *_ = imgs
    img = a.with_zoom_range(10000, 8000, 10.0)
    path = str(tmp_path / "sidecar_out")
    img.export(path)
    back = Image.load(spark, path)
    assert back.n_bands == 2 and back.n_px == synth.TILE_PX
    assert (back.min_zoom, back.max_zoom) == (9, 14)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("op", ARITH + COMPARE)
def test_same_source_op_matches_outer_join(spark, imgs, op):
    """An op between two images of one source is one projection of that
    source, with no join, and gives what the outer-join alignment gives
    over the same rows (a second from_df over them is another source)."""
    a, *_ = imgs
    twin = Image.from_df(synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], synth.TILE_PX)
    same = getattr(a, op)(a.select(["B2"]))
    joined = getattr(a, op)(twin.select(["B2"]))
    assert "Join" not in _plan(same.df)
    assert "FullOuter" in _plan(joined.df)
    _assert_tiles_equal(_collect(same), _collect(joined))


def test_same_source_chain_matches_outer_join(spark, imgs):
    """abs / select / scalar chains mixed with same-source binary ops."""
    a, *_ = imgs
    twin = Image.from_df(synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], synth.TILE_PX)

    def chain(x, y):
        d = abs(x - y.select(["B1"]) * 2.0)
        return (d / (3.0 - y) + x.select([1, 0])).rescale((0.0, 50.0)).with_opacity(0.5)

    same = chain(a, a)
    assert "Join" not in _plan(same.df)
    _assert_tiles_equal(_collect(same), _collect(chain(a, twin)))


def test_tile_request_is_one_projection_of_the_scan(spark, tmp_path):
    """The tile request for abs(img - img.select(["B3"])) * 2 over an
    exported table plans as a projection of the parquet scan: no join, no
    Exchange, the tile's x/y pushed into the scan; its pixels are the
    numpy oracle's."""
    rng = np.random.default_rng(5)
    data = rng.integers(0, 200, size=(3, 32, 48)).astype(np.float64)
    mask = np.where(rng.random((32, 48)) < 0.2, 0, 255)
    path = str(tmp_path / "tiles")
    Image.from_array(spark, data, 6, 10, 20, tile_side=16, mask=mask).export(path)
    img = Image.load(spark, path)
    expr = abs(img - img.select(["B3"])) * 2.0
    tile = expr.tile(6, 11, 21)
    plan = _plan(tile)
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "EqualTo(x,11)" in plan and "EqualTo(y,21)" in plan, plan

    tiles = {
        (6, 10 + tx, 20 + ty): (
            data[:, ty * 16 : (ty + 1) * 16, tx * 16 : (tx + 1) * 16].reshape(3, 256),
            mask[ty * 16 : (ty + 1) * 16, tx * 16 : (tx + 1) * 16].reshape(256),
        )
        for ty in range(2)
        for tx in range(3)
    }
    b3 = {k: (d[2:3], m) for k, (d, m) in tiles.items()}
    want = O.scalar_op(
        operator.mul, O.abs_(O.binary(operator.sub, tiles, b3, 3, 1, 256)), 2.0
    )
    got = _collect(Image.from_df(tile, 3, 256))
    _assert_tiles_equal(got, {(6, 11, 21): want[(6, 11, 21)]})
    assert expr.tile(6, 13, 21).count() == 0  # outside the tile set


def _n_joins(df) -> int:
    """Join nodes in the (not yet executed) physical plan of `df`."""
    return len(re.findall(r"\b\w+Join\b", _plan(df)))


def test_abs_of_constant_in_an_expression(imgs):
    """abs of a constant is the constant |v|, so an image plus it is a
    scalar op over the image."""
    a, _, na, _ = imgs
    got = _collect(a + abs(Image.constant(-3.0, synth.TILE_PX)))
    _assert_tiles_equal(got, O.scalar_op(operator.add, na, 3.0))


def test_multi_source_expressions_plan_one_join_per_extra_source(spark, imgs):
    """Chained ops over N distinct tile sources align them in N - 1 joins,
    and give the composed numpy-oracle ops. In (a * 2 + 1) + b the A side
    reads as zero data and zero mask on tiles only B has, not as 1.0 with
    mask 255, with or without a band selection on top; a second from_df
    over A's rows is a third source."""
    a, b, na, nb = imgs
    px = synth.TILE_PX
    twin = Image.from_df(synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], px)
    lifted = (a * 2.0 + 1.0) + b
    s = O.scalar_op(operator.add, O.scalar_op(operator.mul, na, 2.0), 1.0)
    want = O.binary(operator.add, s, nb, 2, 1, px)
    b_only = sorted(set(nb) - set(na))
    assert b_only
    for k in b_only:
        np.testing.assert_array_equal(want[k][1], nb[k][1])
    ab = O.binary(operator.add, na, nb, 2, 1, px)
    cases = [
        (lifted, want, 1),
        (b + (a * 2.0 + 1.0).select(["B2"]),
         O.binary(operator.add, nb, {k: (d[1:2], m) for k, (d, m) in s.items()}, 1, 1, px), 1),
        (((a + b) > b) - a,
         O.binary(operator.sub, O.binary(operator.gt, ab, nb, 2, 1, px), na, 2, 2, px), 1),
        ((a + b) * twin - b,
         O.binary(operator.sub, O.binary(operator.mul, ab, na, 2, 2, px), nb, 2, 1, px), 2),
    ]
    for img, want, joins in cases:
        assert _n_joins(img.df) == joins, _plan(img.df)
        _assert_tiles_equal(_collect(img), want)


def _cut(data, mask, z, x0, y0, side=16):
    """Tiles of a (bands, H, W) raster placed at tile (x0, y0), as the
    numpy oracle's dict."""
    nb, h, w = data.shape
    return {
        (z, x0 + tx, y0 + ty): (
            data[:, ty * side : (ty + 1) * side, tx * side : (tx + 1) * side].reshape(nb, -1),
            mask[ty * side : (ty + 1) * side, tx * side : (tx + 1) * side].reshape(-1),
        )
        for ty in range(h // side)
        for tx in range(w // side)
    }


def test_tile_request_over_two_tables_filters_both_scans(spark, tmp_path):
    """A tile request for (a + b) > b over two exported tables joins once,
    with the tile's x/y pushed into both parquet scans; its pixels are the
    numpy oracle's for a tile in both tables and a tile only in B, and a
    tile in neither returns no rows."""
    rng = np.random.default_rng(7)
    da = rng.integers(0, 200, size=(2, 32, 48)).astype(np.float64)
    ma = np.where(rng.random((32, 48)) < 0.2, 0, 255)
    db = rng.integers(0, 200, size=(1, 32, 64)).astype(np.float64)
    mb = np.where(rng.random((32, 64)) < 0.2, 0, 255)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    Image.from_array(spark, da, 6, 10, 20, tile_side=16, mask=ma).export(pa)
    Image.from_array(spark, db, 6, 11, 20, tile_side=16, mask=mb).export(pb)
    a, b = Image.load(spark, pa), Image.load(spark, pb)
    expr = (a + b) > b

    plan = _plan(expr.tile(6, 11, 21))
    assert _n_joins(expr.tile(6, 11, 21)) == 1, plan
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert len(scans) == 2, plan
    for line in scans:
        assert "EqualTo(x,11)" in line and "EqualTo(y,21)" in line, plan

    ta, tb = _cut(da, ma, 6, 10, 20), _cut(db, mb, 6, 11, 20)
    want = O.binary(operator.gt, O.binary(operator.add, ta, tb, 2, 1, 256), tb, 2, 1, 256)
    for key in [(6, 11, 21), (6, 14, 20)]:  # in both tables; only in B
        got = _collect(Image.from_df(expr.tile(*key), 2, 256))
        _assert_tiles_equal(got, {key: want[key]})
    assert expr.tile(6, 16, 20).count() == 0
