"""Extraction invariants: the mapInArrow + RE2 kernel == arithmetic ground
truth == the Python-`re` reference twin; byte-identical per url across
partitionings (input_hint)."""

from pyspark.sql import functions as F

from geoproc_spark import synth
from geoproc_spark.functions import extract
from geoproc_spark.oracle import extract_oracle
from tests.conftest import SF_DIR


def _truth(spark):
    return synth.pages_df(spark, SF_DIR).select(
        "page_id",
        "text",
        (F.col("lat_s") / 10000.0).alias("tlat"),
        (F.col("lon_s") / 10000.0).alias("tlon"),
        "has_geo",
    )


def test_udf_recovers_ground_truth(spark):
    df = extract.with_coords_arrow(_truth(spark))
    # eqNullSafe: a NULL from a broken extractor on a geo page is a bad row
    bad = df.filter(
        (
            (F.col("has_geo") == 1)
            & (~F.col("lat").eqNullSafe(F.col("tlat")) | ~F.col("lon").eqNullSafe(F.col("tlon")))
        )
        | ((F.col("has_geo") == 0) & F.col("lat").isNotNull())
    )
    assert bad.count() == 0


def test_extraction_partition_invariant(spark):
    """Same bytes out regardless of partitioning/parallelism."""
    base = _truth(spark).select("page_id", "text")

    def run(df):
        out = extract.with_coords_arrow(df)
        return sorted((r.page_id, r.lat, r.lon) for r in out.collect())

    assert run(base.repartition(1)) == run(base.repartition(16, "page_id"))


def test_arrow_path_matches_udf(spark):
    """mapInArrow + RE2 (the production path) == the Python-`re` reference
    twin, row for row, on text and on raw HTML."""
    pages = synth.pages_df(spark, SF_DIR).select("page_id", "text", "html").collect()
    want_text = sorted((r.page_id, *extract_oracle.first_coord(r.text)) for r in pages)
    want_html = sorted((r.page_id, *extract_oracle.first_coord_html(r.html)) for r in pages)
    df = synth.pages_df(spark, SF_DIR)
    got_text = extract.with_coords_arrow(df.select("page_id", "text"))
    got_html = extract.with_coords_arrow(df.select("page_id", "html"), text_col="html")
    assert sorted((r.page_id, r.lat, r.lon) for r in got_text.collect()) == want_text
    assert sorted((r.page_id, r.lat, r.lon) for r in got_html.collect()) == want_html


def test_html_extraction_matches_ground_truth(spark):
    """input_hint fidelity: coordinates extracted from RAW HTML bytes match
    the integer ground truth exactly (meta tag path on geo pages)."""
    pages = synth.pages_df(spark, SF_DIR).select("page_id", "html", "lat_s", "lon_s", "has_geo")
    df = extract.with_coords_arrow(pages, text_col="html")
    # eqNullSafe closes the three-valued-logic hole (ADVICE r02): a broken
    # extractor returning NULL on a geo page must count as a bad row, not
    # evaluate the predicate to NULL and slip through the filter
    bad = df.filter(
        (
            (F.col("has_geo") == 1)
            & (
                ~F.col("lat").eqNullSafe(F.col("lat_s") / 10000.0)
                | ~F.col("lon").eqNullSafe(F.col("lon_s") / 10000.0)
            )
        )
        | ((F.col("has_geo") == 0) & F.col("lat").isNotNull())
    )
    assert bad.count() == 0


def test_html_to_text_byte_identical(spark):
    """The per-url invariant on the html path: html_to_text(html) == text,
    byte for byte, for every page."""
    pages = synth.pages_df(spark, SF_DIR)
    bad = pages.select(
        "text", extract_oracle.html_to_text_udf("html").alias("t2")
    ).filter(~F.col("text").eqNullSafe(F.col("t2")))
    assert bad.count() == 0


def test_html_meta_priority_and_fallback(spark):
    """Pinned HTML spec: geo.position meta wins over body text patterns;
    without a meta the text patterns run over the whole document, byte-level
    (a page that is not valid UTF-8 still matches)."""
    rows = [
        # meta AND conflicting body text -> meta wins
        (b'<html><head><meta name="geo.position" content="1.5000;2.5000">'
         b"</head><body><p>lat 9.9999, lon 8.8888</p></body></html>",),
        # no meta -> body pattern
        (b"<html><head></head><body><p>geo:-3.2500,4.7500</p></body></html>",),
        # nothing
        (b"<html><head></head><body><p>plain</p></body></html>",),
        (None,),
        # not valid UTF-8 -> the ASCII pattern still matches
        (b"\xff\xfe (3.0, 4.0)",),
    ]
    df = spark.createDataFrame([(i, h) for i, (h,) in enumerate(rows)], "i int, html binary")
    out = extract.with_coords_arrow(df, text_col="html").orderBy("i").collect()
    got = [(r["lat"], r["lon"]) for r in out]
    assert got == [(1.5, 2.5), (-3.25, 4.75), (None, None), (None, None), (3.0, 4.0)]
    assert got == [extract_oracle.first_coord_html(h) for (h,) in rows]


def test_warc_ts_present_and_deterministic(spark):
    """input_hint schema: warc_ts is a TIMESTAMP, identical across runs."""
    p1 = synth.pages_df(spark, SF_DIR).select("page_id", "warc_ts")
    assert dict(p1.dtypes)["warc_ts"] == "timestamp"
    a = sorted(map(tuple, p1.collect()))
    b = sorted(map(tuple, synth.pages_df(spark, SF_DIR).select("page_id", "warc_ts").collect()))
    assert a == b and len(a) > 0
