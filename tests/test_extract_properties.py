"""Hypothesis property tests: the production kernel (`extract.coords_arrow`,
Arrow RE2, no Spark) recovers ANY 4-decimal coordinate rendered in the three
text formats and the HTML meta, not just the fixture's, and agrees with the
Python-`re` reference twin — the input_hint determinism contract generalized."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from geoproc_spark.functions import extract
from geoproc_spark.oracle import extract_oracle

lat_s = st.integers(min_value=-850000, max_value=850000)
lon_s = st.integers(min_value=-1800000, max_value=1800000)


def _fmt(lat_scaled: int, lon_scaled: int, style: int) -> str:
    la = f"{lat_scaled / 10000:.4f}"
    lo = f"{lon_scaled / 10000:.4f}"
    return [
        f"lat {la}, lon {lo}",
        f"({la}, {lo})",
        f"geo:{la},{lo}",
    ][style]


def _kernel_text(text: str) -> tuple[float | None, float | None]:
    lat, lon = extract.coords_arrow(pa.array([text], pa.string()))
    got = (lat[0].as_py(), lon[0].as_py())
    assert got == extract_oracle.first_coord(text)
    return got


def _kernel_html(html: bytes) -> tuple[float | None, float | None]:
    lat, lon = extract.coords_arrow(pa.array([html], pa.binary()))
    got = (lat[0].as_py(), lon[0].as_py())
    assert got == extract_oracle.first_coord_html(html)
    return got


@settings(max_examples=300, deadline=None)
@given(lat_s, lon_s, st.integers(0, 2), st.text(alphabet="abc xyz.", max_size=30))
def test_text_extraction_recovers_any_coordinate(la, lo, style, noise):
    text = f"{noise} {_fmt(la, lo, style)} trailing."
    got_la, got_lo = _kernel_text(text)
    assert got_la == float(f"{la / 10000:.4f}")
    assert got_lo == float(f"{lo / 10000:.4f}")


@settings(max_examples=200, deadline=None)
@given(lat_s, lon_s, st.integers(0, 2))
def test_first_match_wins_over_later_mentions(la, lo, style):
    text = f"{_fmt(la, lo, style)} then {_fmt(0, 0, (style + 1) % 3)}"
    got_la, got_lo = _kernel_text(text)
    assert (got_la, got_lo) == (float(f"{la / 10000:.4f}"), float(f"{lo / 10000:.4f}"))


@settings(max_examples=200, deadline=None)
@given(lat_s, lon_s)
def test_html_meta_extraction_any_coordinate(la, lo):
    la_str, lo_str = f"{la / 10000:.4f}", f"{lo / 10000:.4f}"
    html = (
        f'<html><head><meta name="geo.position" content="{la_str};{lo_str}">'
        f"</head><body><p>body text</p></body></html>"
    ).encode()
    got_la, got_lo = _kernel_html(html)
    assert (got_la, got_lo) == (float(la_str), float(lo_str))


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef ghij,.()-:0", max_size=80))
def test_no_false_positives_on_near_miss_text(junk):
    """Text without a well-formed mention never extracts (no partial/greedy
    matches): strip digits-after-decimal structure by construction."""
    if extract_oracle.COMBINED.search(junk):
        return  # hypothesis found a legit mention; spec allows it
    assert _kernel_text(junk) == (None, None)


def test_ascii_digits_only():
    """RE2's \\d is [0-9]; the reference twin is pinned to match, so
    Arabic-Indic digits extract nothing on either path."""
    assert _kernel_text("lat \u0661.\u0665, lon \u0662.\u0665") == (None, None)


@settings(max_examples=100, deadline=None)
@given(lat_s, lon_s)
def test_scaled_string_parse_is_exact(la, lo):
    """float('x.dddd') == x_scaled/1e4 exactly (both are the correctly
    rounded double of the same rational) — the invariant the oracle
    comparison rests on (synth._coord_str)."""
    assert float(f"{la / 10000:.4f}") == np.float64(la) / 1e4
