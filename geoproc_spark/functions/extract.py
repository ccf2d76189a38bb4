"""Coordinate extraction from page text and raw HTML — Arrow-vectorized,
deterministic.

The pinned extraction spec (FIXTURES.md T1): three coordinate mention
formats with ASCII digits (`[0-9]`; other Unicode digits never match),
matches taken in document order, first match wins:

    lat 48.8566, lon 2.3522
    (40.7128, -74.0060)
    geo:-33.8688,151.2093

On raw HTML bytes a `<meta name="geo.position" content="LAT;LON">` wins;
otherwise the text patterns run over the whole document, byte-level, so a
page that is not valid UTF-8 still matches the ASCII patterns.

Determinism contract (input_hint): extraction(text) is byte-identical per
url across runs, partitionings, and parallelism levels. No locale, no
normalization beyond the already-UTF-8 input; ties broken by document order.

One implementation: `coords_arrow` runs the regexes in Arrow's C++ RE2 over
a whole batch (no pandas, no per-row Python) and `with_coords_arrow` maps it
over a DataFrame with mapInArrow. The Python-`re` reference twin the tests
compare against lives in `oracle/extract_oracle.py`.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

_NUM = r"-?\d+\.\d+"
# The three alternatives are disjoint, so RE2's leftmost match is the first
# mention in document order.
_TEXT_PATTERN = (
    rf"(?:lat (?P<a1>{_NUM}), lon (?P<b1>{_NUM}))"
    rf"|(?:\((?P<a2>{_NUM}), (?P<b2>{_NUM})\))"
    rf"|(?:geo:(?P<a3>{_NUM}),(?P<b3>{_NUM}))"
)
_META_PATTERN = rf'<meta name="geo\.position" content="(?P<a0>{_NUM});(?P<b0>{_NUM})">'


def _nonempty(field: pa.Array) -> pa.Array:
    # non-participating groups (and rows with no match) surface as "" — null
    # them so coalesce falls through to the next pattern
    return pc.if_else(
        pc.equal(field, pa.scalar("", field.type)), pa.scalar(None, field.type), field
    )


def coords_arrow(values: pa.Array) -> tuple[pa.Array, pa.Array]:
    """First coordinate mention per row as (lat, lon) float64 arrays, null
    where a row has none. `values` is page text (string) or raw HTML
    (binary); on binary the geo.position meta is tried first."""
    s = pc.extract_regex(values, _TEXT_PATTERN)
    groups = [(s.field(f"a{i}"), s.field(f"b{i}")) for i in (1, 2, 3)]
    if pa.types.is_binary(values.type) or pa.types.is_large_binary(values.type):
        m = pc.extract_regex(values, _META_PATTERN)
        groups.insert(0, (m.field("a0"), m.field("b0")))
    # every group of a matching alternative is non-empty, so coalescing lat
    # and lon separately always picks both from the same match
    lat = pc.coalesce(*(_nonempty(a) for a, _ in groups))
    lon = pc.coalesce(*(_nonempty(b) for _, b in groups))
    return pc.cast(lat, pa.float64()), pc.cast(lon, pa.float64())


def with_coords_arrow(df, text_col: str = "text", keep: list[str] | None = None):
    """df's `keep` columns (default: all but `text_col`) plus (lat, lon)
    doubles extracted from `text_col` (a STRING text or BINARY html column)
    by `coords_arrow`, one mapInArrow pass. Rows without a mention keep
    null coordinates."""
    keep = keep if keep is not None else [c for c in df.columns if c != text_col]
    fields = [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep]
    out_schema = ", ".join(fields + ["lat double", "lon double"])

    def run(batches):
        for batch in batches:
            lat, lon = coords_arrow(batch.column(text_col))
            cols = [batch.column(c) for c in keep] + [lat, lon]
            yield pa.RecordBatch.from_arrays(cols, names=keep + ["lat", "lon"])

    # mapInArrow is opaque to the optimizer: project first so only the
    # columns the output needs cross into Python
    return df.select(*keep, text_col).mapInArrow(run, out_schema)
