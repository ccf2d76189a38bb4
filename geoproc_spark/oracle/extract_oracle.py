"""Python-`re` reference twin of the coordinate-extraction kernel.

Straight-line, one row at a time, no Arrow, no Spark: the readable
statement of the pinned extraction spec (FIXTURES.md T1) that the tests
compare the production kernel (`functions/extract.coords_arrow`) against.

Patterns are compiled with `re.ASCII` so `\\d` means `[0-9]`, as it does in
RE2; without it Python also matches and `float()`-parses non-ASCII digits
(e.g. Arabic-Indic), which the production kernel never extracts.

`html_to_text_udf` states the html -> text invariant the same way: a
per-row pandas UDF the byte-identity test runs against the `text` column.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUM = r"(-?\d+\.\d+)"
# Alternation order is part of the pinned spec: scanning is left-to-right by
# match *position*; among patterns matching at the same position the first
# alternative wins.
PATTERNS = [
    re.compile(rf"lat {_NUM}, lon {_NUM}", re.ASCII),
    re.compile(rf"\({_NUM}, {_NUM}\)", re.ASCII),
    re.compile(rf"geo:{_NUM},{_NUM}", re.ASCII),
]
COMBINED = re.compile("|".join(p.pattern for p in PATTERNS), re.ASCII)
META = re.compile(r'<meta name="geo\.position" content="(-?\d+\.\d+);(-?\d+\.\d+)">', re.ASCII)


def first_coord(text: str | None) -> tuple[float | None, float | None]:
    """First coordinate mention in document order, or (None, None)."""
    if not text:
        return None, None
    m = COMBINED.search(text)
    if m is None:
        return None, None
    groups = [g for g in m.groups() if g is not None]
    return float(groups[0]), float(groups[1])


def first_coord_html(html: bytes | None) -> tuple[float | None, float | None]:
    """HTML spec: a geo.position meta wins; otherwise the text patterns run
    over the whole document. Matching is byte-level: latin-1 maps every byte
    to one code point, so non-UTF-8 pages match the ASCII patterns instead
    of failing to decode."""
    if not html:
        return None, None
    s = html.decode("latin-1")
    m = META.search(s)
    if m is not None:
        return float(m.group(1)), float(m.group(2))
    return first_coord(s)


# ------------------------------------------------------------ HTML -> text
# The input_hint corpus carries `html BINARY` next to `text` (BASELINE.json):
# a pinned wrapper embedding the page text in <p>...</p> plus, on geotagged
# pages, a geo.position meta tag (synth._HTML_SQL).
_BODY_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)


@F.pandas_udf(T.StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    """Extracted text from HTML — the input_hint's per-url invariant: the
    result must be byte-identical to the page's `text` column (the corpus
    embeds text losslessly in <p>...</p>; non-greedy span for robustness)."""

    def one(h):
        if h is None:
            return None
        s = h.decode("utf-8") if isinstance(h, (bytes, bytearray)) else h
        m = _BODY_RE.search(s)
        return m.group(1) if m is not None else ""

    return pd.Series([one(h) for h in html])
