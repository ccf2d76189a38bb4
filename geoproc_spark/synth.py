"""Deterministic synthetic geo corpus, shared between Spark and the DuckDB oracle.

The driver's correctness gate runs each Spark query AND an ANSI-SQL oracle
side-by-side on the same parquet tables. To make the comparison exact we
derive every synthetic value with *integer arithmetic on doc_id* (division by
10^4 only at the very end), so Spark and DuckDB produce bit-identical doubles.
The derivation is written once, in a SQL dialect subset that parses in BOTH
engines, and reused verbatim by `queries()` and `oracle_sql()`.

Layout mirrors FIXTURES.md:
- `pages`   — Common-Crawl-style rows derived from the `documents` table:
  60% of pages embed one coordinate mention in the text, in one of three
  pinned formats; ~33% of geotagged pages cluster in 5 hot-spot cities
  (skew fixture, FIXTURES.md T4).
- `polygons` — 15 axis-aligned boxes (3 nested sizes around each hot spot;
  overlapping, so a point can match several features -> exercises dedup).
  The engine treats them as general closed rings; only the oracle exploits
  their rectangularity. Box edges sit on half-integers in scaled space so
  no integer-scaled point ever lies exactly on a boundary.
- `knn_queries` — 20 fixed query points, half near hot spots.

Coordinates are scaled by 10^4 ("scaled space"): lat_s in [-850000, 850000],
lon_s in [-1800000, 1800000]. Distances for kNN are squared-euclidean in
scaled space — exact BIGINT math, no floating point at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators import _small
from .sources.tableformat import parquet_schema

SCALE = 10_000

# (name, lat_s, lon_s) — fixed hot-spot centers (FIXTURES.md T4).
HOT_CENTERS = [
    ("paris", 488566, 23522),
    ("nyc", 407128, -740060),
    ("sydney", -338688, 1512093),
    ("saopaulo", -235505, -466333),
    ("lagos", 65244, 33792),
]

# Polygon half-sizes in scaled space; .5 offsets keep integer points off edges.
POLY_HALF_SIZES = [300.5, 800.5, 1500.5]


def _case_over_centers(idx_expr: str, values: list[int]) -> str:
    whens = " ".join(f"WHEN {i} THEN {v}" for i, v in enumerate(values))
    return f"CASE {idx_expr} {whens} ELSE {values[-1]} END"


def _coord_str(col: str) -> str:
    """SQL building the canonical 4-decimal string of a scaled coordinate.

    Built from integer parts (never by casting a double to string), so the
    text is byte-identical across engines, runs, and partitionings — the
    input_hint's per-url invariant.
    """
    return (
        f"concat(CASE WHEN {col} < 0 THEN '-' ELSE '' END, "
        f"CAST(CAST(floor(abs({col}) / {SCALE}) AS BIGINT) AS STRING), '.', "
        f"lpad(CAST(abs({col}) % {SCALE} AS STRING), 4, '0'))"
    )


# warc_ts derivation: 2024-01-01T00:00:00Z + (page_id*37 mod 1 year) seconds,
# exact integer micros — byte-identical across engines (host/session tz UTC).
WARC_TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01 epoch micros
_WARC_US = f"({WARC_TS_BASE_US} + ((page_id * 37) % 31536000) * 1000000)"

# Per-dialect fragments for the input_hint columns the shared subset can't
# express: TIMESTAMP construction and VARCHAR->BINARY casts differ by name.
_DIALECT = {
    "spark": {"ts": f"timestamp_micros({_WARC_US})", "bin": "CAST({} AS BINARY)"},
    "duck": {"ts": f"make_timestamp({_WARC_US})", "bin": "CAST({} AS BLOB)"},
}

# Pinned HTML wrapper (FIXTURES: html embeds the SAME text byte-identically,
# plus a geo.position meta tag on geotagged pages — the html extraction path
# must recover both). Text never contains markup chars (word-soup corpus),
# and extraction still uses non-greedy spans for robustness.
_HTML_SQL = (
    "concat('<html><head><meta charset=\"utf-8\">', "
    "CASE WHEN m < 6 THEN concat('<meta name=\"geo.position\" content=\"', "
    "{lat_str}, ';', {lon_str}, '\">') ELSE '' END, "
    "'</head><body><p>', page_text, '</p></body></html>')"
)


def pages_sql(replicate: int = 1, dialect: str | None = None) -> str:
    """SQL deriving the `pages` corpus from `documents`.

    Columns: page_id BIGINT, url STRING, lang STRING, text STRING,
             lat_s BIGINT, lon_s BIGINT (NULL when the page has no coords),
             has_geo INT (0/1), is_hot INT (0/1);
    with dialect in {"spark", "duck"} additionally the full input_hint shape
    (BASELINE.json): warc_ts TIMESTAMP and html BINARY (a pinned wrapper of
    the text; geotagged pages also carry a geo.position meta tag). The
    default (dialect=None) emits only the shared-dialect subset — the form
    every existing oracle embeds verbatim.

    lat_s/lon_s are the ground truth the extraction UDF must recover from
    `text`/`html`; downstream oracle SQL uses them directly.

    replicate > 1 multiplies the corpus (bench only; requires a `repl`
    helper view with column `i` — see `register_replicate_view`).
    """
    lat_hot = _case_over_centers("hc", [c[1] for c in HOT_CENTERS])
    lon_hot = _case_over_centers("hc", [c[2] for c in HOT_CENTERS])
    if replicate == 1:
        src = "SELECT doc_id AS page_id, lang, text AS doc_text FROM documents"
    elif replicate == -1:
        # Spark-only fast path: a pre-repartitioned `pages_src` view
        # (see pages_df) so synthesis/extraction parallelize across all
        # cores instead of inheriting the single-file partitioning of
        # documents.parquet.
        src = "SELECT page_id, lang, doc_text FROM pages_src"
    else:
        src = (
            f"SELECT doc_id * {replicate} + repl.i AS page_id, lang, "
            "text AS doc_text FROM documents CROSS JOIN repl"
        )
    return f"""
WITH src AS ({src}),
base AS (
  SELECT page_id, lang, doc_text,
         page_id % 10 AS m,
         page_id % 5 AS hc,
         (page_id * 7919) % 1000 - 500 AS off1,
         (page_id * 104729) % 1000 - 500 AS off2,
         (page_id * 99991) % 1600000 - 800000 AS cold_lat,
         (page_id * 15485863) % 3600000 - 1800000 AS cold_lon
  FROM src
),
geo AS (
  SELECT page_id, lang, doc_text, m,
         CASE WHEN m < 2 THEN {lat_hot} + off1 ELSE cold_lat END AS g_lat,
         CASE WHEN m < 2 THEN {lon_hot} + off2 ELSE cold_lon END AS g_lon
  FROM base
),
txt AS (
  SELECT page_id, lang, m, g_lat, g_lon,
         CASE WHEN m < 6 THEN
           CASE page_id % 3
             WHEN 0 THEN concat('lat ', {_coord_str("g_lat")}, ', lon ', {_coord_str("g_lon")})
             WHEN 1 THEN concat('(', {_coord_str("g_lat")}, ', ', {_coord_str("g_lon")}, ')')
             ELSE concat('geo:', {_coord_str("g_lat")}, ',', {_coord_str("g_lon")})
           END
         ELSE '' END AS coord_part,
         substr(doc_text, 1, 120) AS snippet
  FROM geo
),
assembled AS (
  SELECT page_id, lang, m, g_lat, g_lon,
         concat('Page ', CAST(page_id AS STRING), '. ', snippet,
                CASE WHEN m < 6 THEN concat(' near ', coord_part, ' .') ELSE ' .' END) AS page_text
  FROM txt
)
SELECT page_id,
       concat('https://site', CAST(page_id % 1000 AS STRING), '.example/p/',
              CAST(page_id AS STRING)) AS url,
       lang,
       page_text AS text,{_input_hint_cols(dialect)}
       CASE WHEN m < 6 THEN g_lat ELSE NULL END AS lat_s,
       CASE WHEN m < 6 THEN g_lon ELSE NULL END AS lon_s,
       CASE WHEN m < 6 THEN 1 ELSE 0 END AS has_geo,
       CASE WHEN m < 2 THEN 1 ELSE 0 END AS is_hot
FROM assembled
""".strip()


def _input_hint_cols(dialect: str | None) -> str:
    """warc_ts + html column SQL for the chosen dialect ('' for the shared
    subset). html wraps the exact page text (byte-identity invariant) and,
    on geotagged pages, a geo.position meta with the same pinned coordinate
    strings the text carries."""
    if dialect is None:
        return ""
    d = _DIALECT[dialect]
    html_str = _HTML_SQL.format(
        lat_str=_coord_str("g_lat"), lon_str=_coord_str("g_lon")
    )
    return f"""
       {d["ts"]} AS warc_ts,
       {d["bin"].format(html_str)} AS html,"""


def polygons_values_sql() -> str:
    """Inline VALUES relation of the polygon layer (shared dialect).

    Columns: feature_id BIGINT, clat BIGINT, clon BIGINT, half DOUBLE.
    The engine converts these to general closed rings; the oracle uses the
    box predicate directly.
    """
    rows = []
    fid = 0
    for _name, clat, clon in HOT_CENTERS:
        for half in POLY_HALF_SIZES:
            rows.append(f"({fid}, {clat}, {clon}, {half})")
            fid += 1
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS polyv(feature_id, clat, clon, half)"
    )


def polygon_rings() -> list[dict]:
    """Driver-side polygon layer as closed CCW rings in degree space.

    Ring = flat [x0,y0, x1,y1, ...] with the first point repeated last
    (FIXTURES.md T2). The engine's PIP path never sees the box structure.
    """
    feats = []
    fid = 0
    for _name, clat, clon in HOT_CENTERS:
        for half in POLY_HALF_SIZES:
            minx = (clon - half) / SCALE
            maxx = (clon + half) / SCALE
            miny = (clat - half) / SCALE
            maxy = (clat + half) / SCALE
            ring = [minx, miny, maxx, miny, maxx, maxy, minx, maxy, minx, miny]
            feats.append(
                {
                    "layer_id": "admin",
                    "feature_id": fid,
                    "ring": ring,
                    "minx": minx,
                    "miny": miny,
                    "maxx": maxx,
                    "maxy": maxy,
                }
            )
            fid += 1
    return feats


def knn_query_points() -> list[tuple[int, int, int, int]]:
    """20 deterministic (qid, lat_s, lon_s, k) query points; half near hot spots."""
    out = []
    for qid in range(20):
        if qid < 10:
            _n, clat, clon = HOT_CENTERS[qid % 5]
            lat = clat + (qid * 977) % 800 - 400
            lon = clon + (qid * 1237) % 800 - 400
        else:
            lat = (qid * 611953) % 1600000 - 800000
            lon = (qid * 799631) % 3600000 - 1800000
        out.append((qid, lat, lon, 5))
    return out


def knn_queries_values_sql() -> str:
    rows = ", ".join(f"({q}, {la}, {lo}, {k})" for q, la, lo, k in knn_query_points())
    return f"SELECT * FROM (VALUES {rows}) AS knnv(qid, qlat_s, qlon_s, k)"


# --------------------------------------------------------------- tile fixtures
# Synthetic "rasters" as tile rows (FIXTURES.md T5): 16x16-px tiles at z=3,
# image A = 2 bands over x 0..3, image B = 1 band over x 2..5 (partial
# overlap exercises the outer-join bounds-union + mask-union semantics of
# /root/reference/geoproc/server/image.py:300,303-305). Pixel values and
# masks are closed-form in (x, y, band, i) so the DuckDB oracle recomputes
# them exactly.

TILE_Z = 3
TILE_PX = 256  # 16 x 16
TILE_XRANGE = {"A": (0, 3), "B": (2, 5)}
TILE_YRANGE = (0, 3)  # inclusive, shared by both images AND the VALUES oracles
TILE_BANDS = {"A": 2, "B": 1}
TILE_SALT = {"A": 1, "B": 3}  # band k of A uses salt 1+k; B uses 3


def tile_pixel_sql(x: str, y: str, i: str, salt: int) -> str:
    return f"((({x} * 16 + {y}) * 256 + {i} * 7 + {salt}) % 97)"


def tile_mask_sql(x: str, y: str, i: str) -> str:
    return f"(CASE WHEN ({i} + {x} + {y}) % 11 = 0 THEN 0 ELSE 255 END)"


def tiles_df(spark: SparkSession, img: str) -> DataFrame:
    """Engine-side tile fixture — arrays built with JVM sequence/transform
    (no Python in the pixel path)."""
    x0, x1 = TILE_XRANGE[img]
    keys = [
        (TILE_Z, x, y)
        for x in range(x0, x1 + 1)
        for y in range(TILE_YRANGE[0], TILE_YRANGE[1] + 1)
    ]
    kdf = _small.frame(spark, keys, "z int, x int, y int", "tile key table", "shrink TILE_XRANGE")
    bands = ", ".join(
        f"transform(sequence(0, {TILE_PX - 1}), "
        f"i -> CAST({tile_pixel_sql('x', 'y', 'i', TILE_SALT[img] + k)} AS DOUBLE))"
        for k in range(TILE_BANDS[img])
    )
    return kdf.selectExpr(
        "z",
        "x",
        "y",
        f"array({bands}) AS data",
        f"transform(sequence(0, {TILE_PX - 1}), i -> CAST({tile_mask_sql('x', 'y', 'i')} AS INT)) AS mask",
    )


def tile_pixels_np(img: str):
    """Numpy oracle twin of tiles_df: {(z,x,y): (data[bands,px], mask[px])}."""
    import numpy as np

    x0, x1 = TILE_XRANGE[img]
    out = {}
    i = np.arange(TILE_PX, dtype=np.int64)
    for x in range(x0, x1 + 1):
        for y in range(TILE_YRANGE[0], TILE_YRANGE[1] + 1):
            data = np.stack(
                [
                    ((x * 16 + y) * 256 + i * 7 + TILE_SALT[img] + k) % 97
                    for k in range(TILE_BANDS[img])
                ]
            ).astype(np.float64)
            mask = np.where((i + x + y) % 11 == 0, 0, 255).astype(np.int64)
            out[(TILE_Z, x, y)] = (data, mask)
    return out


# ------------------------------------------------------- dedup/text fixtures
# The raw `documents` rows are all distinct, so dedup operators would return
# empty results (which prove nothing). This shared-dialect corpus plants
# deterministic near-duplicates (suffix-mutated, doc_id % 5) and exact
# duplicates (doc_id % 7) on top of the originals.
DOCS_DUP_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       concat(text, ' appended near duplicate suffix') AS text
FROM documents WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
""".strip()

MINHASH_P = 4294967291  # largest prime < 2^32: a*h + b stays inside int64


def minhash_perms(n: int = 16) -> list[tuple[int, int, int]]:
    """Fixed seeded (pid, a, b) permutation parameters, shared verbatim with
    the oracle SQL (single source of truth)."""
    import random

    rng = random.Random(42)
    return [
        (j, rng.randrange(1, 2**31) | 1, rng.randrange(0, 2**31)) for j in range(n)
    ]


def minhash_perms_values_sql() -> str:
    rows = ", ".join(f"({p}, {a}, {b})" for p, a, b in minhash_perms())
    return f"SELECT * FROM (VALUES {rows}) AS permv(pid, a, b)"


def docs_dup_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    return spark.sql(DOCS_DUP_SQL)


def pii_docs_sql(dialect: str = "duck") -> str:
    """Documents with deterministically planted PII spans (the raw corpus
    vocabulary has none, so a PII scan over it would prove nothing):
    emails on doc_id % 3, one of two phone formats on doc_id % 4 in
    {0, 2}, dotted-quad IPs on doc_id % 5 — classes overlap on many docs,
    which is exactly what exercises the ordered multi-pattern redaction.
    Shared dialect up to the string cast (STRING vs VARCHAR)."""
    cast = "VARCHAR" if dialect == "duck" else "STRING"
    return f"""
SELECT doc_id, source, concat(text,
  CASE WHEN doc_id % 3 = 0
       THEN concat(' contact user', CAST(doc_id AS {cast}), '@mail.example.com for details')
       ELSE '' END,
  CASE WHEN doc_id % 4 = 0 THEN ' or call +1-555-867-5309 now' ELSE '' END,
  CASE WHEN doc_id % 4 = 2 THEN ' or call +1-202-555-0147 later' ELSE '' END,
  CASE WHEN doc_id % 5 = 0
       THEN concat(' served from 10.0.', CAST(doc_id % 200 AS {cast}), '.7 tonight')
       ELSE '' END) AS text
FROM documents
""".strip()


def pii_docs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    return spark.sql(pii_docs_sql(dialect="spark"))


# Embedding corpus with planted near-duplicates: scale-perturbed copies have
# cosine == 1 up to fp rounding (cosine is scale-invariant) — far above any
# random-pair similarity, so threshold decisions agree across engines.
# transform/list_transform differ by name -> one string per dialect.
EMB_DUP_SPARK_SQL = """
SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id,
       transform(embedding, x -> CAST(x AS DOUBLE) * 1.01) AS embedding
FROM embeddings WHERE vec_id % 5 = 0
""".strip()

EMB_DUP_DUCKDB_SQL = """
SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id,
       list_transform(embedding, x -> x::DOUBLE * 1.01) AS embedding
FROM embeddings WHERE vec_id % 5 = 0
""".strip()


def emb_dup_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["embeddings"])
    return spark.sql(EMB_DUP_SPARK_SQL)


TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register the driver-generated parquet tables as temp views. Each
    read carries its footer schema, so registering runs no Spark job."""
    for name in tables or TABLES:
        path = f"{sf_dir}/{name}.parquet"
        spark.read.schema(parquet_schema(path)).parquet(path).createOrReplaceTempView(name)


def register_replicate_view(spark: SparkSession, replicate: int) -> None:
    spark.range(replicate).selectExpr("id AS i").createOrReplaceTempView("repl")


def pages_df(
    spark: SparkSession, sf_dir: str, replicate: int = 1, partitions: int | None = None
) -> DataFrame:
    """The pages corpus as a DataFrame (documents view must not be stale).

    With replicate > 1 the cross-joined source is repartitioned BEFORE the
    text synthesis: documents.parquet is a single small file (one input
    split), so without this every downstream stage would run on a handful
    of tasks no matter how many cores the session has.
    """
    load_tables(spark, sf_dir, ["documents"])
    if replicate > 1:
        n = partitions or spark.sparkContext.defaultParallelism * 2
        src = (
            spark.table("documents")
            .selectExpr("doc_id", "lang", "text")
            .crossJoin(spark.range(replicate).selectExpr("id AS i"))
            .repartition(n)
            .selectExpr(
                f"doc_id * {replicate} + i AS page_id", "lang", "text AS doc_text"
            )
        )
        src.createOrReplaceTempView("pages_src")
        return spark.sql(pages_sql(-1, dialect="spark"))
    return spark.sql(pages_sql(replicate, dialect="spark"))
