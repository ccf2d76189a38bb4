"""Text-analysis primitives for the training-data pipeline — all JVM-side.

Tokenization, portable token hashing, k-gram shingles, language id,
URL canonicalization and PII patterns (the per-doc quality/repetition
statistics are the Arrow kernel textkern.doc_stats; their JVM twins live in
oracle/text_hof). Everything is expressed with
built-in pyspark.sql.functions (codegen'd, no Python), and every hash is
*portable*: Spark's md5 == DuckDB's md5, so the DuckDB oracle recomputes
identical values.

Pinned token spec: tokens = split on single space (the corpus is already
space-normalized); token hash = first 15 hex digits of md5, as a 60-bit
BIGINT; 32-bit-reduced variant h32 = h % 4294967291 for modular MinHash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

H32_P = 4294967291  # largest prime < 2^32

STOPWORDS = ["the", "a", "of", "and", "to"]


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_hash(tok: Column) -> Column:
    """Portable 60-bit token hash (Spark conv == DuckDB hex-cast)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


def token_hash_sql(expr: str) -> str:
    """DuckDB twin of token_hash."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def token_hash_sql_spark(expr: str) -> str:
    """Spark-SQL-string form of token_hash (for higher-order lambdas where
    a Column can't reach)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def h32(tok: Column) -> Column:
    return token_hash(tok) % F.lit(H32_P)


def shingles_sql_spark(arr: str, k: int = 3, distinct: bool = True) -> str:
    """Spark-SQL expression: k-gram shingles of a token array (in order;
    optionally deduplicated into a set)."""
    parts = ", ".join(f"element_at({arr}, i + {j})" for j in range(k))
    body = (
        f"transform(sequence(1, size({arr}) - {k - 1}), i -> concat_ws(' ', {parts}))"
    )
    if distinct:
        body = f"array_distinct({body})"
    return f"CASE WHEN size({arr}) >= {k} THEN {body} ELSE array() END"


def shingles_sql_duckdb(arr: str, k: int = 3, distinct: bool = True) -> str:
    """DuckDB twin of shingles_sql_spark (1-indexed lists in both)."""
    parts = " || ' ' || ".join(f"{arr}[i + {j}]" for j in range(k))
    body = (
        f"list_transform(generate_series(1, len({arr}) - {k - 1}), i -> {parts})"
    )
    if distinct:
        body = f"list_distinct({body})"
    return f"CASE WHEN len({arr}) >= {k} THEN {body} ELSE [] END"


def split_assign(key: Column, val_pct: int = 1, test_pct: int = 1) -> Column:
    """Deterministic train/val/test assignment from a portable md5 bucket
    of a stable key (url/doc id) — the standard leakage-safe corpus split:
    the same key lands in the same split on every engine and every run.
    Bucket = first 8 md5 hex digits mod 100."""
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 100
    return (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )


TRACKING_PARAM_RE = "^(utm_|fbclid=|gclid=|ref=)"


def canonical_url_sql_spark(col: str) -> str:
    """Spark-SQL expression: canonical form of a URL for dedup keying —
    the standard Common-Crawl-style normalization: drop scheme, leading
    'www.', fragment, tracking query params (utm_*/fbclid/gclid/ref), and
    trailing slashes; sort surviving query params; lowercase. Pure JVM
    (regexp + array HOFs), portable to the DuckDB twin below. All regex
    patterns are anchored, so 'replace first' (DuckDB) == 'replace all'
    (Spark)."""
    base = (
        f"regexp_replace(regexp_replace(regexp_replace({col}, "
        f"'^https?://', ''), '^www\\\\.', ''), '#.*$', '')"
    )
    path = f"regexp_replace(regexp_replace({base}, '\\\\?.*$', ''), '/+$', '')"
    q = f"regexp_extract({base}, '\\\\?(.*)$', 1)"
    kept = (
        f"array_sort(filter(split({q}, '&'), "
        f"p -> p != '' AND NOT p rlike '{TRACKING_PARAM_RE}'))"
    )
    return (
        f"lower(concat({path}, CASE WHEN size({kept}) > 0 "
        f"THEN concat('?', concat_ws('&', {kept})) ELSE '' END))"
    )


def canonical_url_sql_duckdb(col: str) -> str:
    """DuckDB twin of canonical_url_sql_spark (same spec, same values)."""
    base = (
        f"regexp_replace(regexp_replace(regexp_replace({col}, "
        f"'^https?://', ''), '^www\\.', ''), '#.*$', '')"
    )
    path = f"regexp_replace(regexp_replace({base}, '\\?.*$', ''), '/+$', '')"
    q = f"regexp_extract({base}, '\\?(.*)$', 1)"
    kept = (
        f"list_sort(list_filter(string_split({q}, '&'), "
        f"p -> p != '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}')))"
    )
    return (
        f"lower({path} || CASE WHEN len({kept}) > 0 "
        f"THEN '?' || array_to_string({kept}, '&') ELSE '' END)"
    )


def canonical_url_expr(col_name: str) -> Column:
    """Column form of canonical_url_sql_spark (takes the column NAME —
    routed through the SQL builder so the two dialects can never diverge)."""
    return F.expr(canonical_url_sql_spark(col_name))


def lang_pred(n_stop: Column, n_tokens: Column) -> Column:
    """Heuristic language id: >= 5% pinned-stopword mass -> 'en'.

    (The corpus vocabulary is English; real n-gram language id would ship a
    profile table — the operator shape, a per-doc scoring expression, is
    what matters at scale.)"""
    return F.when(n_stop * 20 >= n_tokens, F.lit("en")).otherwise(F.lit("und"))


# PII patterns, deliberately backslash-free so ONE string is legal and
# identical in Java regex (Spark, which also eats backslashes inside SQL
# string literals) and RE2 (DuckDB): character classes instead of \+ \. \b.
# Ordered dict: redaction applies in this exact order on both engines
# (order matters — an email must not first lose its dots to the IP rule).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}", "<EMAIL>"),
    "phone": ("[+]1-[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    "ip": ("[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
}


def pii_count(text: Column, kind: str) -> Column:
    """Number of matches of one PII class — JVM regexp_extract_all, no
    Python in the loop."""
    pat, _ = PII_PATTERNS[kind]
    return F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))


def pii_redact(text: Column) -> Column:
    """Replace every PII match with its typed placeholder, all classes, in
    PII_PATTERNS order (email -> phone -> ip)."""
    out = text
    for pat, repl in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_redact_sql_duckdb(expr: str) -> str:
    """DuckDB twin of pii_redact (global flag; same pattern order)."""
    out = expr
    for pat, repl in PII_PATTERNS.values():
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out
