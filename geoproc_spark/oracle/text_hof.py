"""JVM higher-order-expression twins of the per-doc text statistics.

`quality_metrics` and `repetition_metrics` compute, with zero Python,
the same values as the production Arrow kernel `functions/textkern.doc_stats`:
filter/transform/array_sort plus an aggregate() run-length fold per row.
Spark interprets HOF lambdas (no codegen) and these re-evaluate split()
per metric, so they serve only as the independent reference the parity
and behaviour tests compare against.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.text import STOPWORDS, tokens


def quality_metrics(text: Column) -> dict[str, Column]:
    """Integer-exact per-doc quality signals (hash-safe for the oracle)."""
    toks = tokens(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return {
        "n_chars": F.length(text).cast("bigint"),
        "n_tokens": F.size(toks).cast("bigint"),
        "n_uniq": F.size(F.array_distinct(toks)).cast("bigint"),
        "n_stop": F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
            "bigint"
        ),
        "max_token_len": F.array_max(F.transform(toks, F.length)).cast("bigint"),
    }


def repetition_metrics(text: Column, bigrams: Column | None = None) -> dict[str, Column]:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, public):
    duplicate-token mass and the share of the most frequent 2-gram — the
    standard removal rules for boilerplate/looping text. Integer-exact:
    `n_dup_tokens` = n_tokens - n_distinct, `top_bigram_n` = occurrence
    count of the modal bigram (0 for docs with < 2 tokens). All JVM
    higher-order expressions, zero shuffle.

    The modal count is LINEAR-ish, not quadratic: sort the bigram array and
    take the longest equal-run with one `aggregate` fold — O(L log L)
    comparisons per row, all JVM. (The previous distinct x filter nest was
    O(distinct*L) string compares per row: a 100k-token doc meant ~10^10
    compares in one task — a guaranteed straggler at corpus scale.)

    PASS `bigrams` as a pre-projected COLUMN (one `.select` earlier with
    shingles_sql_spark(k=2, distinct=False)) when the input is large:
    `array_sort` evaluates its argument once, but the fallback built here
    from `text` still pays a few redundant `split` evaluations per row."""
    toks = tokens(text)
    if bigrams is None:
        # Built from the passed Column (not a hardcoded column name).
        # zip_with's array arguments are materialized ONCE (they are plain
        # expressions, not re-evaluated per element like HOF lambda bodies),
        # so this is O(L) construction: pair each token with its successor.
        n = F.size(toks)
        bigrams = F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
    srt = F.array_sort(bigrams)
    run = lambda acc, x: F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(
        F.lit(1)
    )
    top_bigram = F.aggregate(
        srt,
        F.struct(
            F.lit(0).alias("best"),
            F.lit(0).alias("run"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.greatest(acc["best"], run(acc, x)).alias("best"),
            run(acc, x).alias("run"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    return {
        "n_tokens": F.size(toks).cast("bigint"),
        "n_dup_tokens": (F.size(toks) - F.size(F.array_distinct(toks))).cast("bigint"),
        "top_bigram_n": F.coalesce(top_bigram, F.lit(0)).cast("bigint"),
    }
