"""Bit-parity of the Arrow+numpy signature kernels (functions/textkern)
against their JVM higher-order-expression twins — the r6 optimization
replaced the interpreted HOF folds on the hot path; these tests pin that
the kernels compute byte-identical values (the DuckDB oracles pin the
same thing independently in test_queries_vs_oracle)."""

import os

import pytest
from pyspark.sql import functions as F

from geoproc_spark import synth
from geoproc_spark.functions import textkern as TK
from geoproc_spark.oracle import signature_hof as hof

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def docs(spark):
    return synth.docs_dup_df(spark, SF_DIR)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_simhash_kernel_matches_hof(spark, docs):
    assert _rows(TK.simhash(docs)) == _rows(hof.simhash_hof(docs))


def test_minhash_kernel_matches_hof(spark, docs):
    perms = synth.minhash_perms()
    assert _rows(TK.minhash_signatures(docs, perms)) == _rows(
        hof.minhash_signatures_hof(docs, perms)
    )


def test_winnow_fingerprints_match_window_form(spark):
    """The kernel's per-doc sliding-window minima + per-doc distinct equal
    the posexplode + Window(0..3 FOLLOWING) + global DISTINCT formulation
    it replaced."""
    from pyspark.sql import Window

    from geoproc_spark.functions import text as TX

    synth.load_tables(spark, SF_DIR, ["documents"])
    d = spark.table("documents")
    sh = d.selectExpr(
        "doc_id",
        "posexplode("
        + TX.shingles_sql_spark("split(text, ' ')", distinct=False)
        + ") AS (pos0, g)",
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        (TX.token_hash(F.col("g")) % synth.MINHASH_P).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    old = sh.select("doc_id", F.min("h").over(w).alias("fp")).distinct()
    assert _rows(TK.winnow_fingerprints(d, synth.MINHASH_P)) == _rows(old)


def test_cc_base_matches_jvm_base_and_sigs(spark, docs):
    """cc_base's h60 hash SETS, text hash, and minhash columns all agree
    with the JVM expression forms (h60 compared as sets: the kernel emits
    first-occurrence order too, but only set semantics are contracted)."""
    from geoproc_spark.functions import text as TX

    perms = synth.minhash_perms()
    base = TK.cc_base(docs, perms)
    sh_expr = TX.shingles_sql_spark("split(text, ' ')", 3)
    jvm = docs.selectExpr(
        "doc_id",
        f"transform({sh_expr}, g -> CAST(conv(substring(md5(g),1,15),16,10) AS BIGINT)) AS h60",
        "md5(text) AS th",
    )
    got = {r.doc_id: (sorted(r.h60), r.th) for r in base.collect()}
    want = {r.doc_id: (sorted(r.h60), r.th) for r in jvm.collect()}
    assert got == want
    mh_cols = [f"mh{p}" for p, _, _ in perms]
    got_mh = _rows(base.filter("mh0 IS NOT NULL").select("doc_id", *mh_cols))
    want_mh = _rows(hof.minhash_signatures_hof(docs, perms))
    assert got_mh == want_mh


def test_doc_stats_matches_jvm_metrics(spark):
    """doc_stats equals quality_metrics + repetition_metrics column by
    column, including the JVM null conventions, on the fixture corpus plus
    hand-built edge docs (null text, empty text, single token, looping
    bigrams)."""
    from geoproc_spark.oracle import text_hof as TX

    synth.load_tables(spark, SF_DIR, ["documents"])
    edge = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, "one"),
            (900004, "buy now buy now buy now"),
            (900005, "a  b"),  # consecutive spaces -> empty token
        ],
        "doc_id long, text string",
    )
    docs = spark.table("documents").select("doc_id", "text").unionByName(edge)
    q = TX.quality_metrics(F.col("text"))
    r = TX.repetition_metrics(F.col("text"))
    jvm = docs.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        q["n_uniq"].alias("n_uniq"),
        q["n_stop"].alias("n_stop"),
        q["max_token_len"].alias("max_token_len"),
        r["n_dup_tokens"].alias("n_dup_tokens"),
        r["top_bigram_n"].alias("top_bigram_n"),
    )
    assert _rows(TK.doc_stats(docs)) == _rows(jvm)


def test_kernels_drop_short_and_null_docs(spark):
    rows = [(1, "a b"), (2, None), (3, "one two three four"), (4, "")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    assert {r.doc_id for r in TK.simhash(d).collect()} == {3}
    assert {r.doc_id for r in TK.minhash_signatures(d, synth.minhash_perms()).collect()} == {3}
    assert {r.doc_id for r in TK.winnow_fingerprints(d, synth.MINHASH_P).collect()} == {3}
    # cc_base keeps every row (each owns a CC label); null text -> NULL th
    base = {r.doc_id: (r.h60, r.th, r.mh0) for r in TK.cc_base(d, synth.minhash_perms()).collect()}
    assert set(base) == {1, 2, 3, 4}
    assert base[1][0] == [] and base[1][2] is None
    assert base[2][1] is None
    assert base[3][0] != [] and base[3][2] is not None
