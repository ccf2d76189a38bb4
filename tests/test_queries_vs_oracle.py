"""Mirror of the driver's correctness gate: every registered Spark query must
match its DuckDB oracle row-for-row (sorted columns, sorted rows)."""

import pytest

from geoproc_spark import queries as Q
from tests.conftest import SF_DIR, ddb_rows, spark_rows


@pytest.mark.parametrize("name", sorted({**Q.ORACLE_SQL, **Q.EXTRA_ORACLE_SQL}))
def test_query_matches_oracle(spark, ddb, name):
    """Covers BOTH registries: the driver-visible 50 and the driver=False
    extras (redundant-oracle variants parked off the driver's 50-slot
    budget) stay oracle-checked here."""
    all_q = {**Q.SPARK_QUERIES, **Q.EXTRA_SPARK_QUERIES}
    all_o = {**Q.ORACLE_SQL, **Q.EXTRA_ORACLE_SQL}
    df = all_q[name](spark, SF_DIR)
    got = spark_rows(df)
    want = ddb_rows(ddb, all_o[name])
    assert len(got) == len(want), f"{name}: {len(got)} rows vs oracle {len(want)}"
    assert got == want, f"{name}: value mismatch"
    assert len(got) > 0, f"{name}: empty result proves nothing"


@pytest.mark.parametrize("name", sorted(Q.ORACLE_SQL_LAZY))
def test_query_matches_lazy_values_oracle(spark, ddb, name):
    """The lazy VALUES oracles (independent numpy/stdlib twins rendered as
    a literal relation): builders that read fixtures take this suite's
    SF_DIR, so both sides see the same tables."""
    import inspect

    build = Q.ORACLE_SQL_LAZY[name]
    has_sf = "sf_dir" in inspect.signature(build).parameters
    sql = build(sf_dir=SF_DIR) if has_sf else build()
    got = spark_rows({**Q.SPARK_QUERIES, **Q.EXTRA_SPARK_QUERIES}[name](spark, SF_DIR))
    want = ddb_rows(ddb, sql)
    assert len(got) == len(want), f"{name}: {len(got)} rows vs oracle {len(want)}"
    assert got == want, f"{name}: value mismatch"
    assert len(got) > 0, f"{name}: empty result proves nothing"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"feature_id", "n_pages"}
    names = set(e.queries())
    assert set(e.oracle_sql()) <= names
