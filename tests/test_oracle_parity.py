"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet, compare row count, column names, and
order-insensitive rounded values.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE

# canonicalization + view setup shared with tools/vanilla_parity.py —
# ONE definition of "same result" (functions/parity.py)
from the_framework_for_clustering_time_series_data_spark.functions.parity import (
    canon as _canon,
    duck_connect as _duck,
)
from the_framework_for_clustering_time_series_data_spark.functions.runstats import release


@pytest.fixture(autouse=True)
def _release_after_case(spark):
    """Release each case's cache and localCheckpoint blocks, so a
    290-query sweep in one session does not carry every earlier case's
    blocks. Module-local on purpose: other modules' module-scoped
    fixtures hold checkpointed frames that must outlive one test."""
    yield
    release(spark)


#: DuckDB result type → comparison family. Anything absent (HUGEINT,
#: DECIMAL, LIST, …) has no Spark counterpart the driver's hasher
#: treats as equal, so it must fail loudly here before the driver sees
#: it (round-1: bare integer sum() → HUGEINT → hash fail on identical
#: values).
_DUCK_FAMILY = {
    "BOOLEAN": "bool",
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts",
}

_SPARK_FAMILY = {
    "boolean": "bool",
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
}


def _assert_dtype_parity(name, spark_dtypes, duck_cols, duck_types):
    spark_fams = {c.lower(): _SPARK_FAMILY.get(t) for c, t in spark_dtypes}
    bad = []
    for c, ty in zip(duck_cols, duck_types):
        duck_fam = _DUCK_FAMILY.get(str(ty))
        spark_fam = spark_fams.get(c.lower())
        if duck_fam is None or spark_fam is None or duck_fam != spark_fam:
            bad.append((c, str(ty), dict(spark_dtypes).get(c, "?")))
    assert not bad, (
        f"{name}: oracle/Spark dtype mismatch (col, duck, spark): {bad} — "
        "the driver hashes raw values, so e.g. a HUGEINT sum() needs "
        "CAST(... AS BIGINT) in the oracle SQL"
    )


def _query_names():
    import __spark_entry__ as entry_mod

    return sorted(entry_mod.queries())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(spark, name):
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()[name]
    sdf = q(spark, SF_ORACLE)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_rows) >= 0  # rows-only: runs and yields a stable schema
        return

    con = _duck(SF_ORACLE)
    rel = con.sql(oracle)
    duck_types = [str(t) for t in rel.types]
    cur = con.execute(oracle)
    duck_cols = [d[0].lower() for d in cur.description]
    duck_rows = cur.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    _assert_dtype_parity(name, sdf.dtypes, duck_cols, duck_types)
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    a = _canon(spark_cols, spark_rows)
    b = _canon(duck_cols, duck_rows)
    mismatches = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mismatches, f"{name}: {len(mismatches)} differing rows; first: {a[mismatches[0]]} vs {b[mismatches[0]]}"


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns
