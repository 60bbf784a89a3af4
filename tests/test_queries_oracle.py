"""Replicates the driver's correctness gate locally: every queries() entry
with an oracle_sql() runs on Spark AND DuckDB at sf0.001; row counts, column
names and (order-insensitive) values must match.
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

# a query's deferred caches and the pagerank rounds' local checkpoints are
# released after each test
pytestmark = pytest.mark.usefixtures("release_queries", "checkpoints")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'"
        )
    yield con
    con.close()


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return bool(v)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_normalize(row[i]) for i in order) for row in rows
    )


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())
ROWS_ONLY_KEYS = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


def _check_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    got = _rowset(spark_cols, spark_rows)
    want = _rowset(duck_cols, duck_rows)
    assert got == want, f"{name}: value mismatch\nspark={got[:5]}\nduck={want[:5]}"


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    _check_oracle(spark, duck, name)


@pytest.mark.parametrize("name", ["download_manifest", "downloads_by_year"])
def test_download_queries_compile(spark, duck, name):
    """With ``spark.sql.codegen.fallback=false`` a whole-stage codegen
    compile failure raises instead of silently running the stage
    interpreted: both queries once filtered on the url parse below their
    dedup and outgrew the 64 KB method limit."""
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        _check_oracle(spark, duck, name)
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


@pytest.mark.parametrize("name", ROWS_ONLY_KEYS)
def test_rows_only_queries_run(spark, name):
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0, f"{name}: expected non-empty result"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["host", "category", "year", "is_document", "cnt"]
