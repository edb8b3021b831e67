"""Replicates the driver's correctness gate: run every queries() entry
at sf0.01 AND its oracle_sql() in DuckDB on the same parquet tables;
compare row count, column names, and order-insensitive values."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.01"
TABLES = ("documents",)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return c


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 5)
    return v


def _rows_to_multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in order) for r in rows]
    # sort by repr so None/mixed-type columns stay comparable
    return sorted(normed, key=lambda t: tuple(repr(x) for x in t))


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_has_query():
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, name):
    sdf = QUERIES[name](spark, SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), (len(spark_rows), len(duck_rows))
    a = _rows_to_multiset(spark_rows, spark_cols)
    b = _rows_to_multiset(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert a == b, (name, mismatches[:5])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert abs(sum(r["pct"] for r in rows) - 100.0) < 0.01
