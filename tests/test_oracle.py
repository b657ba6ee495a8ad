"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet, compare row count + schema + order-insensitive
values (exact for ints/strings, rounded for floats)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, int):
        return int(v)
    return v


def _key(row):
    return tuple(_norm(v) for v in row)


# queries registered without an SQL oracle by design (see their
# docstrings); any other query missing one fails
ROWS_ONLY = {"image_phash", "warp_lanczos"}


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    cols = sorted(sdf.columns)
    spark_rows = sorted(_key([r[c] for c in cols]) for r in sdf.collect())

    sql = entry_mod.oracle_sql().get(name)
    assert (sql is None) == (name in ROWS_ONLY), f"{name}: oracle presence"
    if sql is None:
        assert spark_rows, f"{name}: rows-only query returned no rows"
        return
    con = _duck()
    ddf = con.sql(sql).df()
    ddf.columns = [c.lower() for c in ddf.columns]
    assert sorted(ddf.columns) == [c.lower() for c in cols], (
        f"column mismatch: spark={cols} duck={sorted(ddf.columns)}"
    )
    ddf = ddf[[c.lower() for c in cols]]
    duck_rows = sorted(
        _key([None if (isinstance(v, float) and math.isnan(v)) else v for v in row])
        for row in ddf.itertuples(index=False, name=None)
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(spark_rows, duck_rows) if a != b
    ][:5]
    assert not mismatches, f"{name}: first mismatches {mismatches}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    total_decoded = sum(r["n_decoded"] for r in rows)
    assert total_decoded > 0
