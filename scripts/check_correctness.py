"""Strict local replica of the driver's correctness gate.

Runs each ``queries()`` entry on Spark (sf0.01) and its ``oracle_sql()``
twin on DuckDB over the same parquet, then compares:
  - row count
  - sorted column names
  - Arrow-level value hash: both results are converted to Arrow, columns
    sorted by name, rows sorted, every cell rendered through one
    normalizer, and the stream sha256'd.  A DuckDB ``decimal128`` vs
    Spark ``int64`` representation difference shows up here as a TYPE
    note even when the numeric values agree — exactly the class of bug
    CORRECTNESS_r01 flagged on 10 queries.

Spark results are read with ``toArrow()`` (no pandas hop, so a long
column holding a NULL stays ``int64``), and every query's Spark-side
sha256 is printed, rows-only ones included, so two checkouts can be
compared query by query. The session is ``get_spark()``'s
(``SPARK_GRAFT_CPUS`` or the affinity core count, UTC session time zone).

Usage:  python scripts/check_correctness.py [query ...]
"""

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):
        return hashlib.md5(bytes(v)).hexdigest()
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_rows(rows):
    h = hashlib.sha256()
    for row in sorted(tuple(_norm_cell(c) for c in row) for row in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main(names):
    from gdal_drivers_spark import get_spark

    spark = get_spark("check_correctness")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    targets = names or sorted(qs.keys())
    bad = 0
    for name in targets:
        sdf = qs[name](spark, SF_DIR)
        cols = sorted(sdf.columns)
        spark_tbl = sdf.toArrow().select(cols)
        sh = _hash_rows([[row[c] for c in cols] for row in spark_tbl.to_pylist()])
        tail = f"({spark_tbl.num_rows} rows) spark_sha256={sh}"
        sql = oracles.get(name)
        if sql is None:
            print(f"{name}: rows-only {tail}", flush=True)
            continue
        duck_tbl = con.sql(sql).arrow()
        duck_tbl = duck_tbl.rename_columns([c.lower() for c in duck_tbl.column_names])
        dcols = sorted(duck_tbl.column_names)
        notes = []
        if dcols != [c.lower() for c in cols]:
            # column-set mismatch: report FAIL and move on — indexing
            # duck rows by spark names would KeyError and abort the
            # whole gate (review r02)
            print(f"{name}: FAIL COLS spark={cols} duck={dcols} {tail}")
            bad += 1
            continue
        duck_tbl = duck_tbl.select([c.lower() for c in cols])
        for sc, dc in zip(spark_tbl.schema, duck_tbl.schema):
            if sc.type != dc.type:
                notes.append(f"TYPE {sc.name}: spark={sc.type} duck={dc.type}")
        if spark_tbl.num_rows != duck_tbl.num_rows:
            notes.append(f"ROWS spark={spark_tbl.num_rows} duck={duck_tbl.num_rows}")
        dh = _hash_rows([[row[c.lower()] for c in cols] for row in duck_tbl.to_pylist()])
        if sh != dh:
            notes.append("HASH mismatch")
        status = "OK" if not notes else "FAIL " + "; ".join(notes)
        print(f"{name}: {status} {tail}", flush=True)
        if notes:
            bad += 1
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
