#!/usr/bin/env python
"""Replicate the grading driver: run every __spark_entry__.queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf parquet,
compare row count, column-name-sorted values, and Arrow types.

Exit code 0 only if every query passes.
"""

from __future__ import annotations

import json
import pathlib
import sys

import duckdb
import pyarrow as pa

# Verify the checkout this script lives in (sys.path[0] is scripts/).
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402
from crystal_html5_spark.sparkjob.queries import TABLES  # noqa: E402
from crystal_html5_spark.sparkjob.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def canon(tbl: pa.Table) -> list[tuple]:
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    rows = []
    for row in zip(*(tbl.column(c).to_pylist() for c in cols)):
        rows.append(tuple(_norm(v) for v in row))
    rows.sort(key=repr)
    return rows


def _norm(v):
    import datetime as dt
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def main() -> None:
    spark = get_spark("verify", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{SF}/{t}.parquet')")

    # entry() smoke check
    n_entry = E.entry(spark).count()
    print(f"entry(): {n_entry} rows", flush=True)
    assert n_entry >= 0

    queries = E.queries()
    oracles = E.oracle_sql()
    results = {}
    fails = []
    for name, fn in queries.items():
        try:
            sdf = fn(spark, SF)
            arrow = sdf.toArrow()
            ora = con.execute(oracles[name]).arrow()
            rows_ok = arrow.num_rows == ora.num_rows
            schema_ok = (sorted(arrow.column_names)
                         == sorted(ora.column_names))
            vals_ok = canon(arrow) == canon(ora)
            ok = rows_ok and schema_ok and vals_ok
            results[name] = {
                "rows": arrow.num_rows, "oracle_rows": ora.num_rows,
                "rows_match": rows_ok, "schema_match": schema_ok,
                "hash_match": vals_ok}
        except Exception as e:  # noqa: BLE001
            ok = False
            results[name] = {"err": f"{type(e).__name__}: {e}"[:300]}
        if not ok:
            fails.append(name)
        print(f"{'PASS' if ok else 'FAIL'} {name} {results[name]}",
              flush=True)
    spark.stop()
    print(json.dumps({"total": len(queries), "fails": fails}))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
