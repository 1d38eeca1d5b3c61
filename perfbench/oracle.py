"""Output checks, run after the harness JVM has exited.

Registered queries are compared with their `SparkEntry.oracleSql` run in
DuckDB over the same generated tables, under the project's comparison rule,
imported from `tools/check.py`: columns sorted by name, same row count,
cells equal in row order under its `cmp_cell`. The monthly loop is checked
against invariants and against DuckDB run over the generated source files.
"""
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check import TABLES, cmp_cell  # noqa: E402


def compare_frames(got, want):
    """None when equal under the rule, else a one-line reason."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in gc:
        g, w = got[c], want[c]
        # an exactly equal column of one non-object dtype passes cmp_cell
        # cell by cell; the loop is for the rest
        if g.dtype == w.dtype and g.dtype != object and g.equals(w):
            continue
        for i in range(len(g)):
            # cells as tools/check.py reads them
            x, y = g.iloc[i], w.iloc[i]
            if not cmp_cell(x, y):
                return f"row {i} col {c}: spark={x!r} oracle={y!r}"
    return None


def connect(data_dir):
    con = duckdb.connect()
    # the harness JVM has exited: the checks have the cores to themselves
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_queries(con, out_dir, outputs, oracle):
    """[(name, reason or None)] for every registered query written."""
    res = []
    for o in outputs:
        q = o["query"]
        if o["error"]:
            res.append((q, f"execution failed: {o['error']}"))
            continue
        sql = oracle.get(q)
        if sql is None:
            res.append((q, "no oracle SQL registered"))
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/outputs/{q}/*.parquet'").df()
            want = con.execute(sql).df()
            res.append((q, compare_frames(got, want)))
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            res.append((q, f"check failed: {e}"))
    return res


TRIPS_SQL = """
  SELECT DISTINCT hvfhs_license_num, dispatching_base_num, request_datetime,
         pickup_datetime, dropoff_datetime, sales_tax, tips, driver_pay
  FROM read_parquet({files})"""


def check_ingest(con, trips, raw):
    """[(name, reason or None)] for the monthly loop's invariants."""
    files = "[" + ",".join(f"'{f}'" for f in trips) + "]"
    con.execute(f"CREATE OR REPLACE TEMP VIEW trips AS {TRIPS_SQL.format(files=files)}")
    keys = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT dispatching_base_num, "
        "request_datetime FROM trips)").fetchone()[0]
    checks = []
    rb = raw["ingest_checks"]["readback"]
    redelivered = [o["rows_appended"] for r in raw["rounds"]
                   for o in r["ops"] if o.get("redelivery")]

    def expect(name, ok, why):
        checks.append((name, None if ok else why))

    expect("ingest.redelivery_appends_nothing", all(r == 0 for r in redelivered),
           f"re-delivered month appended {redelivered} rows")
    expect("ingest.warehouse_rows_eq_distinct_keys",
           rb["warehouse_rows"] == keys == rb["warehouse_keys"],
           f"warehouse {rb['warehouse_rows']} rows, {rb['warehouse_keys']} "
           f"keys; {keys} distinct keys offered")
    expect("ingest.raw_rows_eq_warehouse_rows",
           rb["raw_rows"] == rb["warehouse_rows"],
           f"raw zone {rb['raw_rows']} != warehouse {rb['warehouse_rows']}")
    want = con.execute("""
      SELECT count(*), CAST(sum(CAST(driver_pay AS DECIMAL(18,2))) AS DOUBLE),
             CAST(sum(CAST(tips AS DECIMAL(18,2))) AS DOUBLE)
      FROM trips WHERE year(pickup_datetime) = 2024""").fetchone()
    got = (rb["raw_2024_rows"], rb["raw_2024_driver_pay"], rb["raw_2024_tips"])
    expect("ingest.readback_year_scan", tuple(got) == tuple(want),
           f"spark {got} != duckdb {want}")
    want = [list(r) for r in con.execute("""
      SELECT hvfhs_license_num, count(*),
             CAST(sum(CAST(driver_pay AS DECIMAL(18,2))) AS DOUBLE),
             CAST(sum(CAST(tips AS DECIMAL(18,2))) AS DOUBLE),
             CAST(sum(CAST(sales_tax AS DECIMAL(18,2))) AS DOUBLE),
             CAST(max(dropoff_datetime) AS VARCHAR)
      FROM trips GROUP BY 1 ORDER BY 1""").fetchall()]
    expect("ingest.readback_aggregates", rb["by_license"] == want,
           f"spark {rb['by_license']} != duckdb {want}")
    return checks
