"""Output checks, run after the timed region.

Cells: each cell's Spark output (parquet written once, untimed) against its
DuckDB oracle (`SparkEntry.oracleSql`) over the same input tables, by row
count, sorted column names and the canonical value hash of
tools/check_oracle.py.

Medallion: bronze and silver row counts against the source, S8 uniqueness
of every keyed gold table, and a value hash of every gold table against the
DuckDB replay of the star build below.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, frame_hash  # noqa: E402


def _connect(tables_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _parquet(con, path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise ValueError(f"no parquet under {path}")
    rel = con.execute(f"SELECT * FROM read_parquet({files!r}, hive_partitioning = true)")
    return [d[0] for d in rel.description], rel.fetchall()


def _compare(con, spark_path, sql):
    """None when the Spark output matches the oracle, else why not."""
    s_cols, s_rows = _parquet(con, spark_path)
    rel = con.execute(sql)
    d_cols, d_rows = [d[0] for d in rel.description], rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns spark={sorted(s_cols)} oracle={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rows spark={len(s_rows)} oracle={len(d_rows)}"
    if frame_hash(s_cols, s_rows) != frame_hash(d_cols, d_rows):
        return f"value hash mismatch ({len(s_rows)} rows)"
    return None


def check_cells(tables_dir, check_dir, cells, spark_errors):
    """Maps each failing cell to its reason; passing cells are absent."""
    con = _connect(tables_dir)
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    failures = dict(spark_errors)
    for name in cells:
        if name in failures:
            continue
        if name not in oracle:
            failures[name] = "no oracle SQL"
            continue
        try:
            why = _compare(con, os.path.join(check_dir, name), oracle[name])
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            failures[name] = why
    return failures


_DATES = """SELECT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key, full_date,
  CAST(year(full_date) AS INT) AS year, CAST(quarter(full_date) AS INT) AS quarter,
  CAST(month(full_date) AS INT) AS month, monthname(full_date) AS month_name,
  CAST(day(full_date) AS INT) AS day_of_month, dayname(full_date) AS day_name,
  CAST(weekofyear(full_date) AS INT) AS week_of_year,
  CAST(dayofweek(full_date) AS INT) AS day_of_week,
  dayofweek(full_date) IN (0, 6) AS is_weekend
FROM (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1998-12-31',
  INTERVAL 1 DAY)) AS DATE) AS full_date)"""

_SEGMENT = """SELECT c_mktsegment,
  CAST(row_number() OVER (ORDER BY c_mktsegment) AS INT) AS segment_key
FROM (SELECT DISTINCT c_mktsegment FROM customer)"""

_BRAND = """SELECT p_brand, CAST(row_number() OVER (ORDER BY p_brand) AS INT) AS brand_key
FROM (SELECT DISTINCT p_brand FROM part)"""

# The star build of graft.pipeline.Silver + Gold, replayed in DuckDB over
# the source tables (bronze is a typed copy of them).
GOLD_REPLAY = {
    "dim_segment": _SEGMENT,
    "dim_brand": _BRAND,
    "dim_dates": _DATES,
    "fact_orders": f"""WITH dim_segment AS ({_SEGMENT}),
dim_dates AS ({_DATES}),
silver_orders AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
    CASE WHEN o_orderstatus = 'O' THEN 'Open' WHEN o_orderstatus = 'F' THEN 'Finished'
         WHEN o_orderstatus = 'P' THEN 'Pending' ELSE 'Unknown' END AS status_desc,
    CASE WHEN CAST(o_orderdate AS DATE) IS NULL OR CAST(o_orderdate AS DATE) > DATE '1998-08-01'
         THEN DATE '1998-08-01' ELSE CAST(o_orderdate AS DATE) END AS order_date
  FROM orders)
SELECT o.o_orderkey, COALESCE(ds.segment_key, 0) AS segment_key,
  COALESCE(dd.date_key, 0) AS order_date_key, o.o_totalprice AS total_price,
  o.status_desc AS order_status
FROM silver_orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN dim_segment ds ON c.c_mktsegment = ds.c_mktsegment
LEFT JOIN dim_dates dd ON o.order_date = dd.full_date""",
    "bridge_order_brand": f"""WITH dim_brand AS ({_BRAND})
SELECT DISTINCT l.l_orderkey AS o_orderkey, d.brand_key
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
JOIN dim_brand d ON p.p_brand = d.p_brand""",
}

GOLD_KEYS = {
    "dim_segment": ["segment_key"], "dim_brand": ["brand_key"],
    "dim_dates": ["date_key"], "fact_orders": ["o_orderkey"],
    "bridge_order_brand": ["o_orderkey", "brand_key"],
    "opportunity_rank": ["opportunity_rank"],
}
SILVER = ["orders", "lineitem", "part", "customer"]


def check_medallion(src_dir, build_dir, rank_sql):
    """Maps each medallion layer with a failed check to its reasons."""
    con = _connect(src_dir)
    failures = {}

    def fail(layer, why):
        failures.setdefault(layer, []).append(why)

    def count(path):
        return len(_parquet(con, path)[1])

    for layer, names in (("bronze", TABLES), ("silver", SILVER)):
        for t in names:
            try:
                got = count(os.path.join(build_dir, layer, t))
                want = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                if got != want:
                    fail(layer, f"{t}: {got} rows, source has {want}")
            except Exception as e:  # noqa: BLE001
                fail(layer, f"{t}: {type(e).__name__}: {e}"[:300])
    replay = dict(GOLD_REPLAY, opportunity_rank=rank_sql)
    for t, sql in replay.items():
        layer = "rank" if t == "opportunity_rank" else "gold"
        path = os.path.join(build_dir, "gold", t)
        try:
            why = _compare(con, path, sql)
            if why:
                fail(layer, f"{t}: {why}")
            cols, rows = _parquet(con, path)
            idx = [cols.index(k) for k in GOLD_KEYS[t]]
            if len({tuple(r[i] for i in idx) for r in rows}) != len(rows):
                fail(layer, f"{t}: S8 uniqueness violated on {GOLD_KEYS[t]}")
        except Exception as e:  # noqa: BLE001
            fail(layer, f"{t}: {type(e).__name__}: {e}"[:300])
    return failures
