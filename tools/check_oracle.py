#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.oracleSql against Verify output.

Mimics the driver's t2 gate: for each query, load the Spark-written parquet
(outDir/<name>/) and run the oracle SQL in DuckDB over the same sf tables,
then compare row count, schema (sorted column names) and a hash of the
value matrix with columns sorted by name and rows sorted canonically.

DuckDB runs on duckdb_connect's settings, not on its defaults.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, hashlib, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(val):
    if val is None:
        return "\0NULL"
    if isinstance(val, float):
        # repr keeps full precision; bit-identical doubles -> identical repr
        return repr(val)
    if isinstance(val, bool):
        return str(val)
    return str(val)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for row in mat:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def duckdb_connect(out_dir):
    """A DuckDB connection and the settings it was given: every core this
    process may use, half the physical memory, and <out_dir>/duckdb_tmp as
    the spill directory, so a spill lands in a known place."""
    settings = {
        "threads": len(os.sched_getaffinity(0)),
        "memory_limit": f"{os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') // 2**21}MB",
        "temp_directory": os.path.join(os.path.abspath(out_dir), "duckdb_tmp"),
    }
    con = duckdb.connect()
    for k, v in settings.items():
        con.execute(f"SET {k} = '{v}'")
    return con, settings


def main(sf_dir, out_dir, skip_missing=False):
    con, _ = duckdb_connect(out_dir)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            if skip_missing:
                continue
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_rel = con.execute(
                f"SELECT * FROM read_parquet({files!r})")
            s_cols = [d[0] for d in spark_rel.description]
            s_rows = spark_rel.fetchall()
            duck_rel = con.execute(sql)
            d_cols = [d[0] for d in duck_rel.description]
            d_rows = duck_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL {name}: columns spark={sorted(s_cols)} duck={sorted(d_cols)}")
            n_fail += 1
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL {name}: rows spark={len(s_rows)} duck={len(d_rows)}")
            n_fail += 1
            continue
        hs, hd = frame_hash(s_cols, s_rows), frame_hash(d_cols, d_rows)
        if hs != hd:
            print(f"FAIL {name}: hash mismatch ({len(s_rows)} rows)")
            # show first differing row for debugging
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            ms = sorted(tuple(canon(r[i]) for i in order_s) for r in s_rows)
            md = sorted(tuple(canon(r[i]) for i in order_d) for r in d_rows)
            for a, b in zip(ms, md):
                if a != b:
                    print(f"  spark: {a}\n  duck : {b}")
                    break
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s_rows)} rows)")
            n_pass += 1
    # rows-only queries (no oracle): just report counts
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracle:
            files = glob.glob(f"{d}/*.parquet")
            n = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
            print(f"INFO {name}: rows-only, {n} rows")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], "--skip-missing" in sys.argv[3:]))
