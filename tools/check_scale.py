#!/usr/bin/env python3
"""Hash-check the incremental family at the 10x corpus (VERDICT r17 #2).

Companion to graft.VerifyScale: loads each Spark-written parquet result
from <verifyScaleOutDir>, replays the same oracle SQL in DuckDB over the
SAME 10x parquet corpus (the dir VerifyScale recorded in scale_dir.txt),
and compares row count / schema / value-matrix hash exactly like the
driver's t2 gate (check_oracle.py's canon/frame_hash, verbatim). Writes
a JSON record suitable for committing as SCALECHECK_r{N}.json.

DuckDB runs on check_oracle.duckdb_connect's settings (every core this
process may use, half the physical memory, spill directory
<verifyScaleOutDir>/duckdb_tmp), recorded under "duckdb".
Each cell records its oracle time (failing cells too) and the process's
peak RSS after it, so the cell whose oracle spilled or grew the heap
shows under its own name.

Usage: python3 tools/check_scale.py <verifyScaleOutDir> [out.json]
"""
import sys, json, glob, os, resource, time

# The ONE canonicalization/hash implementation: a fix to the t2 gate's
# canon/frame_hash must reach this gate too, or the two hash checks
# disagree on identical frames.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import TABLES, duckdb_connect, frame_hash  # noqa: E402


def main(out_dir, out_json=None):
    scale_dir = open(f"{out_dir}/scale_dir.txt").read().strip()
    con, settings = duckdb_connect(out_dir)
    for t in TABLES:
        p = os.path.join(scale_dir, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    record = {"scale_dir": scale_dir, "copies": 10, "duckdb": settings, "cells": {}}
    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        cell = {}
        if not files:
            cell["status"] = "no_spark_output"
            n_fail += 1
        else:
            t0 = t1 = None
            try:
                # Each frame is counted and hashed as soon as it is
                # fetched and its rows freed, so at most one frame's rows
                # are held at a time: the Spark frame's rows are gone
                # before the DuckDB oracle runs.
                spark_rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
                s_cols = [d[0] for d in spark_rel.description]
                s_rows = spark_rel.fetchall()
                s_n, s_hash = len(s_rows), frame_hash(s_cols, s_rows)
                del s_rows
                t0 = time.monotonic()
                duck_rel = con.execute(sql)
                d_cols = [d[0] for d in duck_rel.description]
                d_rows = duck_rel.fetchall()
                t1 = time.monotonic()
                d_n, d_hash = len(d_rows), frame_hash(d_cols, d_rows)
                del d_rows
            except Exception as e:
                cell["status"] = f"err: {str(e)[:160]}"
            if t0 is not None:
                cell["oracle_sec"] = round((t1 or time.monotonic()) - t0, 2)
            cell["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
            if "status" not in cell:
                cell["rows"] = s_n
                if sorted(s_cols) != sorted(d_cols):
                    cell["status"] = "schema_mismatch"
                elif s_n != d_n:
                    cell["status"] = f"rowcount_mismatch ({s_n} vs {d_n})"
                elif s_hash != d_hash:
                    cell["status"] = "hash_mismatch"
                else:
                    cell["status"] = "pass"
            if cell["status"] == "pass":
                n_pass += 1
            else:
                n_fail += 1
        record["cells"][name] = cell
        print(f"{'PASS' if cell['status'] == 'pass' else 'FAIL'} {name} "
              f"({cell.get('rows', '?')} rows, "
              f"oracle {cell.get('oracle_sec', '?')}s, "
              f"peak RSS {cell.get('peak_rss_mb', '?')} MB)"
              + ("" if cell["status"] == "pass" else f": {cell['status']}"))
    record["pass"] = n_pass
    record["fail"] = n_fail
    print(f"{n_pass} pass, {n_fail} fail")
    if out_json:
        json.dump(record, open(out_json, "w"), indent=1)
        print(f"wrote {out_json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else None))
