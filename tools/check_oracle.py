"""Local stand-in for the driver's DuckDB oracle harness.

Runs every ``queries()`` entry at sf0.01 (or --sf-dir) and compares
row-count + sorted-by-column-name values against ``oracle_sql()`` via
DuckDB. Usage:  python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

# This harness retargets literal sf0.01 paths inside oracle SQL to the
# chosen sf_dir (see the .replace below); attest that so path-pinned
# queries (scan_pruning_lineitem) don't refuse non-sf0.01 runs.
os.environ["DATA_CHECK_ORACLE_PATH_TEMPLATED"] = "1"

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    import __spark_entry__ as entry_mod
    from data_check_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        if i + 1 >= len(args):
            sys.exit("usage: check_oracle.py [--sf-dir DIR] [query ...]")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    eq = [a for a in args if a.startswith("--sf-dir=")]
    if eq:
        sf_dir = eq[-1].split("=", 1)[1]
        args = [a for a in args if not a.startswith("--sf-dir=")]
    unknown_flags = [a for a in args if a.startswith("-")]
    if unknown_flags:
        sys.exit(f"unknown flags: {unknown_flags}")
    only = set(args)
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    # Disk guard: a runaway oracle plan (e.g. an uncapped shingle self-join)
    # must fail ITS query, not fill the VM's root disk for everyone.
    con.execute("SET max_temp_directory_size='40GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        sys.exit(f"unknown query names (nothing was checked): {sorted(unknown)}")
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:34s} rows-only  spark={len(srows)}")
            continue
        # A few oracles (parquet_metadata) embed a literal file path because
        # DuckDB's table functions can't read from a view; the driver always
        # runs them verbatim at sf0.01, but THIS harness may run at any
        # scale — retarget the literal so both engines read identical files
        # instead of comparing footers across scales.
        osql = oracles[name].replace("/root/testdata/sf0.01", sf_dir.rstrip("/"))
        cur = con.execute(osql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        sc, sr = norm_rows(scols, [tuple(r) for r in srows])
        oc, orr = norm_rows(ocols, orows)
        status = "OK"
        if sc != oc:
            status = f"SCHEMA MISMATCH spark={sc} oracle={oc}"
        elif len(sr) != len(orr):
            status = f"ROWCOUNT spark={len(sr)} oracle={len(orr)}"
        elif sr != orr:
            diff = next((i, a, b) for i, (a, b) in enumerate(zip(sr, orr)) if a != b)
            status = f"VALUES differ at sorted row {diff[0]}:\n  spark : {diff[1]}\n  oracle: {diff[2]}"
        print(f"{name:34s} {'OK' if status == 'OK' else 'FAIL'}  rows={len(sr)}")
        if status != "OK":
            failures.append((name, status))
            print("   " + status)
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
