"""Type-audit every ``oracle_sql()`` entry against the driver-hash contract.

Round-3 lesson: five oracle SQLs were value-identical to the Spark side yet
driver-red, because a ``sum(...)`` (or ``//`` on a sum) left a DuckDB HUGEINT
in the *output* columns and the driver's hasher canonicalizes int128
differently from BIGINT. Values matched; hashes didn't.

This audit binds each oracle SQL (DuckDB type-binds a relation without
executing it, so this is cheap) and asserts every output column's type is in
the hash-safe allowlist — in particular **no HUGEINT and no DECIMAL** may
escape to an output column; cast them to BIGINT / DOUBLE inside the SQL.

Usage:  python tools/audit_oracle_types.py [--sf-dir DIR]
Exit 1 with a per-column report if any oracle violates the contract.
Importable: ``audit(sf_dir) -> list[(query, column, type)]`` of violations
(used by tests/test_oracle_types.py so the suite pins this permanently).
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents".split()

# Types the driver's value hasher is known to canonicalize identically to the
# Spark result (CORRECTNESS_r02/r03 evidence). HUGEINT and DECIMAL are the
# proven hazards; anything new should be adjudicated, not silently allowed.
ALLOWED = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "UBIGINT",
    "UINTEGER",
    "USMALLINT",
    "UTINYINT",
    "VARCHAR",
    "DOUBLE",
    "FLOAT",
    "BOOLEAN",
    "DATE",
    "TIMESTAMP",
    "BLOB",
}


def audit(sf_dir: str = "/root/testdata/sf0.001"):
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    violations = []
    for name, sql in entry_mod.oracle_sql().items():
        rel = con.sql(sql)  # binds + types, does not execute
        for col, typ in zip(rel.columns, rel.types):
            base = str(typ).split("(")[0].strip().upper()
            if base not in ALLOWED:
                violations.append((name, col, str(typ)))
    return violations


def main():
    sf_dir = "/root/testdata/sf0.001"
    args = sys.argv[1:]
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        sf_dir = args[i + 1]
    bad = audit(sf_dir)
    if bad:
        print(f"{len(bad)} hash-unsafe oracle output columns:")
        for name, col, typ in bad:
            print(f"  {name:34s} {col:24s} {typ}")
        sys.exit(1)
    import __spark_entry__ as entry_mod

    print(f"all {len(entry_mod.oracle_sql())} oracle SQLs type-clean")


if __name__ == "__main__":
    main()
