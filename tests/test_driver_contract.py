"""Driver-contract invariants that don't need a SparkSession.

The round driver may sample a PREFIX of `queries()` (dict order is
preserved), so the ordering is part of the verification strategy:
never-driver-checked entries first, already-green entries after,
rows-only-by-design entries (no DuckDB oracle possible) last. COVERAGE.md
is the human ledger; this test keeps the machine side honest.
"""

import ast
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_order_unchecked_then_green_then_rows_only():
    mod = _entry_module()
    from data_check_spark.queries import ORACLES

    names = list(mod.queries())
    green = mod._DRIVER_GREEN

    def rank(n: str) -> int:
        if n not in ORACLES:
            return 2
        return 1 if n in green else 0

    ranks = [rank(n) for n in names]
    assert ranks == sorted(ranks), (
        "queries() must order never-driver-checked entries first, "
        "driver-green after, rows-only last"
    )


def test_oracle_sql_keys_subset_of_queries():
    mod = _entry_module()
    qs, osql = mod.queries(), mod.oracle_sql()
    assert (len(qs), len(osql)) == (95, 92)
    assert set(osql) <= set(qs)
    # every oracle-capable entry IS oracle-backed: the only entries without
    # an oracle are the documented by-design set
    rows_only = set(qs) - set(osql)
    assert rows_only == {
        "clips_validate_full",
        "clips_partition_verdicts",
        "clips_rule_summary",
    }


def test_driver_green_names_exist_in_registry():
    mod = _entry_module()
    qs = set(mod.queries())
    missing = sorted(set(mod._DRIVER_GREEN) - qs)
    assert not missing, f"_DRIVER_GREEN entries no longer registered: {missing}"


def test_bench_sweep_names_exist_in_registry():
    """bench.py's secondary sweep and tools/plan_audit.py's AUDITED list look
    queries up by name; a name the registry no longer has would fail them
    mid-run. Parsed, not imported: importing bench.py sets process env for
    its own run."""
    qs = set(_entry_module().queries())
    for rel, var in (("bench.py", "BENCH_QUERIES"), ("tools/plan_audit.py", "AUDITED")):
        tree = ast.parse(open(os.path.join(REPO, rel), encoding="utf-8").read())
        listed = next(
            ast.literal_eval(node.value)
            for node in tree.body
            if isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == var for t in node.targets)
        )
        names = {n if isinstance(n, str) else n[0] for n in listed}
        missing = sorted(names - qs)
        assert not missing, f"{rel} {var} names no registered query: {missing}"
