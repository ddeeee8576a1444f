"""Snapshot diff: what changed between two versions of a table.

The ops counterpart of the drift family: drift asks "did the
*distribution* move", this asks "which *rows* moved" — the daily
"yesterday's ingest vs today's" audit (CDC-lite) that a validation
pipeline runs before re-certifying a 10^12-row table. The reference has
no analog (its runs are one-shot, dekispart.py:1141); this is part of the
operational surface the graft adds.

Plan shape at 100 TB:
- Each side is reduced MAP-SIDE to ``(key…, fingerprint)`` — a collision-
  proof md5-of-md5s over the compared columns — before the join, so the
  key-keyed exchange carries two strings per row, never payloads.
- The classification is one full-outer join on the key columns
  (sort-merge at scale, AQE-broadcast if one snapshot is tiny; NULL-safe
  ``<=>`` keys are still hash/sort-merge joinable) and a four-way CASE;
  unchanged rows are dropped immediately, so the result is proportional
  to the churn, not the table.
- The fingerprint hashes EACH column separately and then hashes the
  fixed-width hex concatenation (NULL → the 1-char token ``N``, which is
  not a hex digit). That makes it injective over the column tuple — no
  separator-in-value or NULL-sentinel-in-value collisions — and it is
  engine-neutral (md5/coalesce evaluate identically in DuckDB, so the
  whole diff is oracle-checkable).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# NULL marker for a single column inside the fingerprint. Every non-NULL
# value contributes exactly 32 lowercase-hex chars (its md5); 'N' is not a
# hex digit, so the concatenation parses unambiguously left-to-right and
# no real value can collide with it.
_NULL_TOKEN = "N"


def row_fingerprint(cols: list[str]) -> Column:
    """Collision-proof md5 over the compared columns.

    Each column is hashed on its own (md5 of the UTF-8 string form; NULL
    stays NULL through md5 and coalesces to ``N``), then the fixed-width
    hex parts are concatenated and hashed once more. Distinct column
    tuples can never concatenate to the same string, unlike separator
    joins where a value containing the separator (or equal to a NULL
    sentinel) silently collides.
    """
    parts = [
        F.coalesce(F.md5(F.encode(F.col(c).cast("string"), "UTF-8")), F.lit(_NULL_TOKEN))
        for c in cols
    ]
    return F.md5(F.encode(F.concat(*parts), "UTF-8"))


def _assert_unique_keys(df: DataFrame, key_cols: list[str], side: str) -> None:
    dup = (
        df.select(*key_cols)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key = {k: dup[0][k] for k in key_cols}
        raise ValueError(
            f"snapshot_diff: duplicate key in {side} snapshot: {key} "
            "(keys must be unique per snapshot)"
        )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Per-key change classification between two snapshots.

    Returns one row per key that is NOT identical in both snapshots:
    ``(key…, change_type)`` with ``change_type`` ∈ {'added', 'removed',
    'changed'}. Keys must be unique per snapshot (it's a key) — violated
    uniqueness is detected up front (one column-pruned count per side).
    NULL key values are matched NULL-safely
    (``<=>``), so an identical row with a NULL key is *unchanged*, not
    'removed'+'added'. Compared columns are explicit so a caller adding an
    audit column doesn't silently flip every row to 'changed'.
    """
    if not key_cols or not compare_cols:
        raise ValueError("key_cols and compare_cols must be non-empty")
    overlap = set(key_cols) & set(compare_cols)
    if overlap:
        raise ValueError(f"key and compare columns overlap: {sorted(overlap)}")
    _assert_unique_keys(old, key_cols, "old")
    _assert_unique_keys(new, key_cols, "new")
    o = old.select(*key_cols, row_fingerprint(compare_cols).alias("_fp_old"))
    n = new.select(
        *[F.col(k).alias(f"_new_{k}") for k in key_cols],
        row_fingerprint(compare_cols).alias("_fp_new"),
    )
    cond = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"_new_{k}")) for k in key_cols],
    )
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[F.coalesce(F.col(k), F.col(f"_new_{k}")).alias(k) for k in key_cols],
            "change_type",
        )
    )


def summary_regression(
    old_summary: DataFrame,
    new_summary: DataFrame,
    *,
    threshold_bp: int = 2500,
) -> DataFrame:
    """Per-rule violation-count regression between two runs.

    Both inputs are summary frames ``(rule_id, n)`` — the engine's
    ``summary()`` shape, or any per-key count. Emits rules whose count
    moved by more than ``threshold_bp`` basis points relative to the old
    count (integer arithmetic — cross-engine exact), plus rules that
    appeared ('new_rule') or disappeared ('gone'). Rule ids must be unique
    per summary — duplicates would fan out the join and double-count, so
    they raise up front (tiny frames, the check is one cheap count). The
    frames are #rules-sized, so the full-outer join is trivially broadcast;
    this is the "did today's run look like yesterday's" gate that catches a
    rule suddenly firing 100x — or silently going dark — before anyone ships
    the certified table.

    delta_bp is signed: ``(new - old) * 10000 div greatest(old, 1)`` —
    truncating integer division (Spark ``div`` ≡ DuckDB ``//``, both
    toward zero, so negative deltas agree cross-engine); the
    ``greatest(old, 1)`` floor means a rule PRESENT with count 0 that
    starts firing still reports (a 0 -> 50k explosion is exactly what
    this gate exists for; plain division would NULL out and silently drop
    it). delta_bp is NULL for new_rule/gone rows.
    """
    _assert_unique_keys(old_summary.select("rule_id"), ["rule_id"], "old summary")
    _assert_unique_keys(new_summary.select("rule_id"), ["rule_id"], "new summary")
    o = old_summary.select(
        F.col("rule_id").alias("_r"), F.col("n").cast("long").alias("_n_old")
    )
    n = new_summary.select(
        F.col("rule_id").alias("_rn"), F.col("n").cast("long").alias("_n_new")
    )
    joined = o.join(n, F.col("_r") == F.col("_rn"), "full_outer")
    delta_bp = F.expr(
        "((coalesce(_n_new, 0) - coalesce(_n_old, 0)) * 10000)"
        " div greatest(coalesce(_n_old, 0), 1)"
    ).cast("long")
    status = (
        F.when(F.col("_r").isNull(), F.lit("new_rule"))
        .when(F.col("_rn").isNull(), F.lit("gone"))
        .when(F.abs(delta_bp) > threshold_bp, F.lit("moved"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            F.coalesce(F.col("_r"), F.col("_rn")).alias("rule_id"),
            F.col("_n_old").alias("n_old"),
            F.col("_n_new").alias("n_new"),
            F.when(
                F.col("_r").isNotNull() & F.col("_rn").isNotNull(), delta_bp
            ).alias("delta_bp"),
            "status",
        )
    )
