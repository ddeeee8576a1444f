"""As-of (time-travel) join — latest right-side row at or before each left
timestamp, per key.

The reference has no temporal joins at all (SURVEY.md §2.5); training-data
pipelines need them constantly (attach the latest label/metadata snapshot to
each event). Implemented WITHOUT a range self-join: both sides union into
one (key, ts, src) stream, and a single per-key window carries the most
recent right-side payload forward (``last(..., ignorenulls=True)`` over rows
unbounded-preceding). One shuffle on the key, sort within partitions —
the same cost profile as any windowed aggregation, no candidate-pair
explosion at any time-density. DuckDB's native ASOF JOIN is the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    values: list[str],
) -> DataFrame:
    """Left rows + the ``values`` columns of the as-of matching right row:
    the latest right row with ``right_ts <= left_ts`` (inclusive).
    Unmatched left rows keep NULL values (left-join semantics). If several
    right rows share (key, ts), the LAST one in window order wins — dedup
    the right side first when determinism per (key, ts) matters.
    """
    lcols = left.columns
    clash = set(values) & set(lcols)
    if clash:
        raise ValueError(
            f"values {sorted(clash)} collide with left columns — alias them "
            "on the right side first (the output would carry duplicate names)"
        )
    # The right payload travels as ONE struct: the carry-forward then always
    # reflects a single matched right ROW — a NULL field inside the matched
    # row stays NULL instead of being backfilled per-column from an older
    # row (which could also stitch fields of different rows together).
    rv_struct = F.struct(*[F.col(v).alias(v) for v in values])
    rv_type = "struct<" + ", ".join(
        f"{v}: {right.schema[v].dataType.simpleString()}" for v in values
    ) + ">"
    l = left.select(
        F.col(left_key).alias("_key"),
        F.col(left_ts).cast("timestamp").alias("_ts"),
        F.lit(1).alias("_src"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(rv_type).alias("_rv"),
    )
    # Right rows with a NULL timestamp or NULL key can never match under
    # equality-join semantics (the window's partitionBy would otherwise
    # group NULL keys TOGETHER and hand NULL-key left rows a payload that a
    # SQL ASOF JOIN — the oracle — would never produce) — drop both so they
    # can't seed the carry. NULL-key left rows then keep NULL values.
    r = right.filter(
        F.col(right_ts).isNotNull() & F.col(right_key).isNotNull()
    ).select(
        F.col(right_key).alias("_key"),
        F.col(right_ts).cast("timestamp").alias("_ts"),
        F.lit(0).alias("_src"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        rv_struct.alias("_rv"),
    )
    u = l.unionByName(r)
    # Right rows sort before left rows at equal ts (src 0 < 1), making the
    # boundary inclusive. NULL left timestamps sort FIRST so they precede
    # every right row and keep a NULL carry (a left row with no timestamp
    # matches nothing).
    w = (
        Window.partitionBy("_key")
        .orderBy(F.col("_ts").asc_nulls_first(), F.col("_src").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "_src",
        *[F.col(c) for c in lcols],
        F.last("_rv", ignorenulls=True).over(w).alias("_rv"),
    )
    return filled.filter(F.col("_src") == 1).select(
        *lcols, *[F.col(f"_rv.{v}").alias(v) for v in values]
    )
