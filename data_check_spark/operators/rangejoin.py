"""Range (interval) join — events matched to the intervals containing them.

Spark plans a bare ``l.ts BETWEEN r.start AND r.end`` predicate as a
nested-loop join (O(|L|·|R|) at any scale). This operator buckets time into
fixed-width chunks: each interval explodes into the buckets it overlaps,
each point maps to its single bucket, and the join runs as an equi-join on
(key, bucket) with the exact range predicate re-applied afterwards — a
hash-partitioned plan whose cost is |L| + Σ interval_width/bucket instead
of a cross product. Pick ``bucket`` near the typical interval width so
intervals explode into O(1) buckets each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_key: str,
    interval_key: str,
    ts: str,
    start: str,
    end: str,
    bucket: str = "7 days",
) -> DataFrame:
    """Rows of ``points`` joined to every ``intervals`` row of the same key
    whose [start, end] (inclusive) contains the point's timestamp.

    ``bucket`` is a Spark interval literal (e.g. ``'7 days'``, ``'1 hour'``).
    Output: all point columns + all interval columns (caller aliases any
    collisions beforehand). Inner join only; the bucketed plan cannot
    express outer semantics directly — anti/outer callers wrap it.
    """
    units = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}
    n_str, unit = bucket.split()
    unit_key = unit.lower().rstrip("s")  # case-insensitive, like Spark literals
    if unit_key not in units:
        raise ValueError(f"unsupported bucket unit {unit!r}; use one of {sorted(units)}")
    secs = int(n_str) * units[unit_key]

    def _bucket_of(col):
        return F.floor(F.unix_seconds(F.col(col).cast("timestamp")) / F.lit(secs))

    p = points.withColumn("_pb", _bucket_of(ts))
    i = intervals.withColumn(
        "_ib",
        F.explode(F.sequence(_bucket_of(start), _bucket_of(end))),
    )
    # Side-qualified refs: bare F.col would be AMBIGUOUS_REFERENCE whenever
    # the two tables share a column name (e.g. both keyed 'clip_id').
    cond = (
        (p[point_key] == i[interval_key])
        & (p["_pb"] == i["_ib"])
        & (p[ts].cast("timestamp") >= i[start].cast("timestamp"))
        & (p[ts].cast("timestamp") <= i[end].cast("timestamp"))
    )
    return p.join(i, cond, "inner").drop("_pb", "_ib")
