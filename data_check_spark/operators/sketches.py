"""Heavy-hitter keys: exact counts of every key above a share threshold,
found through a bounded Misra–Gries candidate sketch instead of a shuffle
of the full distinct-key set (same shuffle-only-sketches design as the
t-digest drift operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def heavy_hitters(
    df: DataFrame,
    key: str,
    *,
    threshold_ppm: int = 10_000,
    budget: int = 4096,
) -> DataFrame:
    """EXACT counts of every key above ``threshold_ppm`` parts-per-million
    of table rows — without ever shuffling the full distinct-key set.

    ``key_skew_report`` (operators/profile.py) aggregates all keys: the
    right tool while distinct keys fit a shuffle. This is the
    beyond-billions path. Two bounded passes:

    1. **Candidates** — one ``mapInPandas`` pass runs a Misra–Gries summary
       of size ``budget`` per partition (vectorized per Arrow batch:
       value_counts merge, then one decrement-and-drop when the summary
       overflows). MG guarantees any key with partition share > 1/budget
       survives its partition's summary, and a key with GLOBAL share s has
       share ≥ s in at least one partition (pigeonhole) — so with
       ``budget > 10^6 / threshold_ppm`` (enforced with 2× margin) the
       candidate union is a SUPERSET of every true heavy hitter. Output is
       ≤ budget keys per partition, not per-key rows.
    2. **Exact recount** — one aggregation of the raw table semi-joined
       (broadcast) to the candidate set: only candidate keys shuffle. The
       threshold filter then runs on exact integer counts, so false
       candidates drop out and the result is exactly "keys with
       n_rows · 10^6 ≥ threshold_ppm · total" — deterministic and
       oracle-checkable despite the sketch in the middle.

    NULL keys are excluded from the report (a null-heavy column is a
    null-count finding, not a hot shuffle key); they still count in
    ``total``, which is all rows scanned. Output: ``(key, n_rows,
    share_ppm, rank)`` with integer floored ppm, heaviest first.
    """
    if budget * threshold_ppm < 2_000_000:
        raise ValueError(
            f"budget {budget} too small for threshold {threshold_ppm}ppm: "
            f"need > 2e6/threshold_ppm = {int(2_000_000 / threshold_ppm)} "
            "for the superset guarantee (2x margin)"
        )
    import pandas as pd

    from pyspark.sql.window import Window

    narrow = df.select(F.col(key).cast("string").alias("_k"))

    def mg(batches):
        counters: dict[str, int] = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            for k, c in pdf["_k"].value_counts(dropna=True).items():
                counters[k] = counters.get(k, 0) + int(c)
            if len(counters) > budget:
                # Standard MG merge-shrink: subtract the (budget+1)-th
                # largest count from everything, drop the non-positive —
                # keeps ≤ budget keys, undercounts by ≤ n_p/budget total.
                cut = sorted(counters.values(), reverse=True)[budget]
                counters = {k: c - cut for k, c in counters.items() if c > cut}
        out = pd.DataFrame(
            {"kind": ["t"], "k": [None], "cnt": [n_rows]}
        )
        if counters:
            cand = pd.DataFrame(
                {"kind": "c", "k": list(counters), "cnt": list(counters.values())}
            )
            out = pd.concat([out, cand], ignore_index=True)
        yield out

    # Two consumers (total, candidate set) of one tiny frame (≤ budget+1
    # rows per partition): materialize so the python pass runs once.
    sketch = narrow.mapInPandas(mg, "kind string, k string, cnt long").localCheckpoint()
    total = sketch.filter(F.col("kind") == "t").agg(
        F.sum("cnt").alias("_total")
    )
    cands = sketch.filter(F.col("kind") == "c").select("k").distinct()

    counts = (
        df.filter(F.col(key).isNotNull())
        .join(F.broadcast(cands), F.col(key).cast("string") == F.col("k"), "left_semi")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = Window.orderBy(F.desc("n_rows"), F.asc(key))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_rows") * 1_000_000 >= F.col("_total") * threshold_ppm)
        .select(
            key,
            "n_rows",
            F.expr("n_rows * 1000000L div _total").alias("share_ppm"),
        )
        .withColumn("rank", F.row_number().over(w))
    )
