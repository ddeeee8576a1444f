"""Stateful streaming uniqueness — cross-micro-batch duplicate detection.

The stateless streaming pass (incremental.py) evaluates row-local rules
only; a duplicate key whose occurrences straddle micro-batches was by
design deferred to the nightly batch reconciliation. This module closes
that window with ``applyInPandasWithState``: per-key state (seen count +
the first occurrence's locator) lives in the streaming state store, so the
SECOND occurrence — whenever it arrives — emits violation rows for both
itself and the retroactive first, matching the batch rule's "every row of
a duplicated key violates" semantics for rows inside the state lifetime.

Scale design: state is keyed by clip_id and holds three scalars per key —
the state store shuffles/persists keys, never payloads. An optional
processing-time TTL bounds state size for unbounded key spaces (expired
keys fall back to the nightly batch reconciliation, which remains the
source of truth).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from data_check_spark.functions.blank import is_present

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType()),
        T.StructField("clip_id", T.StringType()),
        T.StructField("partition", T.StringType()),
        T.StructField("observed", T.StringType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("count", T.LongType()),
        T.StructField("first_partition", T.StringType()),
    ]
)


def streaming_duplicate_violations(
    stream: DataFrame, *, ttl_minutes: int | None = None
) -> DataFrame:
    """``STREAM_DUP`` violations for ``clip_id`` values duplicated ACROSS
    micro-batches (blank-exempt).

    Emits one row per duplicate occurrence; when the second occurrence of a
    key arrives, the (previously silent) first occurrence is emitted
    retroactively, so totals match the batch ``unique`` rule for keys whose
    occurrences fall within the state TTL. ``observed`` is the occurrence
    ordinal ``occurrence=<k>`` (the retroactive first is 1), so a key seen
    n times emits exactly ``occurrence=1..n`` however the micro-batches
    split its arrivals."""

    def dedup(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        (k,) = key
        prev, first_part = state.get if state.exists else (0, None)
        emit: list[object] = []
        ordinals: list[int] = []
        for pdf in pdfs:
            parts = list(
                pdf["partition"].astype(object).where(pd.notna(pdf["partition"]), None)
            )
            if not parts:
                continue
            total = prev + len(parts)
            if total >= 2:
                if prev == 1:
                    emit.append(first_part)  # retroactive first occurrence
                    ordinals.append(1)
                emit.extend(parts)  # prev==0 case includes the in-batch first
                ordinals.extend(range(prev + 1, total + 1))
            else:
                first_part = parts[0]
            prev = total
        state.update((prev, first_part))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60_000)
        if emit:
            yield pd.DataFrame(
                {
                    "rule_id": "STREAM_DUP",
                    "clip_id": k,
                    "partition": pd.Series(emit, dtype=object),
                    "observed": [f"occurrence={n}" for n in ordinals],
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.filter(is_present("clip_id"))
        .groupBy(F.col("clip_id"))
        .applyInPandasWithState(dedup, VIOLATION_SCHEMA, _STATE_SCHEMA, "append", timeout)
    )


def start_stateful_dedup(
    spark,
    input_dir: str,
    output_dir: str,
    *,
    checkpoint_dir: str,
    ttl_minutes: int | None = None,
    trigger_once: bool = False,
    max_files_per_trigger: int = 16,
):
    """File-source stream → stateful dedup → parquet sink. State survives
    restarts through the streaming checkpoint, so ``availableNow`` catch-up
    runs still see duplicates against everything processed before."""
    from data_check_spark.streaming.incremental import stream_clips

    stream = stream_clips(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )
    viol = streaming_duplicate_violations(stream, ttl_minutes=ttl_minutes)
    writer = (
        viol.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
