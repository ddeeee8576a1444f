"""Sequence packing for LLM pretraining: assign documents to fixed
token-budget packs by global offset, without a global window.

GPT-style pretraining concatenates the corpus in a deterministic order and
slices it into fixed-length sequences; a document "belongs" to the pack its
first token lands in, and may span the pack boundary. Computing that
assignment needs the global running token offset of every document — the
naive ``Window.orderBy(doc_id)`` puts the whole corpus in ONE partition
(Spark warns, then single-tasks it), which is exactly the bottleneck this
operator avoids.

Shape (distributed prefix sum):

1. Tokenize ONCE into a narrow ``(doc_id, n_tokens)`` frame, range-partition
   it by ``doc_id`` (near-equal rows per partition, no skew by construction)
   and ``localCheckpoint`` — the raw text is never read twice.
2. Per-partition token totals (one tiny agg: #partitions rows) come to the
   driver, which turns them into cumulative start offsets per partition —
   an O(#partitions) driver step, the standard exclusive-scan trick.
3. Within each range partition a ``Window.partitionBy(partition_id)``
   running sum adds the local prefix; local + broadcast offset = the exact
   global token offset ``before`` each document. All windows run in
   parallel, one per range partition.

``pack_id = before div budget`` and ``pack_offset = before % budget`` are
then pure integer projections, so the whole assignment is deterministic
and oracle-checkable against a single-window SQL formulation.

The reference has no packing (its per-row loop is validation-only,
dekispart.py:1141); this is part of the training-data pipeline surface the
graft adds on top (SURVEY.md §2-beyond).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_check_spark.operators.text import _tokens


def pack_assignments(
    df: DataFrame,
    *,
    budget: int,
) -> DataFrame:
    """Per-document pack assignment under a fixed token ``budget``.

    Documents are laid out in ascending ``doc_id`` order (ties impossible:
    it is an id); each occupies ``n_tokens`` whitespace tokens of ``text``.
    Output, one row per input row:

    - ``n_tokens``       — token length (0 for blank/NULL text)
    - ``pack_id``        — 0-based pack whose window contains token offset
      ``before`` (empty docs attach to the pack at their offset)
    - ``pack_offset``    — offset of the first token within that pack
    - ``spans_boundary`` — 1 if the document's tokens cross into the next
      pack(s), else 0

    Scale: the only shuffles are the range split of the narrow
    ``(id, n_tokens)`` pairs and one hash exchange of the same narrow frame
    for the per-partition windows; the driver step is O(#partitions).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = df.sparkSession
    nparts = spark.sparkContext.defaultParallelism

    n_tok = F.coalesce(F.size(_tokens("text")), F.lit(0))
    # size() of a NULL array is NULL under ANSI; -1 under legacy. Either
    # way coalesce+greatest pins NULL/blank text to 0 tokens.
    n_tok = F.greatest(n_tok, F.lit(0))

    narrow = (
        df.select(F.col("doc_id"), n_tok.cast("long").alias("n_tokens"))
        .repartitionByRange(nparts, F.col("doc_id"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # tokenize once; pin _pid for both consumers
    )

    totals = (
        narrow.groupBy("_pid").agg(F.sum("n_tokens").alias("_t")).orderBy("_pid").collect()
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r._pid, acc))
        acc += int(r._t or 0)
    off_df = spark.createDataFrame(offsets, "_pid int, _offset long")

    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.col("_offset") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        narrow.join(F.broadcast(off_df), "_pid")
        .withColumn("_before", before)
        .select(
            F.col("doc_id"),
            F.col("n_tokens"),
            F.expr(f"_before div {budget}").alias("pack_id"),
            (F.col("_before") % budget).alias("pack_offset"),
            F.when(
                (F.col("n_tokens") > 0)
                & (
                    F.expr(f"(_before + n_tokens - 1) div {budget}")
                    > F.expr(f"_before div {budget}")
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("spans_boundary"),
        )
    )


def pack_stats(assignments: DataFrame, *, budget: int) -> DataFrame:
    """Per-pack fill summary over :func:`pack_assignments` output.

    ``n_tokens_started`` counts tokens of documents *starting* in the pack
    (the concatenation view: a pack's occupancy is exactly ``budget`` except
    the last), ``n_spanning`` how many of them run past the boundary.
    """
    return (
        assignments.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_started"),
            F.sum("spans_boundary").alias("n_spanning"),
        )
        .withColumn(
            "fill_bp",
            F.expr(f"least(n_tokens_started, {budget}) * 10000L div {budget}"),
        )
    )
