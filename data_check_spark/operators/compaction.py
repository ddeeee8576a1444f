"""Storage-layout ops: small-files compaction planning.

At 100 TB the classic failure mode is not wrong data but wrong LAYOUT:
streaming ingest and over-parallel writes leave millions of KB-sized
parquet files, and every downstream scan pays task-per-file overhead
(the reference never faces this — it reads one workbook — but any
Iceberg/parquet deployment of this engine does; SURVEY §2.1's fact-scan
row is where this belongs).

- ``compaction_plan``  — deterministic merge groups for the small files:
  within each hive partition dir, files are laid on a byte number line in
  file-name order and ``group_id = offset div target_bytes`` (the same
  distributed prefix-walk shape as operators/packing.py, but per-dir and
  non-splitting: whole files only). Groups therefore land within one file
  of ``target_bytes`` — exactly what an OPTIMIZE/rewrite job wants as its
  work list. Large files keep ``action='keep'`` and are never rewritten.
- ``compaction_summary`` — per-dir before/after file counts + bytes.

Scale: the inventory is one row per FILE (a 100 TB table at a healthy
128 MB/file is <1M rows), so the per-dir window runs over tiny groups and
the whole plan is a few narrow exchanges; the data files themselves are
never read by the planner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def compaction_plan(files: DataFrame, *, target_bytes: int) -> DataFrame:
    """Assign small files to merge groups, one plan row per input file.

    Files at or above ``target_bytes // 2``
    are already healthy — ``action='keep'``, ``group_id`` NULL. Small
    files get ``action='merge'`` and a 0-based per-dir ``group_id``:
    cumulative size before the file (file-name order) ``div``
    ``target_bytes``. A single-member group whose file is the dir's only
    small file still merges (rewriting one small file into place is the
    correct terminal state). Deterministic: same inventory → same plan,
    independent of partitioning (the window orders by name within dir).
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    small = target_bytes // 2
    sz = F.col("file_size").cast("long")
    is_small = sz < F.lit(small)
    w = (
        Window.partitionBy("part_dir")
        .orderBy("file_name")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(
        F.sum(F.when(is_small, sz).otherwise(F.lit(0))).over(w), F.lit(0)
    )
    staged = files.select(
        "part_dir",
        "file_name",
        sz.alias("file_size"),
        F.when(is_small, F.lit("merge")).otherwise(F.lit("keep")).alias("action"),
        before.cast("long").alias("_before"),
    )
    # `div` (not float /): cumulative bytes in a dir can pass 2^53
    return staged.select(
        "part_dir",
        "file_name",
        "file_size",
        "action",
        F.expr(f"CASE WHEN action = 'merge' THEN _before div {target_bytes} END").alias(
            "group_id"
        ),
    )


def compaction_summary(plan: DataFrame) -> DataFrame:
    """Per-dir rollup of a :func:`compaction_plan`: files/bytes before,
    merge groups, and the projected file count after the rewrite."""
    merged = F.sum(F.when(F.col("action") == "merge", 1).otherwise(0))
    return plan.groupBy("part_dir").agg(
        F.count(F.lit(1)).alias("n_files"),
        merged.alias("n_small"),
        F.sum(
            F.when(F.col("action") == "merge", F.col("file_size")).otherwise(0)
        ).alias("bytes_small"),
        F.count_distinct(F.col("group_id")).alias("n_groups"),
        (F.count(F.lit(1)) - merged + F.count_distinct(F.col("group_id"))).alias(
            "n_files_after"
        ),
    )
