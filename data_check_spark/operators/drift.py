"""Distribution-drift detection via per-partition t-digest sketches.

north_star: "distribution-drift on sr_hz/dur_ms via per-partition t-digest
sketches merged with treeAggregate against a baseline snapshot".

Scale design — two-level sketching so NO group ever needs to fit in memory:

1. chunk pass (``mapInPandas``): every Arrow batch emits one small digest per
   table-partition value it contains. At 10^12 rows this yields
   O(tasks × partitions-per-task) digest rows, each ≤ 2KB.
2. merge pass (``groupBy(partition).applyInPandas``): merging digests is
   associative, and the input is already tiny, so the shuffle moves only
   sketches — never raw values. A skewed hot partition costs the same as any
   other partition here (its extra volume was absorbed in the chunk pass).
3. global digest: ``treeAggregate`` over the chunk digests (depth 2) for the
   ``__global__`` baseline row.

Drift metric: normalized Wasserstein-1 — ``∫|CDF_cur − CDF_base| dx`` read
off the two sketches (:func:`tdigest.wasserstein`), divided by the baseline
inter-quantile scale (q90−q10, floored to 1). W1 is MASS-WEIGHTED, which is
what makes it safe on DISCRETE columns (sr_hz has ~5 atoms): a 1% probability
flip around an atom boundary teleports the median across the atom gap, so any
sup-norm quantile distance is knife-edged there (score ~1.0 from negligible
drift, and t-digest centroid placement noise between two sketches of the SAME
atom distribution trips it too). Under W1 that flip contributes only
``gap × 0.01`` (score ~0.01), while a genuine location shift like the planted
+8s dur_ms drift moves all mass by 8000ms → score ≈ 8000/scale ≈ 0.33.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark.operators import tdigest as td
from data_check_spark.schemas import BASELINE_STATS_SCHEMA, literal_frame

GLOBAL_KEY = "__global__"

_CHUNK_SCHEMA = "partition string, column_name string, tdigest binary, n long"


def chunk_digests(
    df: DataFrame,
    column: str | list[str],
    *,
    partition_col: str = "partition",
) -> DataFrame:
    """Level-1 sketches: one digest per (Arrow batch × table partition ×
    column). Accepts several columns so one pass sketches all drift rules."""
    columns = [column] if isinstance(column, str) else list(column)

    def sketch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for part, grp in pdf.groupby(partition_col, dropna=False):
                for col in columns:
                    vals = pd.to_numeric(grp[col], errors="coerce").to_numpy(dtype=np.float64)
                    vals = vals[~np.isnan(vals)]
                    d = td.from_values(vals, td.DEFAULT_MAX_CENTROIDS)
                    rows.append((part, col, td.serialize(d), int(vals.size)))
            if rows:
                yield pd.DataFrame(rows, columns=["partition", "column_name", "tdigest", "n"])

    return df.select(F.col(partition_col).alias(partition_col), *columns).mapInPandas(
        sketch, schema=_CHUNK_SCHEMA
    )


def _merge_partition_digests(chunks: DataFrame) -> DataFrame:
    """Level 2: one digest per (partition, column), merged from the chunk
    digests of :func:`chunk_digests` (digest merging is associative)."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = td.merge([td.deserialize(b) for b in pdf["tdigest"]], td.DEFAULT_MAX_CENTROIDS)
        return pd.DataFrame(
            [(pdf["partition"].iloc[0], pdf["column_name"].iloc[0],
              td.serialize(merged), int(pdf["n"].sum()))],
            columns=["partition", "column_name", "tdigest", "n"],
        )

    return chunks.groupBy("partition", "column_name").applyInPandas(
        merge_group, schema=_CHUNK_SCHEMA
    )


def make_baseline(spark: SparkSession, df: DataFrame, columns: list[str]) -> DataFrame:
    """Baseline snapshot table (``BASELINE_STATS_SCHEMA``): per-partition digests
    for each column + one __global__ row, computed from a clean reference run.

    ONE multi-column chunk pass over the reference table serves both levels
    (per-column passes would scan the table 2N times for N columns): the
    chunk frame is checkpointed (sketch rows only — tiny) and the
    per-partition merge AND the per-column treeAggregate globals all reduce
    over it, never rescanning the data — digest merging is associative."""
    chunks = chunk_digests(df, columns).localCheckpoint(eager=False)
    out = _merge_partition_digests(chunks)

    def seq(acc, row):
        d, n = acc
        return (
            td.merge([d, td.deserialize(bytes(row["tdigest"]))], td.DEFAULT_MAX_CENTROIDS),
            n + int(row["n"]),
        )

    def comb(a, b):
        return td.merge([a[0], b[0]], td.DEFAULT_MAX_CENTROIDS), a[1] + b[1]

    globals_rows = []
    for c in columns:
        rows = chunks.filter(F.col("column_name") == c).select("tdigest", "n").rdd
        zero = (td.TDigest(np.empty(0), np.empty(0)), 0)
        g, n = rows.treeAggregate(zero, seq, comb, depth=2)
        globals_rows.append((GLOBAL_KEY, c, td.serialize(g), n))
    return out.unionByName(literal_frame(spark, globals_rows, BASELINE_STATS_SCHEMA))


def drift_violations_multi(
    df: DataFrame,
    baseline: DataFrame,
    rules: list[tuple[str, str, float]],
    *,
    partition_col: str = "partition",
) -> DataFrame:
    """Partition-grain drift violations for SEVERAL columns in one sketch
    pass: ``rules`` is [(rule_id, column, threshold)]. One mapInPandas over
    the table sketches every column; one (partition, column) merge; one
    scoring pass against the broadcast baseline (falling back to the
    __global__ row for partitions without a dedicated baseline sketch).
    A partition flags when the normalized Wasserstein-1 distance to its
    baseline exceeds the rule threshold (module docstring explains why W1
    and not quantile distance)."""
    # Dedupe: two rules may monitor the same column (warn + error tiers);
    # a duplicate column in the sketch-pass select would produce duplicate
    # pandas labels and crash inside the executor.
    columns = list(dict.fromkeys(c for _, c, *_ in rules))
    current = _merge_partition_digests(chunk_digests(df, columns, partition_col=partition_col))
    base = baseline.filter(F.col("column_name").isin(columns)).select(
        F.col("partition").alias("_bpart"),
        F.col("column_name").alias("_bcol"),
        F.col("tdigest").alias("_btd"),
    )
    glob = base.filter(F.col("_bpart") == GLOBAL_KEY).select(
        F.col("_bcol").alias("_gcol"), F.col("_btd").alias("_gtd")
    )
    # baseline is sketches only (≤ (partitions+1) x columns rows) — broadcast
    joined = (
        current.join(
            F.broadcast(base),
            (current["partition"] == F.col("_bpart"))
            & (current["column_name"] == F.col("_bcol")),
            "left",
        )
        .join(F.broadcast(glob), current["column_name"] == F.col("_gcol"), "left")
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():  # ≤ one row per (partition, column)
                cur = td.deserialize(r["tdigest"])
                ref_bytes = r["_btd"] if r["_btd"] is not None else r["_gtd"]
                if ref_bytes is None:
                    rows.append((r["partition"], r["column_name"], float("nan")))
                    continue
                ref = td.deserialize(ref_bytes)
                scale = max(td.quantile(ref, 0.9) - td.quantile(ref, 0.1), 1.0)
                w1 = td.wasserstein(cur, ref) / scale
                rows.append((r["partition"], r["column_name"], float(w1)))
            yield pd.DataFrame(rows, columns=["partition", "column_name", "w1"])

    scored = joined.mapInPandas(
        score, schema="partition string, column_name string, w1 double"
    )
    # One output row per (partition, rule): a broadcast join against the
    # tiny rules frame lets SEVERAL rules (e.g. warn + error thresholds)
    # monitor the same column — a per-column when-chain would be last-wins.
    rules_df = literal_frame(
        scored.sparkSession, rules, "rule_id string, column_name string, _thr double"
    )
    # NaN compares greater than any number in Spark SQL, so a sketch-less or
    # all-null partition (NaN w1) stays fail-closed → flagged.
    return (
        scored.join(F.broadcast(rules_df), "column_name")
        .filter(F.col("w1").isNull() | (F.col("w1") > F.col("_thr")))
        .select(
            F.col("rule_id"),
            F.lit(None).cast("string").alias("clip_id"),
            F.col("partition"),
            F.concat(
                F.col("column_name"), F.lit(" w1="), F.round(F.col("w1"), 4).cast("string")
            ).alias("observed"),
        )
    )


def categorical_drift_violations(
    df: DataFrame,
    rule_id: str,
    column: str,
    *,
    threshold_bp: int = 2500,
    min_rows: int = 100,
    partition_col: str = "partition",
) -> DataFrame:
    """Partition-grain CATEGORICAL drift: codec-mix shift vs the table mix.

    The t-digest path above monitors numeric distributions; this is its
    counterpart for low-cardinality string columns (codec, language, ...).
    Sufficient statistic = the (partition, category) count table, so unlike
    the numeric case no sketch is needed: ONE groupBy pass (map-side
    partials, the shuffle moves only counts), then window sums over the
    tiny aggregated frame compute each partition's share and the global
    baseline share — never a second scan of the data.

    Metric: total-variation distance in integer basis points
    (``Σ |share_bp − base_bp| div 2`` with truncating shares), exact and
    engine-portable; nulls are excluded (a null surge is the NOT_NULL
    rule's job, not drift's). Violation row per drifted partition:
    (rule_id, NULL clip_id, partition, "col tv_bp=N").

    Categories MISSING from a partition still contribute their baseline
    share to the distance — computed analytically
    (``Σ_missing base_bp = all_base_bp − Σ_present base_bp``) rather than
    by materializing the |partitions| × |categories| grid, so the working
    set stays at the OBSERVED (partition, category) pairs even for
    high-cardinality columns.

    ``min_rows``: partitions with fewer non-null rows are SKIPPED — the
    share estimate's sampling noise is ~``10000*sqrt(p(1-p)/n)`` bp per
    category, so below ~100 rows a 2500 bp threshold fires on noise (a
    128-partition table of 1k rows would flag most partitions). Drift needs
    volume; tiny partitions are a row-rule problem, not a drift problem.
    """
    from pyspark.sql.window import Window

    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.col(partition_col).alias("partition"), F.col(column).alias("_cat"))
        .agg(F.count(F.lit(1)).alias("n_pc"))
        # the baseline and share stages below reference this tiny count
        # table twice; materialize it once (lazy) so the input is scanned
        # exactly once regardless of how many consumers follow
        .localCheckpoint(eager=False)
    )
    # Baseline share per category (+ the sum over ALL categories, used to
    # credit categories missing from a partition) — a ≤|categories|-row
    # frame. Totals attach via 1-row broadcast aggregates rather than
    # unpartitioned windows, keeping every exchange in the plan keyed.
    cat_totals = counts.groupBy("_cat").agg(F.sum("n_pc").alias("n_c"))
    grand = cat_totals.agg(F.sum("n_c").alias("_n"))
    base_shares = cat_totals.crossJoin(F.broadcast(grand)).select(
        "_cat", F.expr("(n_c * 10000) div _n").alias("base_bp")
    )
    all_base = base_shares.agg(F.sum("base_bp").alias("all_base_bp"))
    base = base_shares.crossJoin(F.broadcast(all_base))
    shares = (
        counts.withColumn("n_p", F.sum("n_pc").over(Window.partitionBy("partition")))
        .join(F.broadcast(base), "_cat")
        .select(
            "partition", "n_p", "base_bp", "all_base_bp",
            F.abs(F.expr("(n_pc * 10000) div n_p") - F.col("base_bp")).alias("_diff_bp"),
        )
    )
    # Σ_missing base_bp = all_base_bp − Σ_present base_bp, folded into the
    # same aggregation that sums the present-category differences.
    tv = shares.groupBy("partition").agg(
        F.expr("(sum(_diff_bp) + max(all_base_bp) - sum(base_bp)) div 2").alias("tv_bp"),
        F.max("n_p").alias("_n_p"),
    )
    return tv.filter(
        (F.col("tv_bp") > threshold_bp) & (F.col("_n_p") >= min_rows)
    ).select(
        F.lit(rule_id).alias("rule_id"),
        F.lit(None).cast("string").alias("clip_id"),
        F.col("partition"),
        F.concat(F.lit(f"{column} tv_bp="), F.col("tv_bp").cast("string")).alias("observed"),
    )


def rate_drift_violations(
    df: DataFrame,
    rule_id: str,
    predicate: str,
    *,
    threshold_bp: int = 500,
    min_rows: int = 100,
    partition_col: str = "partition",
) -> DataFrame:
    """Partition-grain PREDICATE-RATE drift vs the whole-table rate.

    Monitors the per-partition rate at which a boolean SQL predicate holds
    (``transcript IS NULL``, blank clip_id, ``dur_ms = 0`` ...) against the
    table-wide rate — the null/blank-rate sibling of the codec-mix check:
    a partition where 40% of transcripts are suddenly missing drifts even
    though every individual null is also (correctly) a NOT_NULL violation.

    ONE pass over the data: ``groupBy(partition).agg(count, count_if)`` —
    map-side partials, the shuffle moves two counts per partition; the
    baseline is a 1-row broadcast aggregate of those counts (never a
    second scan, no unpartitioned window). Rates are truncating integer
    basis points, engine-exact. A NULL predicate counts as not-holding.

    ``min_rows`` skips partitions whose rate estimate is sampling noise
    (same rationale as :func:`categorical_drift_violations`).
    """
    from data_check_spark.operators.profile import predicate_rate_by_group

    scored = predicate_rate_by_group(df, predicate, partition_col).withColumnRenamed(
        "group_value", "partition"
    )
    return scored.filter(
        (F.col("diff_bp") > threshold_bp) & (F.col("n_g") >= min_rows)
    ).select(
        F.lit(rule_id).alias("rule_id"),
        F.lit(None).cast("string").alias("clip_id"),
        F.col("partition"),
        F.concat(
            F.lit("rate_bp="), F.col("rate_bp").cast("string"),
            F.lit(" base_bp="), F.col("base_bp").cast("string"),
        ).alias("observed"),
    )


def volume_drift_violations(
    df: DataFrame,
    rule_id: str,
    *,
    threshold_bp: int = 5000,
    partition_col: str = "partition",
) -> DataFrame:
    """Partition-grain VOLUME drift: row count vs the uniform expectation.

    A partition that suddenly carries half (or 3x) the rows it should is a
    pipeline failure upstream of any per-row rule — the classic "yesterday's
    ingest job died at 2am" signal. Deviation is measured against the mean
    partition size in signed basis points, integer-exact:
    ``dev_bp = (n_p * G * 10000) div n − 10000`` (G partitions, n rows).

    ONE ``groupBy(partition).count()`` pass (map-side partials, the shuffle
    moves one count per partition); the (n, G) baseline is a 1-row
    broadcast aggregate. No min_rows guard — an undersized partition is
    exactly what this rule exists to catch.
    """
    from data_check_spark.operators.profile import group_volume_deviation

    scored = group_volume_deviation(df, partition_col).withColumnRenamed(
        "group_value", "partition"
    )
    return scored.filter(F.abs(F.col("dev_bp")) > threshold_bp).select(
        F.lit(rule_id).alias("rule_id"),
        F.lit(None).cast("string").alias("clip_id"),
        F.col("partition"),
        F.concat(
            F.lit("rows="), F.col("n_g").cast("string"),
            F.lit(" dev_bp="), F.col("dev_bp").cast("string"),
        ).alias("observed"),
    )
