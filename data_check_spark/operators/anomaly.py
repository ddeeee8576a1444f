"""Time-series volume anomaly detection, integer-exact.

The monitoring sibling of the drift family (operators/drift.py): drift
compares a partition's *distribution* against a baseline snapshot; this
flags *days whose event volume* breaks out of their own trailing window —
the "ingest fell over / doubled overnight" alarm a 100-TB pipeline wants
on every feed.

The classic test is ``|x - mean| > k·stddev`` over a trailing window.
Computing stddev means sqrt — a float whose last ulp can differ across
engines. Squaring the test removes it: with window count ``w``, sum ``s``
and sum of squares ``ss``,

    (x - s/w)^2 > k^2 · (ss - s^2/w)/w   ⇔   (w·x - s)^2 > k^2 · (w·ss - s^2)

which is PURE INTEGER arithmetic — the flag is bit-identical on any
engine, no representation-boundary rounding (CLAUDE.md float→string
gotchas). Squares are carried as decimal(38,0) (Spark) / HUGEINT (DuckDB)
so daily volumes up to ~3·10^9 rows never overflow a signed 64-bit lane.

Scale shape: the heavy work is one map-side-combined count per day —
counts only, never events, shuffle. The window then runs over the tiny
(#days)-row frame; a global window there is deliberate and cheap (a year
of data is 365 rows regardless of corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def out_of_order_rows(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    seq_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Rows whose timestamp runs BACKWARD against their arrival sequence —
    per ``key_col``, a row violates when its ``ts_col`` is earlier than the
    maximum timestamp of any lower-``seq_col`` row of the same key.

    This is the watermark-sizing audit for a streaming ingest: the
    ``late_by_us`` distribution of the violations IS the out-of-orderness
    bound a Structured Streaming ``withWatermark`` must cover (late rows
    beyond it are silently dropped by windowed aggregation). The drift
    family says *values* moved; this says *time itself* isn't monotone.

    Output per violating row: ``(key, seq, ts_str, prev_max_ts_str,
    late_by_us)``. ``late_by_us`` is exact integer epoch-microseconds —
    never a float interval. NULL keys/sequence numbers are exempt (the
    not-null rule owns those rows); NULL timestamps never flag and never
    poison the running max (``max`` ignores NULLs).

    Scale shape: ONE exchange keyed on ``key_col``, then a per-key running
    max — no self-join, no global sort. Keys are users/devices (high
    cardinality), so partitions stay balanced; a single hot key is a data
    bug this very check surfaces.
    """
    # ts tiebreak: duplicate sequence numbers would otherwise leave the ROWS
    # frame order (and thus prev_max for the tied rows) engine-arbitrary;
    # ascending ts means tied rows never flag each other — deterministic.
    w = (
        Window.partitionBy(key_col)
        .orderBy(seq_col, ts_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scoped = df.filter(F.col(key_col).isNotNull() & F.col(seq_col).isNotNull())
    marked = scoped.select(
        key_col,
        seq_col,
        F.col(ts_col),
        F.max(ts_col).over(w).alias("_prev_max"),
    )
    return marked.filter(F.col(ts_col) < F.col("_prev_max")).select(
        key_col,
        seq_col,
        F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.date_format("_prev_max", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("prev_max_ts_str"),
        (
            F.unix_micros(F.col("_prev_max").cast("timestamp"))
            - F.unix_micros(F.col(ts_col).cast("timestamp"))
        ).alias("late_by_us"),
    )


def daily_volume_anomaly(df: DataFrame) -> DataFrame:
    """Flag days whose event count (by ``ts``) deviates > 3 trailing stddevs.

    The window is the 7 rows strictly BEFORE the current day (the day under
    test never contaminates its own baseline). Days with fewer than 4
    predecessors are never flagged (cold start). Output per day: ``(day,
    n_events, window_n, window_sum, is_anomaly)``, ordered by day via the
    caller.

    The calendar is DENSIFIED between the first and last observed day:
    a day with zero events still gets a row (``n_events = 0``) — a total
    outage is precisely the day this alarm exists for, and grouping alone
    would silently drop it AND let the trailing window span the gap.
    """
    observed = df.groupBy(F.to_date(F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # sequence(min, max) of dates steps one day; empty input → NULL bounds
    # → explode of NULL emits nothing → empty result, no special-casing
    calendar = observed.agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    ).select(F.explode(F.sequence("_d0", "_d1")).alias("day"))
    daily = calendar.join(observed, "day", "left").select(
        "day", F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — 128-bit lane
    stats = daily.select(
        "day",
        "n_events",
        F.count("n_events").over(w).alias("window_n"),
        F.sum("n_events").over(w).alias("window_sum"),
        F.sum(dec(F.col("n_events")) * F.col("n_events")).over(w).alias("_ss"),
    )
    d = dec(F.col("window_n") * F.col("n_events") - F.col("window_sum"))
    var_num = dec(F.col("window_n")) * F.col("_ss") - dec(F.col("window_sum")) * F.col(
        "window_sum"
    )
    return stats.select(
        "day",
        "n_events",
        F.coalesce("window_n", F.lit(0)).cast("long").alias("window_n"),
        F.coalesce("window_sum", F.lit(0)).cast("long").alias("window_sum"),
        F.when(
            (F.col("window_n") >= 4) & (d * d > F.lit(3 * 3) * var_num),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_anomaly"),
    )


TS_US_PATTERN = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def freshness_audit(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    as_of: str,
    max_age_minutes: int = 60,
) -> DataFrame:
    """Per-feed staleness check: how long since each key last produced a row.

    The "this source silently stopped" alarm — volume anomaly
    (:func:`daily_volume_anomaly`) needs a whole broken day to fire; this
    fires the moment a feed's newest row is older than the SLA. ``as_of``
    is the pinned audit instant (never wall-clock — runs must be
    reproducible, same convention as the engine's ``run_ts``).

    One row per key: ``(key, n_rows, last_ts_str, age_sec, stale)`` with
    ``age_sec`` exact integer seconds (epoch-microsecond difference, floor
    division — no float datetime arithmetic) and ``last_ts_str`` rendered
    with an explicit microsecond pattern.

    Scale shape: counts/max only — ONE map-side-combined aggregate keyed by
    the feed id; no row ever shuffles."""
    as_of_us = F.unix_micros(F.to_timestamp(F.lit(as_of)))
    per = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .groupBy(F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.max(ts_col).alias("_last"))
    )
    age_sec = (as_of_us - F.unix_micros(F.col("_last").cast("timestamp"))) / F.lit(1_000_000)
    return per.select(
        key_col,
        "n_rows",
        F.date_format("_last", TS_US_PATTERN).alias("last_ts_str"),
        F.floor(age_sec).cast("long").alias("age_sec"),
        (F.floor(age_sec) > max_age_minutes * 60).alias("stale"),
    )


def calendar_gaps(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Missing calendar days per feed: dates with ZERO rows between a key's
    first and last active date.

    :func:`profile.sequence_gaps` finds holes in an ID sequence; this finds
    holes in TIME — the "ingest skipped Jan 5" signal that a volume z-test
    can't express (an absent day contributes no row to test). One output
    row per (key, missing date), date rendered ``yyyy-MM-dd``.

    Scale shape: the corpus collapses to distinct (key, date) pairs in one
    map-side-combined aggregate (≤ keys × span rows); the calendar expands
    from the tiny per-key (min, max) frame via ``sequence`` — bounded by
    the date span, not the row count — and the anti-join runs on (key,
    date) pairs only."""
    present = (
        df.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .select(F.col(key_col), F.to_date(ts_col).alias("_d"))
        .distinct()
    )
    bounds = present.groupBy(key_col).agg(
        F.min("_d").alias("_lo"), F.max("_d").alias("_hi")
    )
    cal = bounds.select(
        key_col,
        F.explode(F.expr("sequence(_lo, _hi, interval 1 day)")).alias("_d"),
    )
    return (
        cal.join(present, [key_col, "_d"], "left_anti")
        .select(key_col, F.date_format("_d", "yyyy-MM-dd").alias("missing_date"))
    )


def novelty_rate(
    df: DataFrame,
    *,
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day ID novelty: how many of a day's rows carry an id never seen
    before that day.

    The scraping/dedup health signal over time: a crawl that loops over
    stale sources shows novelty COLLAPSE (same ids re-arriving), an
    id-generation bug shows novelty at 100% (every row "new"). Volume can
    stay flat through both — this is the orthogonal axis.

    One row per active day: ``(day, n_rows, n_new_ids, novelty_ppm)`` with
    ``novelty_ppm`` = new ids per row that day, half-up integer ppm.

    Scale shape: two counts-only aggregates — per-day row counts collapse
    map-side; first-seen days shuffle one (id, min-date) pair per DISTINCT
    id (the unavoidable exchange — first-seen is a global property of the
    id); the join then runs over ≤ #days rows."""
    scoped = df.filter(F.col(id_col).isNotNull() & F.col(ts_col).isNotNull())
    daily = scoped.groupBy(F.to_date(ts_col).alias("_d")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    first_seen = (
        scoped.groupBy(id_col)
        .agg(F.min(F.to_date(ts_col)).alias("_d"))
        .groupBy("_d")
        .agg(F.count(F.lit(1)).alias("n_new_ids"))
    )
    return (
        daily.join(first_seen, "_d", "left")
        .select(
            F.date_format("_d", "yyyy-MM-dd").alias("day"),
            "n_rows",
            F.coalesce(F.col("n_new_ids"), F.lit(0)).alias("n_new_ids"),
            F.expr(
                "(coalesce(n_new_ids, 0) * 1000000 + n_rows div 2) div n_rows"
            ).alias("novelty_ppm"),
        )
    )
