"""Referential integrity checks as semi/anti joins.

Reference analogs: membership anti-join CHK_0032 (dekispart.py:494-501),
semi-join CHK_0033 (503-510), and the semi∘anti composition CHK_0060
("id in source A and not in source B", dekispart.py:968-988). The reference
materializes Python sets on the driver; here both sides stay distributed.
The engine's FK-anti, orphan and transcript-match rules share one join per
dimension (``fused_dim_checks``); ``semi_join_violations`` and
``orphan_violations`` are the single-rule forms.

Join-strategy selection (north_rule: "broadcast or sort-merge depending on
dimension size"): the plans carry no hint. AQE broadcasts the dimension key
set at runtime when it is under ``spark.sql.autoBroadcastJoinThreshold`` and
leaves two large sides to sort-merge (plus skew splitting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_check_spark.functions.blank import bytes_differ, is_present


def semi_join_violations(
    df: DataFrame,
    dim: DataFrame,
    rule_id: str,
    *,
    fact_key: str = "clip_id",
    dim_key: str = "clip_id",
    id_col: str = "clip_id",
    partition_col: str | None = "partition",
    gate=None,
) -> DataFrame:
    """Fact rows whose key IS in the (forbidden) dimension set."""
    dim_keys = dim.select(F.col(dim_key).alias("_dk")).dropDuplicates()
    fact = df.filter(is_present(fact_key))
    if gate is not None:
        fact = fact.filter(gate)
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    return (
        fact.join(dim_keys, fact[fact_key] == F.col("_dk"), "left_semi")
        .select(
            F.lit(rule_id).alias("rule_id"),
            F.col(id_col).cast("string").alias("clip_id"),
            part.alias("partition"),
            F.col(fact_key).cast("string").alias("observed"),
        )
    )


def orphan_violations(
    df: DataFrame,
    dim: DataFrame,
    rule_id: str,
    *,
    fact_key: str = "clip_id",
    dim_key: str = "clip_id",
) -> DataFrame:
    """Dimension rows referencing no fact row (reverse direction).

    The big side is the anti-join *probe* here, so no broadcast of the fact
    table is ever attempted; Catalyst plans dim-anti-fact as shuffle/SMJ.
    The engine's orphan rules run in ``fused_dim_checks`` instead; this is
    the registry's standalone form (``orphan_parts``).
    """
    fact_keys = df.filter(is_present(fact_key)).select(F.col(fact_key).alias("_fk")).dropDuplicates()
    return (
        dim.join(fact_keys, dim[dim_key] == F.col("_fk"), "left_anti")
        .select(
            F.lit(rule_id).alias("rule_id"),
            F.col(dim_key).cast("string").alias("clip_id"),
            F.lit(None).cast("string").alias("partition"),
            F.lit("orphan").alias("observed"),
        )
    )


def fused_dim_checks(
    fact: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    partition_col: str | None = "partition",
    anti_rule: str | None = None,
    anti_gate=None,
    orphan_rule: str | None = None,
    match_rule: str | None = None,
    fact_text: str | None = None,
    ref_text: str | None = None,
    pruned_keys: DataFrame | None = None,
) -> DataFrame:
    """FK-missing + orphan + byte-equality against ONE dimension in ONE join.

    The engine's only plan for these three rule families, in every run
    mode. The naive plan joins the fact table against the dim three times
    (anti, reverse-anti, inner). One join + a classify/explode projection
    produces all three violation families — at 10^12 rows that's one
    shuffle of each side instead of three. Blank fact keys are exempt, the
    anti rule honors its gate, orphans are dim rows with no (present-key)
    fact match, and the byte-equality rule fires only where both sides
    exist. An anti row names the fact row's ``clip_id`` and observes the
    missing key; an orphan row names the dim key, a match row the join key.

    The join type follows the rules: full outer when there is an orphan
    rule, otherwise a left outer join from the fact side, which AQE turns
    into a broadcast hash join when the dimension is small. With no anti
    or match rule only the distinct fact keys reach the join.

    ``pruned_keys``: the ``fact_key`` column of the partitions a resumed or
    batched run pruned from ``fact``. Its distinct keys join as rows this
    run does not own: they clear orphans, and the anti and match rules
    never fire on them.
    """

    def keys(df: DataFrame) -> DataFrame:
        return df.filter(is_present(fact_key)).select(F.col(fact_key).alias("_fk"))

    def owned(cond: F.Column) -> F.Column:
        # the per-row (anti, match) branches fire on this run's rows only
        return cond & F.col("_own") if pruned_keys is not None else cond

    anti_id = "_fk"
    if anti_rule or match_rule:
        f_cols = [
            F.col(fact_key).alias("_fk"),
            (F.col(partition_col) if partition_col else F.lit(None).cast("string")).alias("_part"),
        ]
        if match_rule:
            f_cols.append(F.col(fact_text).alias("_ftxt"))
        if anti_rule and fact_key != "clip_id":
            # an anti row names its clip; the key it lacks is the observed value
            f_cols.append(F.col("clip_id").alias("_id"))
            anti_id = "_id"
        if anti_gate is not None:
            f_cols.append(F.coalesce(anti_gate, F.lit(False)).alias("_gate"))
        else:
            f_cols.append(F.lit(True).alias("_gate"))
        f = fact.filter(is_present(fact_key)).select(*f_cols)
        if pruned_keys is not None:
            f = f.withColumn("_own", F.lit(True)).unionByName(
                keys(pruned_keys).dropDuplicates().withColumn("_own", F.lit(False)),
                allowMissingColumns=True,
            )
    else:
        f = keys(fact)
        if pruned_keys is not None:
            f = f.unionByName(keys(pruned_keys))
        f = f.dropDuplicates()
    d_cols = [F.col(dim_key).alias("_dk")]
    if match_rule:
        d_cols.append(F.col(ref_text).alias("_rtxt"))
    d = dim.select(*d_cols)

    j = f.join(d, F.col("_fk") == F.col("_dk"), "full_outer" if orphan_rule else "left")
    branches = []
    if anti_rule:
        branches.append(
            F.when(
                owned(F.col("_dk").isNull() & F.col("_fk").isNotNull() & F.col("_gate")),
                F.struct(
                    F.lit(anti_rule).alias("rule_id"),
                    F.col(anti_id).cast("string").alias("clip_id"),
                    F.col("_part").alias("partition"),
                    F.col("_fk").cast("string").alias("observed"),
                ),
            )
        )
    if orphan_rule:
        branches.append(
            F.when(
                F.col("_fk").isNull(),
                F.struct(
                    F.lit(orphan_rule).alias("rule_id"),
                    F.col("_dk").cast("string").alias("clip_id"),
                    F.lit(None).cast("string").alias("partition"),
                    F.lit("orphan").alias("observed"),
                ),
            )
        )
    if match_rule:
        branches.append(
            F.when(
                owned(
                    F.col("_fk").isNotNull()
                    & F.col("_dk").isNotNull()
                    & bytes_differ(F.col("_ftxt"), F.col("_rtxt"))
                ),
                F.struct(
                    F.lit(match_rule).alias("rule_id"),
                    F.col("_fk").cast("string").alias("clip_id"),
                    F.col("_part").alias("partition"),
                    F.substring(F.coalesce(F.col("_ftxt"), F.lit("<null>")), 1, 64).alias(
                        "observed"
                    ),
                ),
            )
        )
    hits = F.filter(F.array(*branches), lambda x: x.isNotNull())
    return j.select(F.explode(hits).alias("v")).select(
        F.col("v.rule_id").alias("rule_id"),
        F.col("v.clip_id").alias("clip_id"),
        F.col("v.partition").alias("partition"),
        F.col("v.observed").alias("observed"),
    )


def _cents(col: F.Column) -> F.Column:
    """Money column → exact integer cents (bigint). Going through
    decimal(18,2) first pins the HALF_UP rounding of the double→decimal
    cast; ×100 on the decimal lane is exact, so the bigint carries the
    full value with no float compare anywhere downstream."""
    return (col.cast("decimal(18,2)") * 100).cast("long")


def aggregate_reconcile(
    parent: DataFrame,
    child: DataFrame,
    *,
    parent_key: str,
    child_key: str,
    total_col: str,
    amount_col: str,
    tolerance_cents: int = 0,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Parent stored total vs sum over its child rows — the aggregate-grain
    arithmetic-consistency check (reference analog: the row-grain price
    arithmetic rule, innosite.py CHK_0002 family, lifted to the
    header↔detail reconciliation every warehouse audit runs).

    Output: one row per out-of-balance key —
    ``(<parent_key>, parent_cents, child_cents, delta_cents, status)`` with
    status ``total_mismatch`` (both sides present, |delta| > tolerance),
    ``no_child_rows`` (parent with zero child rows),
    ``orphan_child_total`` (child rows summing under a key no parent has)
    or ``null_amount`` (a side EXISTS but its amount is NULL — a parent
    whose stored total is NULL, or children whose amounts are all NULL;
    classified by row presence, never by cents NULL-ness, so a NULL total
    is not mistaken for a missing parent). Amounts are exact integer cents
    (see ``_cents``) — the comparison is pure bigint arithmetic,
    bit-identical across engines.

    Scale shape: the child side collapses FIRST (map-side partial sum; the
    shuffle carries (key, partial cents), never child rows), then one keyed
    full-outer join against the parent projection (key, cents). Both sides
    are pre-aggregated/pruned, so at 10^12 child rows the exchange is
    O(#keys); AQE picks broadcast when one side turns out small. NULL/blank
    keys are exempt on both sides — the not-null rule owns those rows.
    """
    p = parent.filter(is_present(parent_key)).select(
        F.col(parent_key).alias("_pk"),
        _cents(F.col(total_col)).alias("parent_cents"),
        *[F.col(c) for c in carry],
    )
    c = (
        child.filter(is_present(child_key))
        .groupBy(F.col(child_key).alias("_ck"))
        .agg((F.sum(F.col(amount_col).cast("decimal(18,2)")) * 100).cast("long").alias("child_cents"))
    )
    j = p.join(c, F.col("_pk") == F.col("_ck"), "full_outer")
    delta = F.col("parent_cents") - F.col("child_cents")
    # Presence is the KEY columns surviving the full-outer join — never the
    # cents (a NULL stored total is a present parent with a bad amount, not
    # a missing parent).
    status = (
        F.when(F.col("_ck").isNull(), F.lit("no_child_rows"))
        .when(F.col("_pk").isNull(), F.lit("orphan_child_total"))
        .when(
            F.col("parent_cents").isNull() | F.col("child_cents").isNull(),
            F.lit("null_amount"),
        )
        .when(F.abs(delta) > tolerance_cents, F.lit("total_mismatch"))
    )
    return (
        j.select(
            F.coalesce(F.col("_pk"), F.col("_ck")).alias(parent_key),
            "parent_cents",
            "child_cents",
            delta.alias("delta_cents"),
            status.alias("status"),
            *[F.col(c) for c in carry],
        )
        .filter(F.col("status").isNotNull())
    )


def reconcile_violations(
    parent: DataFrame,
    child: DataFrame,
    rule_id: str,
    *,
    parent_key: str,
    child_key: str,
    total_col: str,
    amount_col: str,
    tolerance_cents: int = 0,
    partition_col: str | None = "partition",
) -> DataFrame:
    """``aggregate_reconcile`` in the violations contract. The parent's
    partition column is carried through the reconciliation join (orphan
    child totals have no parent row → NULL partition); ``observed`` packs
    the status and signed delta so triage never needs a second query."""
    has_part = bool(partition_col) and partition_col in parent.columns
    recon = aggregate_reconcile(
        parent, child,
        parent_key=parent_key, child_key=child_key,
        total_col=total_col, amount_col=amount_col,
        tolerance_cents=tolerance_cents,
        carry=(partition_col,) if has_part else (),
    )
    part = F.col(partition_col) if has_part else F.lit(None).cast("string")
    return recon.select(
        F.lit(rule_id).alias("rule_id"),
        F.col(parent_key).cast("string").alias("clip_id"),
        part.cast("string").alias("partition"),
        F.concat_ws(
            ":", F.col("status"), F.coalesce(F.col("delta_cents").cast("string"), F.lit("null"))
        ).alias("observed"),
    )


def semi_anti_violations(
    df: DataFrame,
    dim_in: DataFrame,
    dim_not_in: DataFrame,
    rule_id: str,
    *,
    fact_key: str = "clip_id",
    dim_in_key: str = "clip_id",
    dim_not_in_key: str = "clip_id",
    id_col: str = "clip_id",
    partition_col: str | None = "partition",
) -> DataFrame:
    """key ∈ dim_in AND key ∉ dim_not_in (reference: CHK_0060 composition)."""
    in_keys = dim_in.select(F.col(dim_in_key).alias("_ik")).dropDuplicates()
    not_keys = dim_not_in.select(F.col(dim_not_in_key).alias("_nk")).dropDuplicates()
    fact = df.filter(is_present(fact_key))
    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    return (
        fact.join(in_keys, fact[fact_key] == F.col("_ik"), "left_semi")
        .join(not_keys, F.col(fact_key) == F.col("_nk"), "left_anti")
        .select(
            F.lit(rule_id).alias("rule_id"),
            F.col(id_col).cast("string").alias("clip_id"),
            part.alias("partition"),
            F.col(fact_key).cast("string").alias("observed"),
        )
    )


def cardinality_violations(
    parent: DataFrame,
    child: DataFrame,
    *,
    parent_key: str,
    child_key: str,
    min_children: int = 1,
    max_children: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Relationship-cardinality check: parents whose child count is outside
    ``[min_children, max_children]``. ``carry`` names extra parent columns
    to pass through (e.g. the partition column for the violations contract).

    The structural constraint the per-row rules can't express (an order
    "should" have 1-7 line items; a clip "should" have exactly one
    transcript): referential semi/anti joins prove existence, this proves
    MULTIPLICITY. One row per offending parent: ``(key, n_children,
    status)`` with status ``too_few`` (including zero — the no-children
    case arrives via the left join's NULL→0) or ``too_many``.

    NULL parent keys can't join and are skipped (they are a not-null
    rule's finding, not a cardinality finding); NULL child keys match no
    parent and never count.

    Scale shape: the child table collapses map-side to (key, count) before
    its shuffle; the join is keyed parent-keys × per-key counts — the
    child rows themselves never move. ``status`` derives from exact long
    arithmetic; bounds are validated driver-side."""
    if min_children < 0:
        raise ValueError(f"min_children must be >= 0, got {min_children}")
    if max_children is not None and max_children < min_children:
        raise ValueError(
            f"max_children ({max_children}) < min_children ({min_children})"
        )
    counts = (
        child.filter(F.col(child_key).isNotNull())
        .groupBy(F.col(child_key).alias("_k"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    pk = parent.filter(F.col(parent_key).isNotNull()).select(
        F.col(parent_key).alias("key"), *[F.col(c) for c in carry]
    )
    joined = pk.join(counts, pk["key"] == counts["_k"], "left").select(
        "key",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_children"),
        *[F.col(c) for c in carry],
    )
    status = F.when(F.col("n_children") < min_children, F.lit("too_few"))
    if max_children is not None:
        status = status.when(F.col("n_children") > max_children, F.lit("too_many"))
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("key", "n_children", "status", *[F.col(c) for c in carry])
    )


def cardinality_rule_violations(
    parent: DataFrame,
    child: DataFrame,
    rule_id: str,
    *,
    parent_key: str,
    child_key: str,
    min_children: int = 1,
    max_children: int | None = None,
    partition_col: str | None = "partition",
) -> DataFrame:
    """``cardinality_violations`` in the violations contract. The parent's
    partition column rides through the count join; ``observed`` packs the
    status and the actual child count so triage never re-queries."""
    has_part = bool(partition_col) and partition_col in parent.columns
    out = cardinality_violations(
        parent, child,
        parent_key=parent_key, child_key=child_key,
        min_children=min_children, max_children=max_children,
        carry=(partition_col,) if has_part else (),
    )
    part = F.col(partition_col) if has_part else F.lit(None).cast("string")
    return out.select(
        F.lit(rule_id).alias("rule_id"),
        F.col("key").cast("string").alias("clip_id"),
        part.cast("string").alias("partition"),
        F.concat_ws(":", F.col("status"), F.col("n_children").cast("string")).alias(
            "observed"
        ),
    )
