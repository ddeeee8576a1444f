"""Validation engine orchestration.

One call runs the whole catalog against a clip table and returns:

- ``violations``  — (rule_id, clip_id, partition, observed), the graft analog
                    of the reference result contract (dekispart.py:82-89,
                    data_check.py:1071-1094);
- ``verdicts``    — per-partition pass/fail with rows/violations/wall-time
                    (north_rule's per-partition verdicts + metrics);
- ``summary()``   — total, per-rule counts, top-5 rules — the reference's
                    summary aggregates (data_check.py:1186-1215).

Plan shape (scale rationale):
- The binary payload column is read EXACTLY ONCE: a single preparation
  projection computes ``byte_len`` and the decoded-PCM SNR (vectorized
  pandas UDF) and then DROPS ``bytes``; the narrow result (~1% of the wide
  table) is what gets cached and fanned out to every rule subplan. At 100 TB
  the wide scan is the dominant cost — measured here, plans that re-touch
  the binary column pay ~3x the raw scan each time, so one-touch is the
  difference between O(1) and O(#subplans) wide scans.
- ALL row-local rules evaluate in ONE projection over the narrow table
  (array-of-structs → explode), so per-row rule work is a single pass
  regardless of rule count.
- Set-oriented rules each contribute their own (shuffle-bearing) subplan:
  two-phase uniqueness, broadcast/SMJ referential joins, sketch-only
  drift shuffle — all reading the narrow cache, never the wide scan. The
  FK-anti, orphan and transcript-match rules on one dimension key share
  ONE join (``fused_dim_checks``) in every run mode — fresh, resumed,
  owner or member batch — and there is no per-rule path for them. What
  each kind emits, how it takes its gate, its resume/batch grain, its slot
  in the fused dim join and the dims it reads live in ONE table,
  ``SET_RULE_KINDS``; ``run_validation`` derives everything from it.
- ``violations`` is persisted before the verdict aggregation so the verdict
  job and any caller action (count, write) execute the rule plans once.
- Run timestamp is pinned once per run for deterministic date rules
  (reference calls datetime.now() per row — dekispart.py:473).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_check_spark import checkpoint as cp
from data_check_spark.operators.audio import (
    SNR_COL,
    prepare_clips,
    snr_column_violations,
    transcript_wer_violations,
)
from data_check_spark.operators.drift import (
    categorical_drift_violations,
    drift_violations_multi,
    rate_drift_violations,
    volume_drift_violations,
)
from data_check_spark.operators.funcdep import func_dep_violations
from data_check_spark.operators.profile import agg_threshold_violations, outlier_violations
from data_check_spark.operators.referential import (
    cardinality_rule_violations,
    fused_dim_checks,
    reconcile_violations,
    semi_join_violations,
)
from data_check_spark.operators.uniqueness import (
    aggregate_unique_violations,
    duplicate_keys,
    unique_violations,
)
from data_check_spark.reporting import top_rules
from data_check_spark.rules.compiler import (
    apply_row_rules,
    gate_condition,
    resolve_row_rules,
)
from data_check_spark.rules.spec import Rule, RuleCatalog
from data_check_spark.schemas import (
    CLIPS_SCHEMA,
    VIOLATIONS_SCHEMA,
    literal_frame,
    validate_schema,
)


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    run_id: str
    wall_time_ms: int = 0
    rows_scanned: int = 0
    schema_problems: list[str] = field(default_factory=list)

    def summary(self) -> dict:
        """Reference-style summary: total, per-rule counts, top-5 rule ids."""
        rows = top_rules(self.violations, k=None).collect()
        counts = {r["rule_id"]: r["n"] for r in rows}
        top5 = [r["rule_id"] for r in rows[:5]]
        return {"total": sum(counts.values()), "per_rule": counts, "top5": top5}


# --- set-oriented rule kinds -------------------------------------------------
# How a rule's ``gate`` reaches its operator:
GATE_SCOPE = "scope"        # the engine filters the input to the gate first
GATE_OPERATOR = "operator"  # the operator applies the gate itself
GATE_NONE = "none"          # the kind cannot honour a gate: a gated rule is a RULE_ERROR


def _always(value):
    return lambda *_: value


def _opts(rule: Rule, *names: str) -> dict:
    """The named params the rule sets; the rest keep the operator's default."""
    return {n: rule.params[n] for n in names if n in rule.params}


def _mode(rule: Rule) -> str:
    return rule.params.get("mode", "anti")


def _ref_key(rule: Rule) -> tuple[str, str, str]:
    return rule.params["dim"], rule.column or "clip_id", rule.params.get("dim_key", "clip_id")


def _text_key(rule: Rule) -> tuple[str, str, str]:
    # params["dim_key"] is the join key on BOTH sides
    key = rule.params.get("dim_key", "clip_id")
    return rule.params["dim"], key, key


def _text_cols(rule: Rule) -> tuple[str, str]:
    return rule.column or "transcript", rule.params.get("ref_column", "transcript_ref")


def _uniq_key(rule: Rule) -> str:
    return rule.column or "clip_id"


def _child_keys(rule: Rule) -> dict:
    p = rule.params
    return dict(parent_key=p.get("fact_key", "clip_id"), child_key=p.get("dim_key", "clip_id"))


@dataclass(frozen=True)
class SetKind:
    """What the engine knows about one set-oriented rule kind.

    ``emit(rule, clips, dims, gate, partition_col, dups)`` builds the
    violations (None: the kind runs in a shared pass — the drift sketches
    or the dim join);
    ``gate(rule)`` is one of the GATE_* values above; ``global_grain(rule,
    partition_col)``: the result depends on rows outside a partition, so a
    resume run evaluates it over the full table and member batches skip it;
    ``fuse(rule)``: (slot, (dim, fact_key, dim_key)) in the one join per
    dim (``fused_dim_checks``) — a rule with a slot never runs alone;
    ``dims(rule)``: dimensions read;
    ``dup_key(rule)``: key column whose duplicate-key set siblings share."""

    emit: Callable[..., DataFrame] | None
    gate: Callable[[Rule], str] = _always(GATE_SCOPE)
    global_grain: Callable[[Rule, str], bool] = _always(False)
    fuse: Callable[[Rule], tuple[str, tuple[str, str, str]] | None] = _always(None)
    dims: Callable[[Rule], set[str]] = lambda r: {r.params["dim"]} if "dim" in r.params else set()
    dup_key: Callable[[Rule], str | None] = _always(None)


def _referential(rule, clips, dims, gate, partition_col, dups):
    # anti and orphan rules have a slot in the dim join (``fuse``)
    if _mode(rule) != "semi":
        raise ValueError(f"unknown referential mode {_mode(rule)!r} ({rule.rule_id})")
    dim, fact_key, dim_key = _ref_key(rule)
    return semi_join_violations(clips, dims[dim], rule.rule_id, fact_key=fact_key,
                                dim_key=dim_key, gate=gate, partition_col=partition_col)


def _transcript_wer(rule, clips, dims, gate, partition_col, dups):
    dim, fact_key, dim_key = _text_key(rule)
    fact_text, ref_text = _text_cols(rule)
    return transcript_wer_violations(
        clips, dims[dim], rule.rule_id, fact_key=fact_key, dim_key=dim_key,
        fact_text=fact_text, ref_text=ref_text, partition_col=partition_col,
        **_opts(rule, "max_wer_bp"))


SET_RULE_KINDS: dict[str, SetKind] = {
    "unique": SetKind(
        lambda r, c, d, g, pc, dups: unique_violations(
            c, r.rule_id, _uniq_key(r), partition_col=pc, dups=dups),
        global_grain=_always(True), dup_key=_uniq_key),
    # one NULL-partition row per duplicated value
    "aggregate_unique": SetKind(
        lambda r, c, d, g, pc, dups: aggregate_unique_violations(
            c, r.rule_id, _uniq_key(r), dups=dups),
        global_grain=_always(True), dup_key=_uniq_key),
    # orphan: dim rows no fact row references — NULL partition, judged
    # against the whole fact key set, and no fact row to gate
    "referential": SetKind(
        _referential,
        gate=lambda r: GATE_NONE if _mode(r) == "orphan" else GATE_OPERATOR,
        global_grain=lambda r, pc: _mode(r) == "orphan",
        fuse=lambda r: (_mode(r), _ref_key(r)) if _mode(r) in ("anti", "orphan") else None),
    # all drift rules share ONE sketch pass (drift_violations_multi) against
    # a fixed baseline snapshot, so each partition is judged on its own
    "drift": SetKind(None, gate=_always(GATE_NONE), dims=_always({"baseline_stats"})),
    # cat/rate/volume drift compare a partition with the CURRENT table (mix,
    # rate, mean size), which a resume run must compute over all partitions
    "cat_drift": SetKind(
        lambda r, c, d, g, pc, dups: categorical_drift_violations(
            c, r.rule_id, r.column or "codec", partition_col=pc,
            **_opts(r, "threshold_bp", "min_rows")),
        gate=_always(GATE_NONE), global_grain=_always(True)),
    "rate_drift": SetKind(
        lambda r, c, d, g, pc, dups: rate_drift_violations(
            c, r.rule_id, r.params["predicate"], partition_col=pc,
            **_opts(r, "threshold_bp", "min_rows")),
        gate=_always(GATE_NONE), global_grain=_always(True)),
    "volume_drift": SetKind(
        lambda r, c, d, g, pc, dups: volume_drift_violations(
            c, r.rule_id, partition_col=pc, **_opts(r, "threshold_bp")),
        gate=_always(GATE_NONE), global_grain=_always(True)),
    # SNR is precomputed by the single wide pass (prepare_clips)
    "audio_decode": SetKind(
        lambda r, c, d, g, pc, dups: snr_column_violations(
            c, r.rule_id, gate=g, partition_col=pc, **_opts(r, "snr_db_min")),
        gate=_always(GATE_OPERATOR)),
    # a whole-table aggregate: one NULL-partition row on breach
    "agg_threshold": SetKind(
        lambda r, c, d, g, pc, dups: agg_threshold_violations(
            c, r.rule_id, r.params["metric_expr"], **_opts(r, "min_value", "max_value")),
        global_grain=_always(True)),
    # fences are per group: grouped by the partition column (the default)
    # each partition's fence is its own; grouped by anything else a fence
    # spans partitions and must be learnt over the whole table
    "outlier": SetKind(
        lambda r, c, d, g, pc, dups: outlier_violations(
            c, r.rule_id, r.column, partition_col=pc, group_col=r.params.get("group_by"),
            **_opts(r, "scale")),
        global_grain=lambda r, pc: r.params.get("group_by") not in (None, pc)),
    # the violating determinant set depends on the whole table
    "func_dep": SetKind(
        lambda r, c, d, g, pc, dups: func_dep_violations(
            c, r.rule_id, r.params["determinant"], r.column, partition_col=pc,
            **_opts(r, "count_null_dependent", "grain")),
        global_grain=_always(True)),
    # orphan child totals have no parent row, hence no partition
    "reconcile": SetKind(
        lambda r, c, d, g, pc, dups: reconcile_violations(
            c, d[r.params["dim"]], r.rule_id, total_col=r.column,
            amount_col=r.params["amount_col"], partition_col=pc, **_child_keys(r),
            **_opts(r, "tolerance_cents")),
        global_grain=_always(True)),
    # child counts are a property of the whole child table
    "cardinality": SetKind(
        lambda r, c, d, g, pc, dups: cardinality_rule_violations(
            c, d[r.params["dim"]], r.rule_id, partition_col=pc, **_child_keys(r),
            **_opts(r, "min_children", "max_children")),
        global_grain=_always(True)),
    "transcript_match": SetKind(
        None, gate=_always(GATE_NONE), fuse=lambda r: ("match", _text_key(r))),
    "transcript_wer": SetKind(_transcript_wer, gate=_always(GATE_NONE)),
}


def _partition_violation_counts(violations: DataFrame, warning_ids: list[str]) -> DataFrame:
    """(partition, _viols, _errors) over the non-NULL-partition violations —
    the ONE definition of how violations aggregate into a verdict (warning
    severity counts but does not fail). Shared by run_validation and
    reconcile_outputs so the reconciled verdicts can never drift from the
    engine's own severity tiering."""
    is_error = (
        ~F.col("rule_id").isin(warning_ids) if warning_ids else F.lit(True)
    )
    return (
        violations.filter(F.col("partition").isNotNull())
        .groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("_viols"),
            F.sum(F.when(is_error, 1).otherwise(0)).alias("_errors"),
        )
    )


def run_validation(
    spark: SparkSession,
    clips: DataFrame,
    dims: dict[str, DataFrame] | None = None,
    catalog: RuleCatalog | None = None,
    *,
    run_ts: str | None = None,
    partition_col: str = "partition",
    checkpoint_dir: str | None = None,
    resume: bool = False,
    cache_input: bool = True,
    reliable_cache: bool = False,
    exclude_partitions: list[str] | None = None,
    batch_member: bool = False,
) -> ValidationResult:
    """Run the full catalog; returns lazily-built violations + materialized
    verdicts (the verdict aggregation is the single action that executes the
    whole plan).

    ``exclude_partitions``: prune these partitions from the wide pass
    exactly like already-checkpointed ones. This is the partition-batching
    hook (jobs/validate_job.py ``--partition-batches``): a 10^12-row run
    split into K batches checkpoints after each, so a mid-job failure
    loses at most one batch, and the union of the batched runs' violations
    is multiset-identical to the single-run output (asserted in
    tests/test_resume.py).
    ``batch_member``: marks every batch EXCEPT the global-state owner
    (batch 0). A member batch validates only its own partitions: it drops
    NULL-partition rows (a NULL partition can never be excluded by value
    or marked done, so exactly one batch must own them), skips run-level
    synthetics (schema/aux findings), and skips ALL global-grain rules —
    the owner batch runs each global-grain rule ONCE over the full key
    set and emits its rows for every partition, instead of every batch
    re-scanning the full table (K× full key scans was the dominant
    batching overhead at scale). Callers composing batches manually should
    consult ``checkpoint.owner_complete`` on relaunch and pass
    ``batch_member=True`` for batch 0 once its first attempt completed —
    otherwise the relaunch re-emits run-level rows (validate_job does this).
    ``checkpoint_dir`` is read, never written: with ``resume`` the run
    skips the partitions it marks done, and ``reliable_cache`` keeps its
    cache there. The caller appends ``verdicts`` to it
    (``checkpoint.write_checkpoint``) AFTER its output writes are durable —
    a checkpoint that landed before the output would mark partitions done
    whose violations never landed anywhere.

    Member-batch degradation caveat: members mirror the owner's per-rule
    degradation (a rule that fails analysis is skipped) WITHOUT re-reporting
    the RULE_ERROR/AUX_* synthetic — the owner's single emission records
    it, keeping the batched union multiset-identical to a single run. The
    flip side: if the environment changes BETWEEN a crash and its relaunch
    (a dim becomes empty, a rule newly breaks), an owner-done relaunch runs
    only members and the new failure is skipped without a synthetic row.
    Batched runs assume a stable catalog/dims across attempts; after an
    environment change, start a fresh checkpoint dir."""
    dims = dims or {}
    if catalog is None:
        from data_check_spark.rules.catalog_audio import audio_catalog

        catalog = audio_catalog()
    run_id = uuid.uuid4().hex[:12]
    run_ts = run_ts or time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
    t0 = time.monotonic()

    schema_problems = validate_schema(clips, CLIPS_SCHEMA)

    # --- pre-flight: rules whose dimension is missing or empty are skipped
    # and replaced by synthetic violations (reference: aux-file-missing
    # early return with placeholder rows, dekispart.py:1316-1328).
    synthetic: list[tuple[str, str, str | None, str]] = []

    def run_level(rule_id: str, observed: str) -> None:
        # Run-level findings belong to the global-state-owning run: in
        # batched mode only batch 0 reports them, or the batched union
        # would repeat each once per batch. Rule errors are plan-time,
        # identical in every batch: members still skip the broken rule,
        # they just don't re-report it.
        if not batch_member:
            synthetic.append((rule_id, "N/A", None, observed))

    def rule_error(rule: Rule, e: Exception | str) -> None:
        run_level(f"RULE_ERROR_{rule.rule_id}", str(e).splitlines()[0][:200])

    for prob in schema_problems:
        run_level("SCHEMA_MISMATCH", prob)
    # A gate the kind cannot honour would silently widen the rule's scope.
    ungateable = [
        r for r in catalog.set_oriented if r.gate and SET_RULE_KINDS[r.kind].gate(r) == GATE_NONE
    ]
    for r in ungateable:
        mode = f" (mode={r.params['mode']})" if "mode" in r.params else ""
        rule_error(r, f"a {r.kind} rule{mode} cannot honour a gate")
    catalog = RuleCatalog([r for r in catalog if r not in ungateable])
    unavailable_dims: set[str] = set()
    needed_dims = set().union(*(SET_RULE_KINDS[r.kind].dims(r) for r in catalog.set_oriented))
    # One Spark job probes ALL dims for emptiness (a per-dim isEmpty() is a
    # tiny job per dimension per run — they fold into a single union scan of
    # one row each).
    provided = [n for n in sorted(needed_dims) if n in dims]
    nonempty: set[str] = set()
    if provided:
        heads = reduce(
            DataFrame.union,
            [dims[n].limit(1).select(F.lit(n).alias("_dim")) for n in provided],
        )
        nonempty = {r["_dim"] for r in heads.collect()}
    for name in sorted(needed_dims):
        if name not in dims:
            unavailable_dims.add(name)
            run_level(f"AUX_MISSING_{name.upper()}", f"dimension {name} not provided")
        elif name not in nonempty:
            unavailable_dims.add(name)
            run_level(f"AUX_EMPTY_{name.upper()}", f"dimension {name} is empty")
    if unavailable_dims:
        skipped = [
            r for r in catalog.set_oriented
            if SET_RULE_KINDS[r.kind].dims(r) & unavailable_dims
        ]
        catalog = RuleCatalog([r for r in catalog if r not in skipped])

    # Resume: the wide (bytes + SNR) pass runs only on partitions not yet
    # checkpointed. Global-grain rules (uniqueness, orphan) still see the
    # FULL key set via a narrow column-pruned scan of the original table —
    # a key-only scan is ~1% of the wide bytes at 10^12 rows, and without it
    # a duplicate spanning a completed and a new partition would be missed.
    cp_done: list[str] = []
    clips_full = clips
    if resume and checkpoint_dir:
        cp_done = cp.completed_partitions(spark, checkpoint_dir)
    # Out-of-batch partitions ride the same pruning as checkpointed ones;
    # attribution of global-grain output filters on cp_done ONLY (the
    # owner batch emits global rows for the whole table, excluded
    # partitions included — member batches skip global-grain entirely).
    done = sorted(set(cp_done) | set(exclude_partitions or []))
    if done:
        clips = cp.prune_completed(clips, done, partition_col)
    if batch_member:
        clips = clips.filter(F.col(partition_col).isNotNull())

    # --- single wide pass: byte_len + SNR in one mapInPandas stage, then the
    # binary column is gone. Everything downstream is narrow.
    audio_rules = [r for r in catalog.set_oriented if r.kind == "audio_decode"]
    caps = {r.params.get("cap_ms", 100) for r in audio_rules}
    if len(caps) > 1:
        # SNR is computed once in the wide pass; two rules disagreeing on the
        # decode cap would silently share the first rule's SNR column.
        raise ValueError(
            f"audio_decode rules disagree on cap_ms ({sorted(caps)}); "
            "use one cap per catalog (the wide pass decodes once)"
        )
    if "bytes" in clips.columns:
        cap = audio_rules[0].params.get("cap_ms", 100) if audio_rules else 100
        prepared = prepare_clips(clips, cap_ms=cap, with_snr=bool(audio_rules))
    else:
        prepared = clips.withColumn("byte_len", F.lit(None).cast("long")).withColumn(
            SNR_COL, F.lit(None).cast("double")
        )

    if cache_input:
        # Materialize NOW via eager checkpoint: (1) rule subplan branches
        # racing inside one job would each recompute the wide scan before
        # cache blocks landed; (2) Spark's in-memory cache build on top of a
        # python stage measured ~12x slower at local[32] than checkpointing
        # the computed batches directly.
        #
        # Default localCheckpoint is fast but NOT fault-tolerant: an executor
        # loss mid-run loses its blocks and kills the job. ``reliable_cache``
        # writes the narrow table to the cluster checkpoint dir instead
        # (HDFS/S3) so a 10^12-row run survives executor loss at the cost of
        # one distributed write — the right default on a real cluster.
        if reliable_cache:
            sc = spark.sparkContext
            if sc.getCheckpointDir() is None:
                if checkpoint_dir is None:
                    raise ValueError(
                        "reliable_cache needs sc.setCheckpointDir(...) or a "
                        "checkpoint_dir argument"
                    )
                sc.setCheckpointDir(f"{checkpoint_dir}/_spark_checkpoint")
            prepared = prepared.checkpoint(eager=True)
        else:
            prepared = prepared.localCheckpoint(eager=True)
        # The narrow table is consumed by ~8 rule subplans; zero-shuffle
        # coalesce to the shuffle-partition count so each downstream wave
        # schedules that many tasks instead of one per input split.
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        if prepared.rdd.getNumPartitions() > 2 * n_parts:
            prepared = prepared.coalesce(2 * n_parts)

    # --- per-rule isolation (reference: a crashing per-row check degrades to
    # UNEXPECTED_ERROR_<fn> violation rows, dekispart.py:1151-1157). A rule
    # whose regex, compile or analysis (column resolution, type check — no
    # job) fails becomes a synthetic RULE_ERROR_<id> row and the rest of the
    # catalog still runs.
    parts: list[DataFrame] = []
    compiled, failures = resolve_row_rules(prepared, catalog.row_local, run_ts)
    for r, e in failures:
        rule_error(r, e)
    if compiled:
        parts.append(apply_row_rules(prepared, compiled, partition_col=partition_col))

    # All drift rules share ONE sketch pass (one mapInPandas + one merge
    # shuffle regardless of how many columns are monitored).
    drift_rules = [r for r in catalog.set_oriented if r.kind == "drift"]
    if drift_rules:
        parts.append(
            drift_violations_multi(
                prepared,
                dims["baseline_stats"],
                [(r.rule_id, r.column, r.params.get("threshold", 0.25)) for r in drift_rules],
                partition_col=partition_col,
            )
        )

    # Member batches never run global-grain rules: the owner batch scans
    # the full key set ONCE and emits every partition's rows (K× full-table
    # key scans was the dominant batching overhead at scale). Decided apart
    # from `done`: a member with no exclusions and an empty checkpoint must
    # still skip, or it double-reports against the owner.
    active = [
        r for r in catalog.set_oriented
        if not (batch_member and SET_RULE_KINDS[r.kind].global_grain(r, partition_col))
    ]

    # FK-anti, orphan and byte-match rules on one (dim, fact_key, dim_key)
    # share ONE join (fused_dim_checks) in every run mode: full outer with
    # an orphan rule, left outer from the fact side without. A slot already
    # taken (two anti rules with different gates) starts another group. In
    # a pruned run the orphan rule still needs the full key set: the keys
    # of the pruned partitions join as rows this run does not own.
    groups: list[tuple[tuple[str, str, str], dict[str, Rule]]] = []
    for r in active:
        if fused := SET_RULE_KINDS[r.kind].fuse(r):
            slot, key = fused
            group = next((g for k, g in groups if k == key and slot not in g), None)
            if group is None:
                groups.append((key, group := {}))
            group[slot] = r
    for (dim_name, fact_key, dim_key), group in groups:
        anti, orphan, match = (group.get(s) for s in ("anti", "orphan", "match"))
        fact_text, ref_text = _text_cols(match) if match else (None, None)
        try:
            pruned_keys = None
            if orphan and done:
                pruned_keys = clips_full.filter(F.col(partition_col).isin(done)).select(fact_key)
            parts.append(
                fused_dim_checks(
                    prepared,
                    dims[dim_name],
                    fact_key=fact_key,
                    dim_key=dim_key,
                    partition_col=partition_col,
                    anti_rule=anti.rule_id if anti else None,
                    anti_gate=gate_condition(anti.gate, run_ts, anti.rule_id)
                    if anti and anti.gate else None,
                    orphan_rule=orphan.rule_id if orphan else None,
                    match_rule=match.rule_id if match else None,
                    fact_text=fact_text,
                    ref_text=ref_text,
                    pruned_keys=pruned_keys,
                )
            )
        except Exception as e:  # noqa: BLE001 — per-rule degradation, per group
            for r in group.values():
                rule_error(r, e)

    # Row-grain and value-grain uniqueness on the same column share ONE
    # duplicate-key computation (lazily checkpointed: computed by the first
    # consumer, reused by the second). Gated rules keep their own.
    dup_cols = [
        k for r in active
        if not r.gate and (k := SET_RULE_KINDS[r.kind].dup_key(r))
    ]
    uniq_src = clips_full if done else prepared
    shared_dups = {
        col: duplicate_keys(uniq_src, col).localCheckpoint(eager=False)
        for col in set(dup_cols) if dup_cols.count(col) > 1
    }

    for rule in active:
        kind = SET_RULE_KINDS[rule.kind]
        if kind.emit is None or kind.fuse(rule):
            continue
        global_grain = kind.global_grain(rule, partition_col)
        # Full-table key scan (column-pruned; never touches bytes).
        src = clips_full if done and global_grain else prepared
        dups = None if rule.gate else shared_dups.get(kind.dup_key(rule))
        try:
            gate = gate_condition(rule.gate, run_ts, rule.rule_id) if rule.gate else None
            if gate is not None and kind.gate(rule) == GATE_SCOPE:
                src, gate = src.filter(gate), None
            v = kind.emit(rule, src, dims, gate, partition_col, dups)
            if cp_done and global_grain:
                # Partition-attributed output: rows in partitions a
                # PREVIOUS attempt checkpointed were already reported by
                # that attempt. Keep NULL-partition rows — ~isin is
                # three-valued and would silently drop them.
                v = v.filter(~F.col("partition").isin(cp_done) | F.col("partition").isNull())
            parts.append(v)
        except Exception as e:  # noqa: BLE001 — same per-rule degradation
            rule_error(rule, e)

    if synthetic or not parts:
        # Without parts (legal but empty catalog, no synthetic rows) this is
        # an empty violations frame, not a reduce() over an empty iterable.
        parts.append(literal_frame(spark, synthetic, VIOLATIONS_SCHEMA))
    # localCheckpoint (lazy) rather than persist: a persisted plan compiles
    # non-adaptively (no runtime broadcast conversion) and measured 5x
    # slower; the checkpoint materializes through the normal AQE path on the
    # first action (the verdict job) and later actions reuse the stored rows.
    violations = reduce(DataFrame.unionByName, parts).localCheckpoint(eager=False)

    # Per-partition verdicts: rows scanned vs violations (partition-grain
    # violations with NULL clip_id count against their partition too).
    # Severity tier (reference: エラー vs 警告, check_definitions.json:954-960):
    # warning-severity rules are counted but do NOT fail a partition — a
    # partition whose only violations are warnings passes.
    warning_ids = sorted(
        {c.rule_id for c in compiled if c.severity == "warning"}
        | {r.rule_id for r in catalog.set_oriented if r.severity == "warning"}
    )
    rows_per_part = prepared.groupBy(F.col(partition_col).alias("partition")).agg(
        F.count(F.lit(1)).alias("rows_scanned")
    )
    viol_per_part = _partition_violation_counts(violations, warning_ids)
    verdicts = (
        rows_per_part.join(viol_per_part, "partition", "left")
        .select(
            "partition",
            (F.coalesce(F.col("_errors"), F.lit(0)) == 0).alias("passed"),
            "rows_scanned",
            F.coalesce(F.col("_viols"), F.lit(0)).alias("violations"),
        )
    )
    # Same AQE-preserving materialization rule as the violations frame.
    verdicts = verdicts.localCheckpoint(eager=False)
    rows_scanned = verdicts.agg(F.sum("rows_scanned")).collect()[0][0] or 0
    wall_ms = int((time.monotonic() - t0) * 1000)
    # Spark can't attribute wall-time to a logical partition inside one job;
    # the checkpoint stores the run-level wall time on each row (documented).
    verdicts = verdicts.withColumn("wall_time_ms", F.lit(wall_ms))

    if rows_scanned == 0 and not batch_member:
        # Empty fact table is itself a violation (reference: empty-df
        # placeholder rows, dekispart.py:1330-1337). A resumed/partial run
        # scanning 0 rows is NOT an empty table (its partitions were
        # pruned), so those paths probe the PRE-pruned table — one take(1)
        # on a column-pruned scan, paid only in the already-degenerate
        # 0-rows-scanned case. Without the probe, batched mode (which
        # always passes resume=True) could never report an empty table.
        fresh_run = not (resume and checkpoint_dir) and not exclude_partitions
        if fresh_run or not clips_full.select(partition_col).take(1):
            empty_row = literal_frame(
                spark, [("EMPTY_INPUT", "N/A", None, "fact table has no rows")], VIOLATIONS_SCHEMA
            )
            violations = violations.unionByName(empty_row)

    return ValidationResult(
        violations=violations,
        verdicts=verdicts,
        run_id=run_id,
        wall_time_ms=wall_ms,
        rows_scanned=int(rows_scanned),
        schema_problems=schema_problems,
    )


def reconcile_outputs(
    spark: SparkSession,
    output_dir: str,
    checkpoint_dir: str,
    *,
    warning_ids: list[str] | None = None,
    fallback_lineage: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exactly-once read view over validate_job's at-least-once appends.

    The job writes outputs BEFORE the checkpoint (a crash between the two
    must re-validate, never mark rows done that were never written), which
    means a crash in that window leaves an ORPHAN attempt in the output dir:
    committed violation/verdict rows under a run_id that was never
    checkpointed, re-validated by the relaunch under a fresh run_id. This
    reader reconciles by checkpoint lineage:

    - valid run_ids = the ``lineage`` values of latest-done checkpoint rows
      (each run_validation call appends its whole batch's rows + lineage in
      ONE write, so run_id granularity is exact) — orphan attempts are
      dropped wholesale;
    - NULL-partition / run-level rows (never checkpointable by partition)
      are taken from the owner-sentinel lineage when present (batched mode:
      exactly one owner emission), else from the most recent lineage (plain
      resume: the LAST attempt rescans all NULL rows, earlier attempts'
      copies are superseded);
    - verdicts are recomputed from the reconciled violations, so member
      partitions whose only violations are global-grain rows (emitted by
      the owner batch, invisible to their own batch) get the same
      violation counts and pass/fail the single run would report.

    Returns (violations, verdicts). ``warning_ids``: rules whose violations
    do not fail a partition (pass the catalog's warning-severity ids —
    engine parity requires the same severity tiering). ``fallback_lineage``:
    the caller's own run_id, used only when the checkpoint holds zero done
    rows (legal for an empty-input run) so the run-level rows still
    reconcile instead of raising.

    Known edge outside the guarantee — DETECTED, raises: in BATCHED mode,
    ``mark_failed`` on a partition the OWNER batch validated, followed by a
    relaunch, would mix that partition's old owner-lineage rows (kept —
    they share a run_id with the owner's member-partition global-grain
    rows, which must survive) with the re-validating attempt's rows. That
    shape is recognizable in the checkpoint alone (a non-sentinel partition
    with a done row under the owner lineage whose LATEST done lineage is a
    different run_id) and this reader raises ValueError with the remedy
    (repair owner-batch partitions via a fresh checkpoint dir) instead of
    returning a silently-duplicated view. Member-batch partitions reconcile
    correctly through the same mark_failed workflow."""
    cpdf = cp.read_checkpoint(spark, checkpoint_dir)
    if cpdf is None:
        raise ValueError(f"no checkpoint at {checkpoint_dir!r} — nothing to reconcile")
    # Lazily checkpointed: the first action below computes it once, and the
    # output plans then read the stored rows instead of aggregating the
    # checkpoint again for each consumer.
    latest = cp._latest_done(cpdf).localCheckpoint(eager=False)
    # (partition -> latest-done lineage) pairs, NOT a flat run_id set: a
    # partition re-validated under a second checkpointed lineage (e.g.
    # mark_failed + relaunch) has rows under BOTH run_ids in the output,
    # and only its latest-done attempt's rows may survive. The owner
    # sentinel's lineage is additionally valid for EVERY partition: the
    # owner emits member partitions' global-grain rows under its own
    # run_id, exactly once (a relaunched owner runs as a member). The pairs
    # stay a Spark frame; the driver collects only what it decides on.
    pair_df = F.broadcast(
        latest.filter(
            F.col("partition").isNotNull() & (F.col("partition") != cp.OWNER_SENTINEL)
        ).select("partition", F.col("lineage").alias("run_id"))
    )
    # One row: the owner sentinel's latest-done lineage (one latest row per
    # partition, so at most one) and the newest done lineage (NULL iff the
    # checkpoint holds no done row).
    facts = latest.agg(
        F.max(F.when(F.col("partition") == cp.OWNER_SENTINEL, F.col("lineage"))).alias("owner"),
        F.max_by("lineage", "completed_at").alias("newest"),
    ).first()
    owner_rids: list[str] = []
    if facts["owner"] is not None:
        owner_rids = [facts["owner"]]
        # Detect the one shape this reader cannot reconcile: an OWNER-batch
        # partition repaired via mark_failed + relaunch in the SAME
        # checkpoint dir. Its latest-done lineage is the repair attempt,
        # but its original per-row violations live under the owner lineage
        # — which must stay valid globally (it carries every member
        # partition's global-grain rows), so the old rows cannot be
        # filtered out by partition+run_id and the view would duplicate.
        # The checkpoint alone reveals the shape: a non-sentinel partition
        # with a done row under the owner lineage whose latest-done row is
        # a different lineage. Raise with the remedy rather than return a
        # silently-duplicated multiset. The collect is bounded by the
        # conflicted partitions.
        owner_parts = cpdf.filter(
            (F.col("status") == "done")
            & F.col("lineage").isin(owner_rids)
            & (F.col("partition") != cp.OWNER_SENTINEL)
        ).select("partition")
        conflicted = sorted(
            r["partition"]
            for r in pair_df.filter(~F.col("run_id").isin(owner_rids))
            .join(owner_parts, "partition", "left_semi")
            .collect()
        )
        if conflicted:
            raise ValueError(
                "cannot reconcile exactly-once: partition(s) "
                f"{conflicted} were validated by the OWNER batch and later "
                "re-validated under a different lineage (mark_failed + "
                "relaunch into the same checkpoint dir). Owner-lineage rows "
                "cannot be split by grain, so the reconciled view would "
                "duplicate these partitions' violations. Repair owner-batch "
                "partitions with a fresh --checkpoint-dir (and a fresh "
                "output dir) instead."
            )
        null_rid = facts["owner"]
    elif facts["newest"] is not None:
        null_rid = facts["newest"]
    elif fallback_lineage is not None:
        # A checkpoint dir with zero done rows is legal: an empty-input run
        # writes run-level rows (EMPTY_INPUT) and a zero-row checkpoint.
        # The caller's own run_id anchors those rows; without it there is
        # no lineage to reconcile against.
        null_rid = fallback_lineage
        owner_rids = [fallback_lineage]
    else:
        raise ValueError(
            f"checkpoint at {checkpoint_dir!r} has no completed rows and no "
            "fallback_lineage was given — nothing to reconcile against"
        )

    def _attributed_ok(df: DataFrame) -> DataFrame:
        """non-NULL-partition rows valid under their partition's latest-done
        lineage, plus owner-lineage rows for any partition."""
        by_pair = df.join(pair_df, ["partition", "run_id"], "left_semi")
        if owner_rids:
            return by_pair.unionByName(
                df.join(pair_df, ["partition", "run_id"], "left_anti").filter(
                    F.col("partition").isNotNull()
                    & F.col("run_id").isin(owner_rids)
                )
            )
        return by_pair

    # Explicit schemas: an empty-input run writes zero rows under
    # partitionBy(run_id) — no part files — and schema inference would
    # fail on the empty directory.
    v = spark.read.schema(
        "rule_id string, clip_id string, partition string, observed string, "
        "run_id string"
    ).parquet(f"{output_dir}/violations")
    d = spark.read.schema(
        "partition string, passed boolean, rows_scanned long, "
        "violations long, wall_time_ms long, run_id string"
    ).parquet(f"{output_dir}/verdicts")
    violations = _attributed_ok(v).unionByName(
        v.filter(F.col("partition").isNull() & (F.col("run_id") == null_rid))
    )

    viol_per_part = _partition_violation_counts(violations, sorted(warning_ids or []))
    verdicts = (
        # NULL-partition verdict rows need the same lineage restriction as
        # NULL violations: every resume attempt re-emits one (never
        # checkpointable), so keeping them from every valid run_id would
        # duplicate the NULL verdict and double-count its rows_scanned.
        _attributed_ok(d)
        .unionByName(
            d.filter(F.col("partition").isNull() & (F.col("run_id") == null_rid))
        )
        .select("partition", "rows_scanned", "wall_time_ms", "run_id")
        .join(viol_per_part, "partition", "left")
        .select(
            "partition",
            (F.coalesce(F.col("_errors"), F.lit(0)) == 0).alias("passed"),
            "rows_scanned",
            F.coalesce(F.col("_viols"), F.lit(0)).alias("violations"),
            "wall_time_ms",
            "run_id",
        )
    )
    return violations, verdicts
