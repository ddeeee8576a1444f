"""Rule compiler: declarative spec → pyspark Column predicates → ONE scan.

The reference evaluates N rules with an interpreted Python loop over
``df.iterrows()`` — O(rows × rules) driver-side Python (reference:
dekispart.py:1141-1164). Here every row-local rule compiles to a Column
predicate and ALL of them are evaluated in a single projection:

    array( when(pred_1, struct(rule_id_1, observed_1)), ... )
    → filter(x -> x is not null) → explode

One parquet scan, whole-stage codegen end-to-end, zero per-row Python. At
10^12 rows this is the difference between 1 pass and N passes; Catalyst
additionally prunes the scan to exactly the columns the rules touch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_check_spark.functions.blank import is_blank, is_present, norm_text
from data_check_spark.rules.spec import Rule


@dataclass(frozen=True)
class CompiledRule:
    rule_id: str
    predicate: Column  # TRUE = violation
    observed: Column  # string detail for the violation row
    severity: str = "error"


def _observed_default(column: str | None) -> Column:
    if column is None:
        return F.lit(None).cast("string")
    return F.col(column).cast("string")


def expand_run_ts(expr: str, run_ts: str | None, rule_id: str = "?") -> str:
    """Substitute the pinned run timestamp into a SQL expression string.

    Shared by predicate exprs, gates (row-local, multi_column, set-oriented,
    and the engine's fused-join gate reconstruction) so every path that
    accepts ``{run_ts}`` expands it identically."""
    if "{run_ts}" not in expr:
        return expr
    if run_ts is None:
        raise ValueError(f"rule {rule_id} needs run_ts but none was pinned")
    return expr.replace("{run_ts}", f"timestamp'{run_ts}'")


def gate_condition(gate: str, run_ts: str | None, rule_id: str = "?") -> Column:
    """Gate SQL → Column; NULL gate = not applicable = pass."""
    return F.coalesce(F.expr(expand_run_ts(gate, run_ts, rule_id)), F.lit(False))


def compile_rule(rule: Rule, run_ts: str | None = None) -> CompiledRule:
    """Compile one row-local rule into (predicate, observed)."""
    p = rule.params
    col = F.col(rule.column) if rule.column else None
    observed = _observed_default(rule.column)

    if rule.kind == "not_null":
        pred = is_blank(rule.column)
        observed = F.lit("<blank>")

    elif rule.kind == "format":
        # Blank-exempt by default: blankness is its own rule family
        # (reference: CHK_0005 gates on non-blank, dekispart.py:165-201).
        # FULL match per the spec ("value must fully match pattern"):
        # rlike() is a find, so unanchored patterns would silently accept
        # values that merely CONTAIN a match. Wrapping an already-anchored
        # pattern is a no-op (inner ^/$ still match at the ends).
        pattern = p["pattern"]
        pred = is_present(rule.column) & ~col.cast("string").rlike(f"^(?:{pattern})$")

    elif rule.kind == "forbidden_substring":
        if not p["any_of"]:
            # rlike('') matches EVERY string — an empty list would flag
            # 100% of present rows instead of being a config error.
            raise ValueError(f"forbidden_substring rule {rule.rule_id} needs a non-empty any_of")
        target = norm_text(rule.column) if p.get("normalize") else col.cast("string")
        alternation = "|".join(p["any_of"])
        pred = is_present(rule.column) & target.rlike(alternation)

    elif rule.kind == "value_in_set":
        allowed = p["allowed"]
        target = col.cast("string")
        if not p.get("case_sensitive", True):
            target = F.lower(target)
            allowed = [str(v).lower() for v in allowed]
        pred = is_present(rule.column) & ~target.isin(allowed)

    elif rule.kind == "range":
        conds = []
        if "min" in p:
            conds.append(col < F.lit(p["min"]))
        if "max" in p:
            conds.append(col > F.lit(p["max"]))
        if not conds:
            raise ValueError(f"range rule {rule.rule_id} needs min and/or max")
        pred = conds[0]
        for c in conds[1:]:
            pred = pred | c
        if not p.get("null_violates", False):
            pred = col.isNotNull() & pred
        else:
            pred = col.isNull() | pred

    elif rule.kind == "length":
        ln = F.length(col.cast("string"))
        conds = []
        if "exact" in p:
            conds.append(ln != F.lit(p["exact"]))
        if "min" in p:
            conds.append(ln < F.lit(p["min"]))
        if "max" in p:
            conds.append(ln > F.lit(p["max"]))
        if not conds:
            raise ValueError(f"length rule {rule.rule_id} needs exact, min and/or max")
        pred = conds[0]
        for c in conds[1:]:
            pred = pred | c
        pred = is_present(rule.column) & pred

    elif rule.kind == "cross_column":
        pred = F.expr(expand_run_ts(p["expr"], run_ts, rule.rule_id))

    elif rule.kind in ("multi_column", "date_parse"):
        raise ValueError(f"{rule.kind} rules expand to several compiled rules; use compile_rule_many")

    else:
        raise ValueError(f"rule kind {rule.kind!r} is not row-local; dispatch to operators")

    # Any rule kind may override the observed detail (e.g. fixed-point
    # formatting of doubles so observed strings are engine-portable).
    if "observed_expr" in p:
        observed = F.expr(p["observed_expr"]).cast("string")

    if rule.gate:
        # Violation requires gate TRUE (null gate = not applicable = pass).
        pred = gate_condition(rule.gate, run_ts, rule.rule_id) & pred

    return CompiledRule(rule.rule_id, pred, observed, rule.severity)


def _compile_date_parse(rule: Rule, run_ts: str | None) -> list[CompiledRule]:
    """``date_parse`` → [primary value-check rule?, <RULE>_PARSE_ERROR rule].

    The reference escalates unparseable (non-blank) date strings to a
    secondary rule id while the primary rule checks the parsed value
    (CHK_0044_DATE_PARSE_ERROR dekispart.py:855-859, CHK_0022_DATE_ERROR
    innosite.py:417-419). Both predicates compile into the same single-pass
    projection; ``try_to_timestamp`` keeps parsing JVM-side and null-safe.
    """
    p = rule.params
    col_sql = f"`{rule.column}`"
    fmt = p.get("format")
    # '' doubling: a format containing an apostrophe (datetime-literal
    # quoting, e.g. yyyy-MM-dd''T''HH) must survive the SQL string literal.
    fmt_sql = f"'{fmt.replace(chr(39), chr(39) * 2)}'" if fmt else None
    parsed_sql = (
        f"try_to_timestamp({col_sql}, {fmt_sql})" if fmt else f"try_to_timestamp({col_sql})"
    )
    parsed = F.expr(parsed_sql)
    gate = gate_condition(rule.gate, run_ts, rule.rule_id) if rule.gate else None
    out: list[CompiledRule] = []
    if "expr" in p:
        expr = expand_run_ts(p["expr"].replace("{parsed}", parsed_sql), run_ts, rule.rule_id)
        pred = parsed.isNotNull() & F.expr(expr)
        if "observed_expr" in p:
            observed = F.expr(
                expand_run_ts(p["observed_expr"].replace("{parsed}", parsed_sql), run_ts, rule.rule_id)
            ).cast("string")
        else:
            observed = F.col(rule.column).cast("string")
        if gate is not None:
            pred = gate & pred
        out.append(CompiledRule(rule.rule_id, pred, observed, rule.severity))
    err_id = p.get("parse_rule_id", f"{rule.rule_id}_PARSE_ERROR")
    err_pred = is_present(rule.column) & parsed.isNull()
    if gate is not None:
        err_pred = gate & err_pred
    out.append(CompiledRule(err_id, err_pred, F.col(rule.column).cast("string"), rule.severity))
    return out


def compile_rule_many(rule: Rule, run_ts: str | None = None) -> list[CompiledRule]:
    """Compile a rule to one-or-more (predicate, observed) entries.

    ``multi_column`` expands to one compiled entry PER FIELD (same rule_id),
    so a row violating k fields emits k violation rows — the reference's
    per-field emission (CLOUD CHK_0006/0022, cloud.py:237-246, 765-787).
    ``date_parse`` expands to the primary parsed-value rule plus the
    ``<RULE_ID>_PARSE_ERROR`` escalation rule."""
    if rule.kind == "date_parse":
        return _compile_date_parse(rule, run_ts)
    if rule.kind != "multi_column":
        return [compile_rule(rule, run_ts)]
    p = rule.params
    template = p["expr"]
    observed_t = p.get("observed_expr", "concat('{col}=', cast(`{col}` as string))")
    out = []
    for col in p["columns"]:
        pred = F.expr(expand_run_ts(template.replace("{col}", col), run_ts, rule.rule_id))
        if rule.gate:
            pred = gate_condition(rule.gate, run_ts, rule.rule_id) & pred
        observed = F.expr(observed_t.replace("{col}", col)).cast("string")
        out.append(CompiledRule(rule.rule_id, pred, observed, rule.severity))
    return out


def compile_row_rules(rules: list[Rule], run_ts: str | None = None) -> list[CompiledRule]:
    out: list[CompiledRule] = []
    for r in rules:
        if r.is_row_local:
            out.extend(compile_rule_many(r, run_ts))
    return out


def resolve_row_rules(
    df: DataFrame, rules: list[Rule], run_ts: str | None
) -> tuple[list[CompiledRule], list[tuple[Rule, Exception]]]:
    """Compile ``rules`` and check them against ``df``'s schema without
    running a job: ``(compiled, failures)``, where ``failures`` holds each
    rule that cannot run with its exception, in catalog order.

    Per rule: its regexes precompile on the JVM (a JVM regex otherwise
    compiles lazily, at the first row it meets) and it compiles to
    (predicate, observed) pairs. Then ONE batched analysis probe resolves
    every compiled pair's columns and types; only when that probe fails
    does each rule get its own probe, to attribute the failure — a per-rule
    ``.schema`` costs a py4j analysis round-trip each, which adds up across
    the catalog."""
    jvm_pattern = df.sparkSession._jvm.java.util.regex.Pattern
    failures: list[tuple[Rule, Exception]] = []
    candidates: list[tuple[Rule, list[CompiledRule]]] = []
    for r in rules:
        try:
            for pat in [r.params.get("pattern"), *(r.params.get("any_of") or [])]:
                if pat is not None:
                    jvm_pattern.compile(pat)
            candidates.append((r, compile_rule_many(r, run_ts)))
        except Exception as e:  # noqa: BLE001 — reported, the caller decides
            failures.append((r, e))

    def probe(pairs: list[CompiledRule]) -> None:
        df.select(
            *[e for c in pairs for e in (c.predicate.cast("boolean"), c.observed)]
        ).schema

    compiled: list[CompiledRule] = []
    try:
        if candidates:
            probe([c for _, rc in candidates for c in rc])
        compiled = [c for _, rc in candidates for c in rc]
    except Exception:  # noqa: BLE001 — bisect to the broken rule(s)
        for r, rc in candidates:
            try:
                probe(rc)
                compiled.extend(rc)
            except Exception as e:  # noqa: BLE001 — reported, the caller decides
                failures.append((r, e))
    return compiled, failures


def apply_row_rules(
    df: DataFrame,
    compiled: list[CompiledRule],
    *,
    id_col: str = "clip_id",
    partition_col: str | None = "partition",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Evaluate ALL compiled rules in one projection pass.

    Returns the violations DataFrame (rule_id, clip_id, partition, observed
    [, *extra_cols]). ``id_col``/``partition_col`` are parameterized so the
    same engine runs on any fact table (the DuckDB oracle harness uses TPC-H
    tables); ``extra_cols`` carries pass-through columns such as the event
    timestamp for streaming windowed monitors — the streaming path reuses
    THIS projection rather than forking the hit-array logic.
    """
    if not compiled:
        raise ValueError("no compiled rules")

    hit_structs = [
        F.when(
            c.predicate,
            F.struct(
                F.lit(c.rule_id).alias("rule_id"),
                c.observed.alias("observed"),
            ),
        )
        for c in compiled
    ]
    hits = F.filter(F.array(*hit_structs), lambda x: x.isNotNull())

    part = F.col(partition_col) if partition_col else F.lit(None).cast("string")
    extras = list(extra_cols or [])
    return (
        df.select(
            F.col(id_col).cast("string").alias("clip_id"),
            part.alias("partition"),
            *extras,
            F.explode(hits).alias("v"),
        )
        .select(
            F.col("v.rule_id").alias("rule_id"),
            "clip_id",
            "partition",
            F.col("v.observed").alias("observed"),
            *extras,
        )
    )
