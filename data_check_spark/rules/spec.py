"""Declarative rule specifications.

The reference keeps rule *metadata* in a JSON catalog keyed by check ID
(reference: check_definitions.json:2-975, schema documented design.md:102-114)
but hard-codes rule *logic* as Python closures (reference:
dekispart.py:1112-1139). This engine unifies both: one JSON-able spec per rule
carries the metadata AND enough structure for the compiler to produce a
``pyspark.sql.Column`` predicate. Rules therefore ship as data
(``--files rules.json``), not code.

Row-local kinds (compiled into the single-pass projection):

- ``not_null``            — blank check (tri-state blank semantics)
- ``format``              — value must fully match ``pattern`` (blank-exempt)
- ``forbidden_substring`` — value must not contain/match any of ``any_of``
- ``value_in_set``        — value must be one of ``allowed`` (blank-exempt)
- ``range``               — numeric bounds ``min``/``max`` (inclusive)
- ``length``              — exact/min/max string length
- ``cross_column``        — arbitrary SQL boolean expr over the row; TRUE =
                            violation. ``{run_ts}`` expands to the pinned run
                            timestamp literal (determinism: the reference
                            calls ``datetime.now()`` per row,
                            dekispart.py:473; we pin one literal per job).
- ``multi_column``        — one predicate template applied to each of
                            ``columns``; ONE violation per matching FIELD
                            (reference: CLOUD CHK_0006/0022 per-field
                            emission, cloud.py:237-246, 765-787). The
                            template uses ``{col}`` as the placeholder.
- ``date_parse``          — parse ``column`` with ``try_to_timestamp``
                            (optional ``format``); a non-blank value that
                            fails to parse emits a SECONDARY rule id
                            ``<RULE_ID>_PARSE_ERROR`` (override via
                            ``parse_rule_id``), and the optional ``expr``
                            (with ``{parsed}`` as the parsed-value
                            placeholder) checks successfully parsed values
                            under the primary rule id — the reference's
                            parse-null escalation (dekispart.py:855-859,
                            innosite.py:417-419, 396-398).

Set-oriented kinds (dispatched to operators, not the projection):

- ``unique``              — two-phase (partial/final) duplicate detection
- ``referential``         — semi/anti join against a dimension table
- ``aggregate_unique``    — one violation per duplicate *value* (reference:
                            dekispart_school.py:204-208)
- ``drift``               — t-digest distribution drift vs baseline snapshot
- ``cat_drift``           — categorical-mix drift (per-partition
                            total-variation distance vs the table mix)
- ``rate_drift``          — predicate-rate drift (per-partition rate of a
                            boolean SQL predicate — null/blank rate, error
                            rate — vs the whole-table rate, basis points)
- ``volume_drift``        — per-partition row count vs the uniform
                            expectation (mean partition size, basis points)
- ``audio_decode``        — decoded-PCM SNR>=30dB allclose (pandas UDF)
- ``transcript_match``    — byte-equality vs transcript dimension
- ``func_dep``            — functional dependency: ``params["determinant"]``
                            columns must determine ``column`` (>1 distinct
                            dependent value per determinant tuple violates;
                            ``grain`` row|group, NULL dependents ignored
                            unless ``count_null_dependent``)
- ``reconcile``           — aggregate-grain arithmetic consistency: the
                            fact table's stored total (``column``) must
                            equal the sum of ``params["amount_col"]`` over
                            the child rows in ``params["dim"]`` grouped by
                            ``params["dim_key"]`` (joined to the fact's
                            ``params["fact_key"]``), to within
                            ``params["tolerance_cents"]`` integer cents.
                            Header↔detail reconciliation — the aggregate
                            lift of the row-grain price-arithmetic family
                            (innosite.py CHK_0002)
- ``cardinality``         — relationship multiplicity: each fact row's
                            child count in ``params["dim"]`` (child key
                            ``params["dim_key"]`` vs fact key
                            ``params["fact_key"]``) must fall inside
                            ``[params["min_children"],
                            params["max_children"]]`` (max optional).
                            Referential proves existence; this proves HOW
                            MANY — "every clip has exactly one transcript"
- ``outlier``             — per-group robust outliers: rows whose ``column``
                            falls outside Tukey's fence (Q1−1.5·IQR,
                            Q3+1.5·IQR] of their group's own distribution —
                            learned bounds where ``range`` hard-codes them.
                            ``params["group_by"]`` (default: the partition
                            column), ``params["scale"]`` quantization
                            (default 100). Grouped by anything but the
                            partition column, it is whole-table (see below)
- ``agg_threshold``       — whole-table SLA: the integer aggregate
                            ``params["metric_expr"]`` must lie inside
                            [``min_value``, ``max_value``]; a breach is one
                            NULL-partition row. Always whole-table

Whole-table rules in resume and batched runs: a rule whose result depends on
rows outside a partition runs once over the FULL input table, not over the
wide pass's output, so its expressions cannot read the wide-pass columns
(``byte_len``, the SNR column, the decoded-audio features). An
``agg_threshold`` metric or a cross-partition ``outlier`` column over them
works in a single fresh run and is a RULE_ERROR row in resume and batched
runs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

ROW_LOCAL_KINDS = {
    "not_null",
    "format",
    "forbidden_substring",
    "value_in_set",
    "range",
    "length",
    "cross_column",
    "multi_column",
    "date_parse",
}

SET_KINDS = {
    "agg_threshold",
    "unique",
    "aggregate_unique",
    "referential",
    "drift",
    "cat_drift",
    "rate_drift",
    "volume_drift",
    "audio_decode",
    "transcript_match",
    "transcript_wer",
    "func_dep",
    "outlier",
    "reconcile",
    "cardinality",
}

SEVERITIES = {"error", "warning"}


@dataclass(frozen=True)
class Rule:
    rule_id: str
    kind: str
    column: str | None = None
    # hash=False: the generated __hash__ would TypeError on the dict field,
    # making every set()/dict-key use of Rule blow up despite frozen=True.
    # Equality still includes params.
    params: dict[str, Any] = field(default_factory=dict, hash=False)
    # SQL boolean expr; rule only applies where gate is TRUE (reference's
    # "active member" gates, e.g. stdKaiyaku==False, dekispart.py:154).
    # Every row-local kind honours it, and so do unique, aggregate_unique,
    # referential anti/semi, audio_decode, agg_threshold, outlier, func_dep,
    # reconcile and cardinality. drift, cat_drift, rate_drift, volume_drift,
    # transcript_match, transcript_wer and referential orphan cannot: a
    # gated rule of those kinds is a RULE_ERROR row and does not run.
    gate: str | None = None
    severity: str = "error"  # error | warning
    name: str = ""
    message: str = ""

    def __post_init__(self) -> None:
        if self.kind not in ROW_LOCAL_KINDS | SET_KINDS:
            raise ValueError(f"unknown rule kind: {self.kind!r} ({self.rule_id})")
        # Only "warning" spares a partition; any other spelling would be
        # counted as an error and fail partitions meant only to warn.
        if self.severity not in SEVERITIES:
            raise ValueError(
                f"unknown severity: {self.severity!r} ({self.rule_id}); "
                f"expected one of {sorted(SEVERITIES)}"
            )

    @property
    def is_row_local(self) -> bool:
        return self.kind in ROW_LOCAL_KINDS

    def to_dict(self) -> dict[str, Any]:
        return {
            "rule_id": self.rule_id,
            "kind": self.kind,
            "column": self.column,
            # copy: the caller mutating the exported dict must not reach
            # back into this frozen rule's params
            "params": dict(self.params),
            "gate": self.gate,
            "severity": self.severity,
            "name": self.name,
            "message": self.message,
        }


@dataclass
class RuleCatalog:
    rules: list[Rule]

    def __post_init__(self) -> None:
        seen: set[str] = set()
        for r in self.rules:
            if r.rule_id in seen:
                raise ValueError(f"duplicate rule_id in catalog: {r.rule_id}")
            seen.add(r.rule_id)

    @property
    def row_local(self) -> list[Rule]:
        return [r for r in self.rules if r.is_row_local]

    @property
    def set_oriented(self) -> list[Rule]:
        return [r for r in self.rules if not r.is_row_local]

    def __iter__(self):
        return iter(self.rules)

    def __len__(self) -> int:
        return len(self.rules)

    def get(self, rule_id: str) -> Rule:
        for r in self.rules:
            if r.rule_id == rule_id:
                return r
        raise KeyError(rule_id)

    # Message resolution mirrors the reference's user-message override chain
    # (reference: data_check.py:539-550: user_message > default_message).
    def message_for(self, rule_id: str) -> str:
        r = self.get(rule_id)
        return r.message or r.name or rule_id

    def to_json(self) -> str:
        return json.dumps([r.to_dict() for r in self.rules], ensure_ascii=False, indent=2)

    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(self.to_json())


def load_catalog(path_or_list: str | list[dict[str, Any]]) -> RuleCatalog:
    if isinstance(path_or_list, str):
        with open(path_or_list, encoding="utf-8") as f:
            raw = json.load(f)
    else:
        raw = path_or_list
    return RuleCatalog([Rule(**item) for item in raw])
