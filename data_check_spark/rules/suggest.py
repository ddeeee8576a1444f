"""Rule suggestion: bootstrap a RuleCatalog from what a table actually holds.

The profiling-to-rules bridge (the workflow Deequ calls constraint
suggestion and the reference's authors performed by hand when they wrote
check_definitions.json): profile the table once, then propose the rules the
current data already satisfies — a reviewable starting catalog, not an
auto-deployed one. Suggested rules are exactly the compiler kinds
(rules/compiler.py), so the output drops straight into ``apply_row_rules``,
``run_validation``, or a ``validate_job --rules`` file.

Heuristics (all evidence-based, each rule true of the profiled data):

- ``<COL>_NOT_NULL`` — the column has zero NULL/blank values;
- ``<COL>_UNIQUE``   — distinct count equals row count (candidate key);
- ``<COL>_RANGE``    — numeric: the observed [min, max] envelope;
- ``<COL>_SET``      — low-cardinality string: the observed value set;
- ``<COL>_FORMAT``   — string whose non-null values all share ONE structure
  mask (profile.format_masks), converted to an anchored regex
  (A→[A-Z], a→[a-z], 9→[0-9], punctuation literal).

Cost: nominate-then-verify. The profile pass uses HLL++ distinct counts
(``column_profile(approx=True)`` — a plain partial+final aggregate; the
exact multi-``count_distinct`` path plans an Expand that multiplies every
row by the column count BEFORE the shuffle, which at 100 TB is a second
full-table aggregation storm). The approximate counts only NOMINATE:

- UNIQUE nominees (approx distinct near the row count) are re-verified with
  one exact single-column ``count_distinct`` each (no Expand — nominees are
  rare, and each job scans one column);
- SET candidacy is decided by the EXACT ``collect_set`` size (HLL only
  prunes obviously-high-cardinality columns from the collect);
- every other decision (not-null, range, format) never depended on distinct
  counts.

So the emitted catalog matches the exact path's up to HLL error bounds:
UNIQUE nomination gates on the HLL estimate reaching 0.8×n_rows, and at
rsd=0.02 an estimate for a truly-unique column landing below that bar is a
>10-sigma event — astronomically unlikely, but not a hard guarantee. Every
other rule family's decision is exact, and the DuckDB oracle replays the
decisions with exact SQL.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_check_spark.rules.spec import Rule, RuleCatalog

_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def _mask_to_regex(mask: str) -> str:
    out = []
    for ch in mask:
        if ch == "A":
            out.append("[A-Z]")
        elif ch == "a":
            out.append("[a-z]")
        elif ch == "9":
            out.append("[0-9]")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def suggest_rules(
    df: DataFrame,
    *,
    columns: list[str] | None = None,
    max_set_size: int = 12,
) -> RuleCatalog:
    """Propose a catalog the current data satisfies (see module docstring)."""
    from data_check_spark.operators.profile import column_profile, format_masks

    dtypes = dict(df.dtypes)
    cols = columns or [c for c, t in df.dtypes if t != "binary"]
    # The three discovery scans are latency-dominated single-task jobs on a
    # small table (fixed ~0.35s job cost each on this host) and mutually
    # independent: run the profile as two concurrent column-halves and the
    # mask histogram (over ALL string columns — enum columns' masks are
    # simply discarded after the exact SET decision below) alongside them.
    # Decisions are unchanged — this only overlaps job latency; on a real
    # cluster the same three jobs share executor slots the same way.
    from concurrent.futures import ThreadPoolExecutor

    str_cols = [c for c in cols if dtypes[c] == "string"]
    n_chunks = min(3, max(1, len(cols) // 2))
    chunks = [cols[i::n_chunks] for i in range(n_chunks)]
    with ThreadPoolExecutor(max_workers=n_chunks + 1) as ex:
        prof_futs = [
            ex.submit(
                lambda cs=cs: column_profile(
                    df, cs, approx=True, rsd=0.02
                ).collect()
            )
            for cs in chunks
            if cs
        ]
        mask_fut = (
            ex.submit(lambda: format_masks(df, str_cols, top_n=1).collect())
            if str_cols
            else None
        )
        prof = {r["col_name"]: r for f in prof_futs for r in f.result()}
        all_masks = {r["col_name"]: r for r in mask_fut.result()} if mask_fut else {}

    def _blanks(p) -> int:
        return (p["n_nulls"] or 0) + (p["n_blank"] or 0)

    # UNIQUE nominees: HLL at rsd=0.02 puts a truly-unique column's estimate
    # within a few percent of n_rows — 0.8 can't miss one. Nominees are
    # re-verified with exact count_distinct fused into the extremes
    # aggregate below (nominees are rare — usually one key column — so the
    # Expand this plans multiplies rows by ~2, not by the column count).
    uniq_nominees = [
        c for c in cols
        if prof[c]["n_rows"]
        and _blanks(prof[c]) == 0
        and (prof[c]["n_distinct"] or 0) >= 0.8 * prof[c]["n_rows"]
    ]
    exact_distinct: dict[str, int] = {}

    numeric = [c for c in cols if dtypes[c].startswith(_NUMERIC_PREFIXES)]
    # The profile already carries min/max, rendered to strings. For int and
    # decimal types the rendering is exact (cast-to-string), so those columns
    # skip the verify aggregate below: ints parse back to the same value, and
    # a decimal parses to its nearest double — the value the rule's double
    # bound is compared at — while the rule name keeps the rendered string
    # ('100.00', not 100.0). float/double render %.2f (lossy — a max of
    # 0.994 would come back 0.99, a TIGHTER bound that fails rows the
    # profile saw), so they keep their exact min/max in the verify pass.
    def _exact_rendered(c: str) -> bool:
        return not dtypes[c].startswith(("float", "double"))

    def _parse_back(c: str, s: str):
        return int(s) if dtypes[c].startswith(
            ("tinyint", "smallint", "int", "bigint")
        ) else float(s)
    # SET candidacy is decided by the EXACT collect_set below; the approx
    # count only keeps unbounded collects off high-cardinality columns (a
    # generous 4x margin — HLL cannot inflate <=12 distinct past it).
    set_nominees = [
        c for c in cols
        if dtypes[c] == "string"
        and 1 <= (prof[c]["n_distinct"] or 0) <= max(4 * max_set_size, 64)
    ]
    aggs = []
    for c in numeric:
        if not _exact_rendered(c):
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    for c in set_nominees:
        aggs.append(F.collect_set(c).alias(f"_set_{c}"))
    for c in uniq_nominees:
        aggs.append(F.count_distinct(c).alias(f"_nd_{c}"))
    extremes = df.agg(*aggs).collect()[0] if aggs else {}
    for c in uniq_nominees:
        exact_distinct[c] = extremes[f"_nd_{c}"]
    enum_cand = [
        c for c in set_nominees if 1 <= len(extremes[f"_set_{c}"]) <= max_set_size
    ]

    fmt_cand = [c for c in cols if dtypes[c] == "string" and c not in enum_cand]
    masks = {c: all_masks[c] for c in fmt_cand if c in all_masks}

    rules: list[Rule] = []
    for c in cols:
        p = prof[c]
        n_rows = p["n_rows"]
        blanks = _blanks(p)
        uc = c.upper()
        if n_rows and blanks == 0:
            rules.append(Rule(f"{uc}_NOT_NULL", "not_null", c,
                              name=f"{c} had no blank values when profiled"))
        if n_rows and blanks == 0 and exact_distinct.get(c) == n_rows:
            rules.append(Rule(f"{uc}_UNIQUE", "unique", c,
                              name=f"{c} was a candidate key when profiled"))
        if c in numeric and p["n_distinct"]:
            if _exact_rendered(c):
                lo_s, hi_s = p["min_value"], p["max_value"]
                lo = None if lo_s is None else _parse_back(c, lo_s)
                hi = None if hi_s is None else _parse_back(c, hi_s)
            else:
                lo_s = lo = extremes[f"_min_{c}"]
                hi_s = hi = extremes[f"_max_{c}"]
            if lo is not None and hi is not None:
                rules.append(Rule(
                    f"{uc}_RANGE", "range", c,
                    {"min": lo if isinstance(lo, int) else float(lo),
                     "max": hi if isinstance(hi, int) else float(hi)},
                    name=f"{c} observed envelope [{lo_s}, {hi_s}]"))
        if c in enum_cand:
            allowed = sorted(str(v) for v in extremes[f"_set_{c}"])
            rules.append(Rule(f"{uc}_SET", "value_in_set", c,
                              {"allowed": allowed},
                              name=f"{c} took {len(allowed)} distinct values"))
        m = masks.get(c)
        if (
            m is not None
            and m["mask"] not in ("<null>",)
            and not m["mask"].endswith("+")
            and m["n"] == n_rows - blanks
            and m["n"] > 0
        ):
            rules.append(Rule(f"{uc}_FORMAT", "format", c,
                              {"pattern": _mask_to_regex(m["mask"])},
                              name=f"every non-blank {c} matched mask {m['mask']}"))
    return RuleCatalog(rules)
