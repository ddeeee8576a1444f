"""Render physical-plan evidence for the headline queries into BENCH/PLANS.md.

`.explain("formatted")` for a representative query per operator family, with
the scale-relevant properties called out (what tests/test_plans.py asserts
mechanically; this file is the human-readable record the round review reads).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import contextmanager, redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (query name, what the plan must show at 100 TB)
AUDITED = [
    ("row_rules_orders",
     "ONE parquet scan, all row rules in a single codegen'd projection; "
     "filter/column pruning pushed to the scan (ReadSchema lists only rule "
     "columns)."),
    ("dup_values_lineitem",
     "Two-phase uniqueness: partial_count by key before the one exchange "
     "(map-side combine), merge after — the shuffle moves partial counts, "
     "never rows."),
    ("region_revenue",
     "All three dimension joins are BroadcastHashJoin (explicit broadcast of "
     "region/nation/customer); only the fact-fact join shuffles."),
    ("semi_anti_customers",
     "Semi then anti join over distinct key projections; dims broadcast "
     "under the size boundary, AQE converts at runtime otherwise."),
    ("quantile_drift_lineitem",
     "Exact per-group quantiles via one sort-based aggregation; the drift "
     "comparison is a broadcast join against the tiny baseline frame."),
    ("rate_drift_orders",
     "Predicate-rate drift: one counts-only groupBy pass with map-side "
     "partials; the table baseline is a 1-row broadcast aggregate."),
    ("volume_drift_orders",
     "Volume drift: one groupBy(count) pass; the (total, #groups) baseline "
     "is a 1-row broadcast aggregate — shuffle moves one count per group."),
    ("quarantine_clean_orders",
     "Quarantine split: distinct violator keys then an anti join back to "
     "the fact rows; the key set broadcasts (AQE) when small, no "
     "cartesian/nested-loop anywhere."),
    ("categorical_drift_orders",
     "One groupBy pass over the data (map-side partials); every exchange is "
     "keyed (group window + broadcast category totals) — the only cross "
     "join is the 1-row grand-total broadcast, and the scored frame stays "
     "at observed (group, category) pairs."),
    ("heavy_hitters_orders",
     "Misra–Gries candidates from ONE bounded mapInPandas pass (≤ budget "
     "rows per partition), then an exact recount where only candidate keys "
     "shuffle — the full distinct-key set never exchanges. The final rank "
     "window runs on the ≤ budget-row result."),
    ("unigram_rarity_documents",
     "Vocabulary head via TakeOrderedAndProject (per-partition top-k, no "
     "global sort); scoring is a BroadcastHashJoin of the ≤ k-row head "
     "against the exploded tokens — the corpus never shuffles for the "
     "join, only the (doc_id, partials) re-aggregation exchanges."),
    ("top_bigrams_documents",
     "Bigrams built per row JVM-side; map-side partial counts before the "
     "exchange (counts only); final top-n is TakeOrderedAndProject."),
    ("daily_volume_anomaly_events",
     "One counts-only groupBy(day) pass with map-side partials; the "
     "trailing window then runs over the tiny per-day frame (365 rows/yr "
     "regardless of corpus size) — its single partition is deliberate."),
    ("span_dedup_documents",
     "Sub-document span dedup: the span tiling is materialized ONCE "
     "(localCheckpoint — eligible and tail branches read it, the corpus "
     "text is scanned once); the keep decision is one exchange keyed by "
     "the span fingerprint carrying both windows (count + row_number share "
     "the partitioning); tails bypass that exchange; the only other "
     "corpus-sized exchange is the unavoidable reassembly by doc id."),
    ("bigram_coherence_documents",
     "Bigram LM scoring: ONE text scan into the checkpointed tf frame "
     "(Scan ExistingRDD below); bigram and prefix count tables re-aggregate "
     "it with map-side partials; scoring joins are keyed (AQE broadcasts at "
     "test scale, sort-merge at corpus scale — both correct), and the final "
     "per-doc aggregate is the only other exchange."),
    ("reconcile_orders_lineitem",
     "Header↔detail reconciliation: the child side collapses to (key, "
     "partial cents) with a map-side partial aggregate BEFORE its exchange "
     "— child rows never shuffle; one keyed full-outer join against the "
     "pruned (key, cents) parent projection."),
    ("cardinality_orders_lineitem",
     "Relationship cardinality: child table collapses map-side to (key, "
     "count) before the exchange; the join is parent-keys × per-key counts "
     "— child rows never move, statuses are pure long arithmetic."),
    ("benford_orders",
     "Benford screen: one scan into a 9-group hash aggregate with map-side "
     "partials; the share window runs over the ≤ 9-row result (its single "
     "partition is deliberate)."),
    ("format_masks_customer",
     "Format-mask discovery: ONE scan; stack reshape feeds a single hash "
     "aggregate bounded by distinct-mask counts; the ranking windows run "
     "over that small frame, never the corpus."),
    ("calendar_gaps_events",
     "Calendar gaps: corpus collapses to distinct (key, date) map-side; "
     "the calendar explodes from the tiny per-key bounds frame; the "
     "anti-join exchanges (key, date) pairs only."),
    ("label_conflict_documents",
     "Duplicate-label conflicts: same two-phase md5-fingerprint aggregate "
     "as exact dedup — one shuffle keyed by the 128-bit fingerprint, "
     "collect_set bounded by the label domain, raw text never shuffles "
     "past the first projection."),
    ("extraction_quality_documents",
     "Extraction QC: ONE parquet scan, all markup/mojibake counters in a "
     "single codegen'd regexp projection — no exchange, no python stage."),
    ("transcript_wer_documents",
     "Word-level WER: one codegen'd projection (vocab sort + char encode + "
     "levenshtein DP all JVM-side) — zero Exchange, zero Python."),
    ("partition_profile_orders",
     "Per-group profile: ONE grouped aggregation over one scan (map-side "
     "partials); the per-column unpivot explodes the aggregated rows only "
     "(group-count x column-count), never the fact table."),
    ("numeric_quantiles_lineitem",
     "Exact quantiles behind the range guard: a column-pruned min/max "
     "probe aggregate decides exact-vs-approx routing; the percentile pass "
     "itself is one partial+final aggregate whose final-task state is "
     "bounded by the probed quantized range (<= 2e7 entries) or by the GK "
     "sketch accuracy on the approx route."),
    ("clips_validate_batched",
     "Two partition batches of the engine (owner + member): each batch plans "
     "ONE join per dimension — the FK-anti and transcript-match rules share "
     "one left outer join against the transcripts dim (AQE broadcasts it "
     "when small), with no standalone anti or match join beside it."),
]

# The engine checkpoints its violations, so the returned frame's plan is a
# bare RDD scan. These entries are built with localCheckpoint as the
# identity, which leaves the rule plans themselves in the rendered plan.
UNCHECKPOINTED = {"clips_validate_batched"}


@contextmanager
def _no_checkpoints(spark):
    cls = type(spark.range(0))
    real = cls.localCheckpoint
    cls.localCheckpoint = lambda self, eager=True: self
    try:
        yield
    finally:
        cls.localCheckpoint = real


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from data_check_spark.queries import QUERIES
    from data_check_spark.session import get_spark

    spark = get_spark()
    out = [
        "# BENCH/PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Input: `{sf_dir}`. Each section: the scale property the plan must",
        "hold at 100 TB, then `.explain('formatted')` output. The same",
        "properties are asserted mechanically in `tests/test_plans.py`;",
        "this file is the reviewable record.",
        "",
    ]
    for name, why in AUDITED:
        fn = QUERIES[name]
        if name in UNCHECKPOINTED:
            with _no_checkpoints(spark):
                df = fn(spark, sf_dir)
        else:
            df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree + the parquet-scan node details (the part
        # that shows ReadSchema / PushedFilters); drop the rest of the
        # verbose per-node section
        blocks = plan.split("\n\n")
        tree = blocks[0]
        scans = [
            b for b in blocks[1:]
            if b.lstrip().startswith("(") and "Scan parquet" in b.splitlines()[0]
        ]
        text = "\n\n".join([tree] + scans)
        text = re.sub(r"#\d+L?", "", text)  # strip expr ids for readability
        out += [f"## {name}", "", why, "", "```", text.rstrip(), "```", ""]
    path = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(path)


if __name__ == "__main__":
    main()
