"""Regenerate COVERAGE.md from CORRECTNESS_r*.json + the live registry.

The ledger went stale in round 3 (CORRECTNESS_r03.json landed after the last
builder commit), which would have made the driver resample 50 already-green
queries. Regenerating it mechanically from the artifacts removes that failure
mode: run after each round's CORRECTNESS file lands, together with updating
``__spark_entry__._DRIVER_GREEN``.

Usage: python tools/gen_coverage.py   (writes COVERAGE.md in repo root)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# COVERAGE — driver-verification ledger

One row per `queries()` entry, in registry order (= the order a sampling
driver sees). `last driver-green` = most recent round whose
CORRECTNESS_r{N}.json hash-matched this query against its DuckDB oracle;
`rows-only` = checked by the driver without an oracle (by design: no DuckDB
analog); `never` = present in the registry but not yet sampled by a driver
round (all such entries are oracle-backed and green under the builder-side
harness `tools/check_oracle.py`, and `queries()` orders them FIRST so a
sampling driver picks them up next). Regenerate with
`python tools/gen_coverage.py` whenever a CORRECTNESS file lands.

Round 6 retired the synthesized-PCM training-prep, multimodal and
compaction entries, then the embedding (ANN, IVF, LSH, embedding QC),
sampling, tokenizer and packing entries, then the release-pipeline
(decontamination, PII, ingest, tar, provenance, dataset card) and n-gram
pair/cluster entries; all are listed at the end. The remaining registry
(92 oracle-backed + 3 rows-only) value-checks green under
`tools/check_oracle.py` at sf0.01. Every oracle-backed entry has a
hash-green CORRECTNESS row (92/92 after CORRECTNESS_r05.json). Round 6
changed `streaming_dedup_events` to per-occurrence `(clip_id, observed)`
rows, so `queries()` puts it first until a CORRECTNESS round re-checks the
new shape.

| query | oracle | last driver-green | builder harness |
|---|---|---|---|
"""

# Registry entries retired in round 6 with the operators they exercised:
# synthesized-PCM audio prep, multimodal features and compaction planning,
# then embedding search/QC (operators/similarity.py), sampling, tokenizer
# and packing, then the corpus release pipeline and the n-gram pair and
# cluster family (operators/{decontam,pii,graph}.py, sources/, sinks.py).
# Listed in COVERAGE.md
# so an older CORRECTNESS file that still names them reads as a scope cut,
# not a lost query.
RETIRED = (
    "audio_stats_documents", "voiced_segments_documents",
    "audio_fingerprint_documents", "audio_curation_documents",
    "speech_rate_documents", "audio_batching_documents",
    "audio_windows_documents", "transcript_alignment_documents",
    "window_transcripts_documents", "window_density_documents",
    "augmentation_plan_documents", "loudness_gain_documents",
    "clipping_runs_documents", "autocorr_documents", "media_feature_extract",
    "image_stats_documents", "container_sniff_documents",
    "compaction_plan_documents", "compaction_summary_documents",
    "embedding_norms", "ann_cosine_topk", "lsh_ann_embeddings",
    "embedding_near_dup_pairs", "lsh_embedding_near_dup",
    "semantic_dedup_embeddings", "label_centroids_embeddings",
    "ivf_ann_embeddings", "embedding_quality_embeddings",
    "embedding_drift_embeddings", "quantization_plan_embeddings", "ivf_incremental_embeddings",
    "ivf_fast_ann_embeddings",
    "stratified_sample_documents", "weighted_sample_documents",
    "temperature_mix_documents", "mix_documents", "cluster_split_documents",
    "upsample_documents", "token_budget_documents", "corpus_shuffle_documents",
    "split_leakage_documents", "bpe_merges_documents", "bpe_segment_documents",
    "bpe_tokenize_documents", "sequence_packing_documents", "pack_stats_documents",
    "decontamination_documents", "fuzzy_decontamination_documents",
    "pii_scan_documents", "tar_roundtrip_documents", "jsonl_ingest_documents",
    "binaryfile_ingest_documents", "provenance_documents",
    "dataset_card_documents", "ngram_jaccard_documents",
    "dedup_clusters_documents", "edit_distance_pairs_documents",
    "cluster_representatives_documents",
)


def main() -> None:
    import __spark_entry__ as entry_mod
    from data_check_spark.queries import ORACLES

    # round -> {name: hash_match(bool) | None(rows-only check)}
    history: dict[int, dict[str, bool | None]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        data = json.load(open(path))
        history[rnd] = {
            name: rec.get("hash_match") for name, rec in data.items()
        }

    lines = [HEADER]
    for name in entry_mod.queries():
        oracle = "yes" if name in ORACLES else "no (by design)"
        harness = "green" if name in ORACLES else "rows-only"
        green_rounds = [r for r, h in history.items() if h.get(name) is True]
        red_rounds = [r for r, h in history.items() if h.get(name) is False]
        sampled_rows_only = [
            r for r, h in history.items()
            if name in h and h[name] is None
        ]
        # A red in a LATER round than the last green is a regression and
        # must win — an earlier green masking it would defeat the ledger.
        if green_rounds and (not red_rounds or max(green_rounds) > max(red_rounds)):
            status = f"r{max(green_rounds):02d}"
        elif name not in ORACLES and sampled_rows_only:
            status = f"rows-only (r{max(sampled_rows_only):02d})"
        elif red_rounds:
            # no "fixed" claim here — whether a fix landed is evidenced by
            # the builder harness, not by regenerating the ledger
            status = f"red r{max(red_rounds):02d} (resample next)"
        else:
            status = "never"
        lines.append(f"| {name} | {oracle} | {status} | {harness} |\n")
    n_rows = len(lines) - 1
    lines.append(
        "\n## Rows-only entries — why, and what pins them instead\n\n"
        "- `clips_validate_full` / `clips_partition_verdicts` /\n"
        "  `clips_rule_summary` — the synthetic clip table with real float\n"
        "  PCM decode has no DuckDB analog; pinned by\n"
        "  tests/test_golden_multiset.py (exact violation multiset) and the\n"
        "  expected-violation sentinels (CLAUDE.md).\n"
        "\n## Retired entries (round 6 scope cuts)\n\n"
        "Not carried: retired training-prep and corpus scope. These names\n"
        "left the registry with their operators; earlier CORRECTNESS files\n"
        "still record them.\n\n"
    )
    lines += [f"- `{name}`\n" for name in RETIRED]
    with open(os.path.join(REPO, "COVERAGE.md"), "w") as f:
        f.writelines(lines)
    print(f"COVERAGE.md regenerated: {n_rows} rows")


if __name__ == "__main__":
    main()
