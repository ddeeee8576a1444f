"""Deterministic (seeded, engine-portable) sampling for training-data curation.

``rand()``-based sampling is neither reproducible across runs/engines nor
stable under repartitioning; at corpus scale the curation pipeline needs a
sample that is a pure FUNCTION OF THE ROW KEY so re-runs, resumes, and
cross-engine audits (the DuckDB oracle) all agree row-for-row.

Mechanism: md5 of ``"<seed>:<id>"`` — the first 8 hex digits, compared
against ``floor(rate * 16^8)`` rendered as zero-padded hex. A lexicographic
compare of fixed-width lowercase hex equals a numeric compare, so the kept
fraction is ``round(rate * 2^32) / 2^32`` exactly, identically on every
engine with a standard md5. This is a pure map-side projection+filter: NO
shuffle, no sort, no state — the sample of 100 TB costs one scan.

``stratified_sample`` applies a per-stratum rate (e.g. downsample dominant
languages, keep the long tail) via a compile-time CASE over the strata map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX_WIDTH = 8  # 32 bits of the md5 → rate resolution 1/2^32


def _rate_threshold(rate: float) -> str:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    n = round(rate * (1 << (4 * HEX_WIDTH)))
    if n >= 1 << (4 * HEX_WIDTH):
        # rate 1.0: 'g' sorts after every hex digit, so `hash < 'g'` keeps
        # all rows (the 9-char '100000000' would NOT — lexicographic compare
        # against 8-char hashes is by leading characters).
        return "g"
    return format(n, f"0{HEX_WIDTH}x")


def _keyed_hash(id_col: str, seed: str) -> Column:
    # NULL-keyed rows hash as a NUL sentinel rather than propagating NULL
    # through md5 (a NULL comparison is three-valued and filter() would
    # silently DROP every null-keyed row — even at rate=1.0).
    key = F.coalesce(F.col(id_col).cast("string"), F.lit("\u0000"))
    return F.substring(F.md5(F.concat(F.lit(f"{seed}:"), key)), 1, HEX_WIDTH)


def sample_mark(id_col: str, rate: float, *, seed: str = "s0") -> Column:
    """Boolean keep-mark: deterministic in (seed, id), kept fraction ≈ rate."""
    return _keyed_hash(id_col, seed) < F.lit(_rate_threshold(rate))


def stratified_sample(
    df: DataFrame,
    *,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    seed: str = "s0",
) -> DataFrame:
    """Per-stratum deterministic sample (rate chosen by ``strata_col``;
    strata missing from ``rates`` are dropped).

    The hash is computed ONCE per row; only the threshold varies by stratum,
    so the plan stays a single map-side filter with a small CASE — no join
    against a rates table, no shuffle.
    """
    h = _keyed_hash(id_col, seed)
    threshold: Column | None = None
    for stratum, rate in sorted(rates.items()):
        lit = F.lit(_rate_threshold(rate))
        match = F.col(strata_col) == stratum
        threshold = F.when(match, lit) if threshold is None else threshold.when(match, lit)
    default = F.lit(_rate_threshold(0.0))
    threshold = default if threshold is None else threshold.otherwise(default)
    return df.filter(h < threshold)


def _keyed_hash_int(key: Column, seed: str) -> Column:
    """First 32 bits of md5('<seed>:<key>') as a bigint (engine-portable:
    DuckDB analog `cast(('0x' || substring(md5(...),1,8)) as bigint)`).
    Same NUL sentinel for NULL keys as `_keyed_hash`."""
    k = F.coalesce(key.cast("string"), F.lit("\u0000"))
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), k)), 1, HEX_WIDTH), 16, 10
    ).cast("long")


def weighted_sample(
    df: DataFrame, *, id_col: str, weight_col: str, seed: str = "s0"
) -> DataFrame:
    """Keep each row with probability = its own weight (deterministically).

    ``weight_col`` is a per-row keep-probability in [0, 1] — e.g. a quality
    score, so high-quality documents survive curation more often — and the
    decision is a pure function of (seed, id): reproducible across runs,
    engines, and repartitioning, like every sampler here. Weights >= 1
    always keep, <= 0 (or NULL) always drop. Map-side filter: zero shuffle.

    Cross-engine exactness: the comparison is integer hash32 <
    floor(weight * 2^32); the float multiply+floor is IEEE-identical in
    Spark and DuckDB for the same weight value.
    """
    h = _keyed_hash_int(F.col(id_col), seed)
    thr = F.floor(
        F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0)) * F.lit(4294967296.0)
    ).cast("long")
    return df.filter(h < thr)


def mix_plan(
    counts: dict[str, int], weights_bp: dict[str, int]
) -> dict[str, dict[str, int]]:
    """Integer mixing plan: per-domain keep counts/thresholds for a target mix.

    ``weights_bp`` are basis points (e.g. {'en': 5000, 'de': 3000,
    'fr': 2000} -> 50/30/20). The achievable corpus size is capped by the
    scarcest domain: T = min_d(n_d * 10000 // w_d); each domain then keeps
    an EXPECTED k_d = w_d * T // 10000 rows via hash threshold
    (k_d << 32) // n_d — the threshold (and therefore the kept row SET) is
    deterministic, but the realized count is binomial around k_d
    (deviation O(sqrt(k))), so 'keep' is a target, not a guarantee.
    All-integer (Python bigints — no 64-bit overflow), so the DuckDB
    oracle reproduces it bit-for-bit with HUGEINT arithmetic.
    """
    if not weights_bp:
        raise ValueError("weights_bp must be non-empty")
    for d, w in weights_bp.items():
        if w <= 0:
            raise ValueError(f"weight for {d!r} must be positive bp, got {w}")
        if counts.get(d, 0) <= 0:
            raise ValueError(f"domain {d!r} has no rows to sample")
    total = min(counts[d] * 10000 // w for d, w in weights_bp.items())
    plan: dict[str, dict[str, int]] = {}
    for d, w in weights_bp.items():
        n, k = counts[d], w * total // 10000
        plan[d] = {"n": n, "keep": k, "threshold": (k << 32) // n}
    return plan


def mix_domains(
    df: DataFrame,
    *,
    id_col: str,
    domain_col: str,
    weights_bp: dict[str, int],
    seed: str = "mix0",
) -> DataFrame:
    """Deterministically sample each domain to hit a target mixture.

    The LLM-pretraining "data mixing" stage: given per-domain weights, keep
    the largest corpus achievable at those expected proportions (scarcest
    domain caps the total — no oversampling/duplication here; repeat-epoch
    upsampling is a separate concern). Domains outside ``weights_bp`` are
    dropped. One column-pruned count per domain (a single groupBy job;
    #domains is tiny) computes the plan driver-side; the sample itself is
    a map-side hash-threshold filter — zero shuffle over the corpus.
    """
    counts = _domain_counts(df, domain_col)
    plan = mix_plan(counts, weights_bp)
    return _apply_mix_plan(df, plan, id_col=id_col, domain_col=domain_col, seed=seed)


def _domain_counts(df: DataFrame, domain_col: str) -> dict[str, int]:
    """Per-domain row counts (one column-pruned groupBy job; NULL domains
    excluded — they can't be sampled toward a named target)."""
    return {
        r["_d"]: r["_n"]
        for r in df.select(F.col(domain_col).alias("_d"))
        .filter(F.col("_d").isNotNull())
        .groupBy("_d")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }


def _apply_mix_plan(
    df: DataFrame, plan: dict[str, dict[str, int]], *, id_col: str,
    domain_col: str, seed: str,
) -> DataFrame:
    """Map-side hash-threshold filter for a mixing plan (shared by
    ``mix_domains`` and ``temperature_mix``): zero shuffle over the corpus."""
    h = _keyed_hash_int(F.col(id_col), seed)
    thr: Column | None = None
    for d, p in sorted(plan.items()):
        match = F.col(domain_col) == d
        lit = F.lit(p["threshold"])
        thr = F.when(match, lit) if thr is None else thr.when(match, lit)
    thr = thr.otherwise(F.lit(0))
    return df.filter(h < thr)


# alpha values expressible as 1/2^k — each is k nested integer square
# roots, keeping the weight derivation in EXACT integer arithmetic (a
# float pow() is last-ulp engine-divergent and would break the oracle).
_ALPHA_ISQRTS = {1.0: 0, 0.5: 1, 0.25: 2, 0.125: 3}


def temperature_mix(
    df: DataFrame,
    *,
    id_col: str,
    domain_col: str,
    alpha: float = 0.5,
    seed: str = "temp0",
) -> DataFrame:
    """Temperature-scaled domain rebalancing: target proportions
    ``∝ n_d^alpha`` (alpha < 1 flattens the natural distribution — the
    standard multilingual/domain reweighting; alpha=1 is pass-through,
    alpha→0 approaches uniform). Unlike ``mix_domains`` no explicit weight
    table is needed: the corpus's own counts set the mix, so EVERY domain
    participates (none dropped).

    alpha must be 1/2^k (1.0, 0.5, 0.25, 0.125): the weight ``n^alpha`` is
    then k nested ``math.isqrt`` calls — exact integers, reproducible in
    DuckDB with a floor(sqrt())±1 correction — and the plan/threshold
    arithmetic is the same HUGEINT-safe integer path as ``mix_plan``.
    Same scale shape as ``mix_domains``: one tiny groupBy plans rates
    driver-side; the sample is a map-side filter, zero corpus shuffle.
    """
    import math

    if alpha not in _ALPHA_ISQRTS:
        raise ValueError(
            f"alpha must be one of {sorted(_ALPHA_ISQRTS)} (1/2^k, integer-exact); "
            f"got {alpha}"
        )
    counts = _domain_counts(df, domain_col)
    if not counts:
        return df.filter(F.lit(False))
    weights = {}
    for d, n in counts.items():
        w = n
        for _ in range(_ALPHA_ISQRTS[alpha]):
            w = math.isqrt(w)
        weights[d] = w
    plan = mix_plan(counts, weights)
    return _apply_mix_plan(df, plan, id_col=id_col, domain_col=domain_col, seed=seed)


def upsample_domains(
    df: DataFrame,
    *,
    id_col: str,
    domain_col: str,
    factors_bp: dict[str, int],
    seed: str = "up0",
) -> DataFrame:
    """Deterministic repeat-epoch upsampling (the other half of mixing).

    ``mix_domains`` can only downsample; scarce high-quality domains are
    instead REPEATED: factor 25000 bp = 2.5x means every row appears twice
    and half the rows (chosen by hash) a third time. Output rows carry an
    ``epoch`` column (0-based copy index) so downstream shuffling/packing
    can keep copies apart. All-integer: q = f_bp // 10000 whole copies,
    plus one more iff hash32 < (f_bp % 10000) << 32 // 10000 — exactly
    reproducible cross-engine. Factor 0 drops the domain; domains not
    listed pass through once.

    Plan: map-side CASE + explode(sequence) — the fan-out happens in the
    scan projection, no shuffle, no join; 100 TB in, (mean factor) x out.
    """
    for d, f in factors_bp.items():
        if f < 0:
            raise ValueError(f"factor for {d!r} must be >= 0 bp, got {f}")
    clobbered = {"epoch", "_n_copies"} & set(df.columns)
    if clobbered:
        raise ValueError(
            f"input already has column(s) {sorted(clobbered)}; rename them "
            "first (upsample_domains adds its own 'epoch')"
        )
    h = _keyed_hash_int(F.col(id_col), seed)
    q: Column | None = None
    extra_thr: Column | None = None
    for d, f in sorted(factors_bp.items()):
        match = F.col(domain_col) == d
        q_lit, t_lit = F.lit(f // 10000), F.lit(((f % 10000) << 32) // 10000)
        q = F.when(match, q_lit) if q is None else q.when(match, q_lit)
        extra_thr = (
            F.when(match, t_lit) if extra_thr is None else extra_thr.when(match, t_lit)
        )
    dq, dt = F.lit(1), F.lit(0)
    q = dq if q is None else q.otherwise(dq)
    extra_thr = dt if extra_thr is None else extra_thr.otherwise(dt)
    n_copies = (q + (h < extra_thr).cast("int")).alias("_n_copies")
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") >= 1)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)))
        .drop("_n_copies")
    )


def token_budget_select(
    df: DataFrame,
    *,
    id_col: str,
    domain_col: str,
    score_col: str,
    token_col: str,
    budgets: dict[str, int],
    seed: str = "tb0",
) -> DataFrame:
    """Fill a per-domain token budget with the highest-scoring docs.

    The "select the best 1T tokens" curation stage. The naive formulation
    — per-domain ORDER BY score + running-sum window — funnels each domain
    through ONE reducer task, which dies at corpus scale. This instead:

    1. aggregates token sums per (domain, integer score bucket) — a
       counts-only shuffle whose output is #domains x #score-values rows
       (``score_col`` must be a small-cardinality integer, e.g. a
       quantized quality score);
    2. walks buckets best-first on the driver: buckets that fit whole are
       kept whole; the single boundary bucket is kept FRACTIONALLY via a
       deterministic hash threshold (remaining_budget << 32) //
       bucket_tokens, so the expected kept tokens match the remainder
       (exact per-doc boundary packing would need the global sort this
       design exists to avoid); lower buckets are dropped;
    3. broadcast-joins the tiny keep-rule frame back and filters map-side
       — the corpus itself is never sorted and never shuffled.

    Rows with a NULL score or NULL/<=0 tokens are excluded (a validation
    run flags those upstream). Domains without a budget are dropped. If a
    domain's total fits its budget, everything in it is kept. All
    arithmetic is integer — the DuckDB oracle replays it exactly.
    """
    for d, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for {d!r} must be >= 0, got {b}")
    clean = df.filter(
        F.col(score_col).isNotNull() & (F.coalesce(F.col(token_col), F.lit(0)) > 0)
    )
    agg = (
        clean.filter(F.col(domain_col).isin(*budgets.keys()))
        .groupBy(F.col(domain_col).alias("_d"), F.col(score_col).alias("_s"))
        .agg(F.sum(F.col(token_col).cast("long")).alias("_toks"))
        .collect()
    )
    if len(agg) > 100_000:
        # the driver walk and the broadcast rule frame are sized by
        # #domains x #score-values; a high-cardinality score column means
        # the caller passed a raw float score instead of a quantized bucket
        raise ValueError(
            f"{len(agg)} (domain, score) buckets — quantize {score_col!r} to a "
            "small integer range (see docstring) before budget selection"
        )
    by_domain: dict[str, list] = {}
    for r in agg:
        by_domain.setdefault(r["_d"], []).append((r["_s"], r["_toks"]))
    rules = []  # (domain, score, threshold) — threshold 2^32 keeps the bucket whole
    for d, buckets in by_domain.items():
        remaining = budgets[d]
        for s, toks in sorted(buckets, reverse=True):
            if remaining <= 0:
                break
            if toks <= remaining:
                rules.append((d, s, 1 << 32))
                remaining -= toks
            else:
                rules.append((d, s, (remaining << 32) // toks))
                remaining = 0
    if not rules:
        return clean.limit(0).select(df.columns)
    spark = df.sparkSession
    rules_df = spark.createDataFrame(
        rules, f"_d {dict(clean.dtypes)[domain_col]}, _s {dict(clean.dtypes)[score_col]}, _thr long"
    )
    h = _keyed_hash_int(F.col(id_col), seed)
    return (
        clean.join(
            F.broadcast(rules_df),
            (F.col(domain_col) == F.col("_d")) & (F.col(score_col) == F.col("_s")),
        )
        .filter(h < F.col("_thr"))
        .select(df.columns)
    )


def corpus_shuffle(
    df: DataFrame,
    *,
    id_col: str,
    n_shards: int,
    seed: str = "sh0",
) -> DataFrame:
    """Deterministic global shuffle into training shards (shard, pos).

    Pretraining wants the corpus in a random-but-REPRODUCIBLE order: a
    ``rand()`` sort changes across retries and engines, and a single
    global ORDER BY funnels 100 TB through one sort. Here the order is a
    pure function of (seed, id): shard = (hash32 * n_shards) >> 32
    (balanced, no sampling step), pos = rank of the hash within the
    shard (ties broken by id). The only exchange is keyed by shard; each
    reducer sorts just corpus/n_shards rows — raise ``n_shards`` until a
    shard fits an executor. Re-shuffling with a new seed is a fresh epoch
    order at the cost of one keyed shuffle.

    ``id_col`` must be UNIQUE (run exact dedup first): rows sharing an id
    (or multiple NULL ids, which hash to one sentinel) tie on the full
    sort key, and which copy takes which ``pos`` is engine-arbitrary —
    only the (id → shard) assignment and the pos SET stay deterministic.
    """
    if n_shards < 1 or n_shards > (1 << 31):
        raise ValueError(f"n_shards must be in [1, 2^31], got {n_shards}")
    clobbered = {"shard", "pos", "_h"} & set(df.columns)
    if clobbered:
        raise ValueError(
            f"input already has column(s) {sorted(clobbered)}; rename them "
            "first (corpus_shuffle adds 'shard' and 'pos' and uses '_h' "
            "internally)"
        )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(id_col))
    return (
        df.withColumn("_h", _keyed_hash_int(F.col(id_col), seed))
        .withColumn("shard", F.shiftright(F.col("_h") * F.lit(n_shards), 32))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_h")
    )


def cluster_safe_split(
    docs: DataFrame,
    components: DataFrame,
    *,
    id_col: str = "doc_id",
    eval_rate: float = 0.1,
    seed: str = "split0",
) -> DataFrame:
    """Contamination-safe train/eval split: near-duplicates never straddle.

    A plain hash split leaks: a training doc's near-duplicate lands in eval
    and inflates the benchmark. Here every doc is assigned by hashing its
    duplicate-cluster REPRESENTATIVE (``components`` = (node, component)
    from :func:`graph.connected_components` over the near-dup pair set;
    docs in no pair are their own representative), so an entire cluster
    moves as one unit. Returns docs + (cluster_rep, side in train|eval).

    Plan: one left join against the components frame (near-dup subset —
    orders of magnitude smaller than the corpus, AQE-broadcast) and a
    map-side hash compare; the corpus is never shuffled.
    """
    clobbered = {"cluster_rep", "side"} & set(docs.columns)
    if clobbered:
        raise ValueError(
            f"docs already has column(s) {sorted(clobbered)}; rename them "
            "first (cluster_safe_split adds 'cluster_rep' and 'side')"
        )
    comp = components.select(
        F.col("node").alias("_n"), F.col("component").alias("_c")
    )
    joined = docs.join(comp, docs[id_col] == F.col("_n"), "left")
    rep = F.coalesce(F.col("_c"), docs[id_col].cast(dict(comp.dtypes)["_c"]))
    # NUL sentinel for a NULL rep (doc with NULL id and no component):
    # without it the hash is NULL, the three-valued compare never matches,
    # and the row lands 'train' even at eval_rate=1.0 — same hazard
    # documented at _keyed_hash above.
    rep_key = F.coalesce(rep.cast("string"), F.lit("\u0000"))
    side = F.when(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), rep_key)), 1, HEX_WIDTH)
        < F.lit(_rate_threshold(eval_rate)),
        F.lit("eval"),
    ).otherwise(F.lit("train"))
    return joined.select(
        *[docs[c] for c in docs.columns],
        rep.alias("cluster_rep"),
        side.alias("side"),
    )


def split_leakage_audit(pairs: DataFrame, assignments: DataFrame) -> DataFrame:
    """Audit an EXISTING train/eval split for contamination.

    :func:`cluster_safe_split` prevents leakage at assignment time; this is
    the after-the-fact validator for a split you did not produce (inherited
    snapshot, upstream team, historical run): given a near-duplicate /
    exact-duplicate pair set and the split assignment, report every pair
    that straddles the boundary — each one is an eval example whose
    training twin inflates the benchmark.

    Returns one row per problem pair: the pair's columns plus
    ``side_a, side_b, status`` where status is ``leak`` (both assigned,
    different sides) or ``unassigned`` (either member missing from the
    assignment frame — itself a split-integrity defect). Same-side pairs
    are dropped.

    Plan shape: the pair set (near-dup output, orders of magnitude smaller
    than the corpus) joins twice against the (id, side) projection of the
    assignment frame — two keyed equi-joins AQE can broadcast whenever the
    pair set is small; the corpus text never shuffles."""
    clobbered = {"side_a", "side_b", "status"} & set(pairs.columns)
    if clobbered:
        raise ValueError(
            f"pairs already has column(s) {sorted(clobbered)}; rename them "
            "first (split_leakage_audit adds 'side_a', 'side_b', 'status')"
        )
    asg = assignments.select(
        F.col("doc_id").alias("_k"), F.col("side").alias("_s")
    )
    j = (
        pairs.join(asg.withColumnsRenamed({"_k": "_ka", "_s": "side_a"}),
                   pairs["doc_a"] == F.col("_ka"), "left")
        .join(asg.withColumnsRenamed({"_k": "_kb", "_s": "side_b"}),
              pairs["doc_b"] == F.col("_kb"), "left")
    )
    status = (
        F.when(F.col("side_a").isNull() | F.col("side_b").isNull(), F.lit("unassigned"))
        .when(F.col("side_a") != F.col("side_b"), F.lit("leak"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .drop("_ka", "_kb")
    )
