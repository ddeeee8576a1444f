"""Deterministic sampling: reproducibility, rate accuracy, shuffle-free plan."""

import pytest
from pyspark.sql import functions as F

from data_check_spark.operators.sampling import (
    _rate_threshold,
    sample_mark,
    stratified_sample,
)


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("zh"), F.lit("de")), (F.col("id") % 3 + 1).cast("int")
        ).alias("lang"),
    )


def test_rate_threshold_exact_hex():
    assert _rate_threshold(0.5) == "80000000"
    assert _rate_threshold(0.25) == "40000000"
    assert _rate_threshold(0.0) == "00000000"
    assert _rate_threshold(1.0) == "g"  # sorts after every hex hash → keep all
    with pytest.raises(ValueError):
        _rate_threshold(1.5)


def test_deterministic_and_rate(spark, ids):
    a = {r["doc_id"] for r in ids.filter(sample_mark("doc_id", 0.2)).collect()}
    b = {r["doc_id"] for r in ids.filter(sample_mark("doc_id", 0.2)).collect()}
    assert a == b  # pure function of (seed, id)
    # binomial(10000, 0.2): sd ~= 40; allow 5 sd
    assert abs(len(a) - 2000) < 200
    other = {
        r["doc_id"]
        for r in ids.filter(sample_mark("doc_id", 0.2, seed="z9")).collect()
    }
    assert other != a
    # nested rates: a higher-rate sample with the same seed is a superset
    sup = {r["doc_id"] for r in ids.filter(sample_mark("doc_id", 0.5)).collect()}
    assert a <= sup


def test_rate_one_keeps_everything(spark, ids):
    assert ids.filter(sample_mark("doc_id", 1.0)).count() == 10_000
    assert ids.filter(sample_mark("doc_id", 0.0)).count() == 0


def test_stratified_rates(spark, ids):
    out = stratified_sample(
        ids, id_col="doc_id", strata_col="lang", rates={"en": 0.6, "zh": 0.1}
    )
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_per = 10_000 / 3
    assert abs(got["en"] - 0.6 * n_per) < 150
    assert abs(got["zh"] - 0.1 * n_per) < 100
    assert "de" not in got  # default_rate=0 drops unlisted strata
    # stratum membership respected: the kept en-rows are exactly the uniform
    # en-sample at the same seed+rate
    en_uniform = {
        r["doc_id"]
        for r in ids.filter(F.col("lang") == "en")
        .filter(sample_mark("doc_id", 0.6))
        .collect()
    }
    en_strat = {r["doc_id"] for r in out.filter(F.col("lang") == "en").collect()}
    assert en_strat == en_uniform


def test_sampling_plan_is_shuffle_free(spark, ids):
    plan = (
        stratified_sample(ids, id_col="doc_id", strata_col="lang", rates={"en": 0.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_sample_mark_matches_python_md5(spark):
    import hashlib

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    got = {
        r["doc_id"]: r["keep"]
        for r in df.select("doc_id", sample_mark("doc_id", 0.3, seed="s7").alias("keep")).collect()
    }
    thr = _rate_threshold(0.3)
    for i in range(50):
        want = hashlib.md5(f"s7:{i}".encode()).hexdigest()[:8] < thr
        assert got[i] == want


def test_weighted_sample_matches_python_md5(spark):
    import hashlib

    from data_check_spark.operators.sampling import weighted_sample

    rows = [(i, (i % 101) / 100.0) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {r["doc_id"] for r in
           weighted_sample(df, id_col="doc_id", weight_col="w", seed="wq").collect()}
    want = set()
    for i, w in rows:
        h = int(hashlib.md5(f"wq:{i}".encode()).hexdigest()[:8], 16)
        import math
        if h < math.floor(w * 4294967296.0):
            want.add(i)
    assert got == want
    # weight 1.0 rows (i % 101 == 100) are always kept, weight 0 never
    assert all(i in got for i in range(300) if i % 101 == 100)
    assert all(i not in got for i in range(300) if i % 101 == 0)


def test_weighted_sample_null_weight_drops(spark):
    from data_check_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(1, None), (2, 1.0)], "doc_id long, w double")
    got = [r.doc_id for r in
           weighted_sample(df, id_col="doc_id", weight_col="w").collect()]
    assert got == [2]


def test_mix_plan_integer_math():
    import pytest

    from data_check_spark.operators.sampling import mix_plan

    # en is abundant, fr is the scarce domain: T = min(1000*10000//5000,
    # 600*10000//3000, 100*10000//2000) = min(2000, 2000, 500) = 500
    plan = mix_plan({"en": 1000, "de": 600, "fr": 100},
                    {"en": 5000, "de": 3000, "fr": 2000})
    assert plan["en"]["keep"] == 250   # 5000*500//10000
    assert plan["de"]["keep"] == 150
    assert plan["fr"]["keep"] == 100   # the cap: all of fr
    assert plan["fr"]["threshold"] == 1 << 32  # keep-all threshold
    assert plan["en"]["threshold"] == (250 << 32) // 1000
    with pytest.raises(ValueError):
        mix_plan({"en": 10}, {"en": 0})
    with pytest.raises(ValueError):
        mix_plan({"en": 10}, {"en": 5000, "xx": 5000})  # xx has no rows


def test_mix_domains_proportions_and_determinism(spark):
    import hashlib

    from data_check_spark.operators.sampling import mix_domains, mix_plan

    rows = [(i, "en" if i % 10 < 6 else ("de" if i % 10 < 9 else "fr"))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mix_domains(df, id_col="doc_id", domain_col="lang",
                      weights_bp={"en": 5000, "de": 3000, "fr": 2000}, seed="m1")
    got = {r.doc_id: r.lang for r in out.collect()}
    counts = {"en": 3000, "de": 1500, "fr": 500}
    plan = mix_plan(counts, {"en": 5000, "de": 3000, "fr": 2000})
    # exact python replay of the hash filter
    want = {i for i, lang in rows
            if int(hashlib.md5(f"m1:{i}".encode()).hexdigest()[:8], 16)
            < plan[lang]["threshold"]}
    assert set(got) == want
    # realized mix is close to 50/30/20 (hash threshold is binomial around
    # the target; 2% absolute tolerance at n≈2500)
    from collections import Counter
    c = Counter(got.values())
    total = sum(c.values())
    assert abs(c["en"] / total - 0.5) < 0.02
    assert abs(c["de"] / total - 0.3) < 0.02
    assert abs(c["fr"] / total - 0.2) < 0.02


def test_cluster_safe_split_no_straddling_pairs(spark):
    import hashlib

    from data_check_spark.operators.graph import connected_components
    from data_check_spark.operators.sampling import cluster_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # chains {0,1,2}, {10,11}, {20,21,22,23} — and 194 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long")
    cc = connected_components(pairs)
    out = cluster_safe_split(docs, cc, id_col="doc_id", eval_rate=0.3, seed="sp")
    side = {r.doc_id: (r.cluster_rep, r.side) for r in out.collect()}
    assert len(side) == 200
    # every pair lands on one side, labeled by the cluster min
    for a, b in [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22), (22, 23)]:
        assert side[a] == side[b]
    assert side[2][0] == 0 and side[23][0] == 20
    # singleton assignment is the plain hash rule on the doc's own id
    thr = int(0.3 * (1 << 32))
    for i in (5, 77, 150):
        h = int(hashlib.md5(f"sp:{i}".encode()).hexdigest()[:8], 16)
        assert side[i] == (i, "eval" if h < round(0.3 * (1 << 32)) else "train")


def test_cluster_safe_split_plan_no_corpus_shuffle(spark):
    from data_check_spark.operators.sampling import cluster_safe_split

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    cc = spark.createDataFrame([(1, 0), (0, 0)], "node long, component long")
    out = cluster_safe_split(docs, cc, id_col="doc_id")
    out.collect()  # let AQE finalize: tiny components side -> broadcast
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the docs side must not be exchanged: only a broadcast of components
    assert "BroadcastHashJoin" in plan


def test_upsample_domains_integer_replay(spark):
    import hashlib

    from data_check_spark.operators.sampling import upsample_domains

    rows = [(i, "fr" if i % 5 == 0 else ("zh" if i % 5 == 1 else "en"))
            for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = upsample_domains(
        df, id_col="doc_id", domain_col="lang",
        factors_bp={"fr": 30000, "zh": 12500, "en": 0}, seed="u1",
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, []).append(r.epoch)
    want = {}
    for i, lang in rows:
        f = {"fr": 30000, "zh": 12500, "en": 0}[lang]
        q, rbp = f // 10000, f % 10000
        h = int(hashlib.md5(f"u1:{i}".encode()).hexdigest()[:8], 16)
        n = q + (1 if h < (rbp << 32) // 10000 else 0)
        if n:
            want[i] = list(range(n))
    assert {k: sorted(v) for k, v in got.items()} == want
    # fr rows appear exactly 3x, en rows never
    assert all(len(v) == 3 for i, v in got.items() if i % 5 == 0)
    assert not any(i % 5 > 1 for i in got)
    # zh realized factor is ~1.25
    zh = [i for i, lang in rows if lang == "zh"]
    n_zh = sum(len(got.get(i, [])) for i in zh)
    assert 1.0 <= n_zh / len(zh) <= 1.5


def test_upsample_default_passthrough_and_guards(spark):
    import pytest

    from data_check_spark.operators.sampling import upsample_domains

    df = spark.createDataFrame([(1, "en"), (2, "fr")], "doc_id long, lang string")
    out = upsample_domains(df, id_col="doc_id", domain_col="lang",
                           factors_bp={"fr": 20000}).collect()
    got = sorted((r.doc_id, r.epoch) for r in out)
    assert got == [(1, 0), (2, 0), (2, 1)]  # en untouched at default 1x
    with pytest.raises(ValueError):
        upsample_domains(df, id_col="doc_id", domain_col="lang",
                         factors_bp={"fr": -1})


def test_upsample_plan_no_shuffle(spark):
    from data_check_spark.operators.sampling import upsample_domains

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    plan = (
        upsample_domains(df, id_col="doc_id", domain_col="lang",
                         factors_bp={"en": 25000})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_cluster_safe_split_null_id_and_clobber_guard(spark):
    import pytest

    from data_check_spark.operators.sampling import cluster_safe_split

    docs = spark.createDataFrame([(None,), (1,)], "doc_id long")
    cc = spark.createDataFrame([], "node long, component long")
    out = {(r.doc_id, r.side) for r in
           cluster_safe_split(docs, cc, id_col="doc_id", eval_rate=1.0).collect()}
    # at eval_rate=1.0 EVERY row — including the NULL-id one — is eval
    assert out == {(None, "eval"), (1, "eval")}
    with pytest.raises(ValueError, match="cluster_rep"):
        cluster_safe_split(docs.withColumn("cluster_rep", docs.doc_id), cc,
                           id_col="doc_id")


def test_upsample_clobber_guard(spark):
    import pytest

    from data_check_spark.operators.sampling import upsample_domains

    df = spark.createDataFrame([(1, "en", 0)], "doc_id long, lang string, epoch int")
    with pytest.raises(ValueError, match="epoch"):
        upsample_domains(df, id_col="doc_id", domain_col="lang", factors_bp={})


def _replay_token_budget(rows, budgets, seed):
    """Independent pure-python replay of token_budget_select's contract."""
    import hashlib
    from collections import defaultdict

    sums = defaultdict(int)
    for i, d, s, t in rows:
        if s is None or t is None or t <= 0 or d not in budgets:
            continue
        sums[(d, s)] += t
    by_domain = defaultdict(list)
    for (d, s), t in sums.items():
        by_domain[d].append((s, t))
    rules = {}
    for d, buckets in by_domain.items():
        remaining = budgets[d]
        for s, t in sorted(buckets, reverse=True):
            if remaining <= 0:
                break
            if t <= remaining:
                rules[(d, s)] = 1 << 32
                remaining -= t
            else:
                rules[(d, s)] = (remaining << 32) // t
                remaining = 0
    keep = set()
    for i, d, s, t in rows:
        if s is None or t is None or t <= 0:
            continue
        thr = rules.get((d, s))
        if thr is not None and int(
            hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16
        ) < thr:
            keep.add(i)
    return keep


def test_token_budget_select_exact_replay(spark):
    from data_check_spark.operators.sampling import token_budget_select

    # en: 4 score buckets x 50 docs x 100 tokens = 5000/bucket; budget 12500
    # keeps scores 3,2 whole, HALF of score 1 (fractional boundary), drops 0.
    # de: total 2000 < budget 50000 -> everything kept. fr: no budget -> out.
    rows = []
    for i in range(200):
        rows.append((i, "en", i % 4, 100))
    for i in range(200, 220):
        rows.append((i, "de", i % 2, 100))
    for i in range(220, 240):
        rows.append((i, "fr", 1, 100))
    rows += [(500, "en", None, 100), (501, "en", 3, None), (502, "en", 3, 0)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, s int, toks int")
    budgets = {"en": 12500, "de": 50000}
    out = token_budget_select(
        df, id_col="doc_id", domain_col="dom", score_col="s",
        token_col="toks", budgets=budgets, seed="tb9",
    )
    got = {r.doc_id for r in out.collect()}
    assert got == _replay_token_budget(rows, budgets, "tb9")
    # structural spot-checks: whole-kept buckets, whole-kept domain, drops
    assert {i for i in range(200) if i % 4 >= 2} <= got        # en scores 3,2
    assert set(range(200, 220)) <= got                          # all of de
    assert not any(i % 4 == 0 for i in got if i < 200)          # en score 0 gone
    assert not (got & set(range(220, 240)))                     # fr dropped
    assert not (got & {500, 501, 502})                          # null/zero rows
    # fractional boundary: ~half of en score-1 docs (50 of them) survive
    n_boundary = sum(1 for i in got if i < 200 and i % 4 == 1)
    assert 10 <= n_boundary <= 40  # E=25, binomial; generous bounds


def test_token_budget_zero_budget_and_guards(spark):
    import pytest

    from data_check_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [(1, "en", 5, 10), (2, "en", 4, 10)], "doc_id long, dom string, s int, toks int"
    )
    out = token_budget_select(
        df, id_col="doc_id", domain_col="dom", score_col="s",
        token_col="toks", budgets={"en": 0},
    )
    assert out.count() == 0
    assert out.columns == df.columns  # empty frame keeps the input schema
    with pytest.raises(ValueError, match="budget"):
        token_budget_select(
            df, id_col="doc_id", domain_col="dom", score_col="s",
            token_col="toks", budgets={"en": -1},
        )


def test_token_budget_plan_broadcast_no_sort(spark):
    from data_check_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [(i, "en", i % 3, 10) for i in range(300)],
        "doc_id long, dom string, s int, toks int",
    )
    out = token_budget_select(
        df, id_col="doc_id", domain_col="dom", score_col="s",
        token_col="toks", budgets={"en": 1500},
    )
    out.collect()  # finalize AQE
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus is filtered via a broadcast of the tiny rule frame —
    # never globally sorted, never sort-merge joined
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_shuffle_exact_replay_and_balance(spark):
    import hashlib

    from data_check_spark.operators.sampling import corpus_shuffle

    n = 2000
    df = spark.createDataFrame([(i, f"d{i}") for i in range(n)], "doc_id long, txt string")
    out = corpus_shuffle(df, id_col="doc_id", n_shards=8, seed="sh9")
    got = {r.doc_id: (r.shard, r.pos) for r in out.collect()}
    # independent replay: shard = (h*8)>>32, pos = rank of (h, id) in shard
    hv = {i: int(hashlib.md5(f"sh9:{i}".encode()).hexdigest()[:8], 16) for i in range(n)}
    by_shard = {}
    for i in range(n):
        by_shard.setdefault((hv[i] * 8) >> 32, []).append(i)
    want = {}
    for s, members in by_shard.items():
        for pos, i in enumerate(sorted(members, key=lambda i: (hv[i], i)), start=1):
            want[i] = (s, pos)
    assert got == want
    # shards are balanced: each within 4 sd of n/8
    from collections import Counter
    c = Counter(s for s, _ in got.values())
    assert set(c) == set(range(8))
    assert all(abs(v - 250) < 70 for v in c.values())
    # stable under input repartitioning (order is a function of the key only)
    got2 = {r.doc_id: (r.shard, r.pos)
            for r in corpus_shuffle(df.repartition(7), id_col="doc_id",
                                    n_shards=8, seed="sh9").collect()}
    assert got2 == got


def test_corpus_shuffle_plan_one_keyed_exchange(spark):
    from data_check_spark.operators.sampling import corpus_shuffle

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = corpus_shuffle(df, id_col="doc_id", n_shards=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one exchange, keyed by shard — never a single-partition global sort
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_corpus_shuffle_guards(spark):
    import pytest

    from data_check_spark.operators.sampling import corpus_shuffle

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="n_shards"):
        corpus_shuffle(df, id_col="doc_id", n_shards=0)
    with pytest.raises(ValueError, match="shard"):
        corpus_shuffle(df.withColumn("shard", df.doc_id), id_col="doc_id", n_shards=2)


def test_temperature_mix_flattens_distribution(spark):
    """alpha=0.5 targets proportions ∝ sqrt(n): the dominant domain is cut
    hardest, the scarcest kept whole, and realized counts track the integer
    plan's expectations."""
    import math

    from data_check_spark.operators.sampling import mix_plan, temperature_mix

    rows = [(f"a{i}", "big") for i in range(1600)]
    rows += [(f"b{i}", "mid") for i in range(400)]
    rows += [(f"c{i}", "small") for i in range(100)]
    rows += [("n0", None)]  # NULL domain: dropped, never counted
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = temperature_mix(df, id_col="doc_id", domain_col="lang", alpha=0.5)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        __import__("pyspark").sql.functions.count("*").alias("n")).collect()}
    counts = {"big": 1600, "mid": 400, "small": 100}
    plan = mix_plan(counts, {d: math.isqrt(n) for d, n in counts.items()})
    # scarcest domain caps the total: small (w=10) keeps all 100
    assert plan["small"]["keep"] == 100
    assert plan["big"]["keep"] == 400 and plan["mid"]["keep"] == 200
    assert None not in got
    for d in counts:
        assert abs(got[d] - plan[d]["keep"]) <= 3 * math.isqrt(plan[d]["keep"]) + 1, (d, got)


def test_temperature_mix_alpha_guard(spark):
    import pytest as _pytest

    from data_check_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame([("a", "en")], "doc_id string, lang string")
    with _pytest.raises(ValueError, match="alpha"):
        temperature_mix(df, id_col="doc_id", domain_col="lang", alpha=0.3)


def test_temperature_mix_alpha_one_is_passthrough(spark):
    """alpha=1: weights = counts, every domain's threshold is full-keep."""
    from data_check_spark.operators.sampling import temperature_mix

    rows = [(f"a{i}", "en") for i in range(50)] + [(f"b{i}", "de") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    assert temperature_mix(df, id_col="doc_id", domain_col="lang", alpha=1.0).count() == 60
