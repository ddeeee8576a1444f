"""Corpus-curation spark-submit entry point: end-to-end wiring through main()."""

import json
import os
import sys

JOBS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string, lang string, source string").write.parquet(path)


def test_curate_job_end_to_end(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS)
    import curate_job

    good = "the quick brown fox jumps over the lazy dog near the river bank today"
    bench = "unique benchmark sentence appears here exactly once okay"
    rows = [(i, f"{good} variant {i} " + "filler word " * 10, "en", f"s{i % 3}") for i in range(40)]
    rows[5] = (5, rows[5][1] + " " + bench, "en", "s2")  # carries the eval text
    rows += [(100, rows[0][1], "en", "s9")]              # exact dup of doc 0
    rows += [(101, "!!! " * 30, "en", "s9")]             # low quality (repetitive punct)
    rows += [(102, "mojibake � text here", "en", "s9")]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)

    ev = str(tmp_path / "eval")
    # eval doc's 4-grams appear ONLY in doc 5 → exactly one contaminated doc
    _write_docs(spark, ev, [(0, bench, "en", "bench")])

    out = str(tmp_path / "release")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--eval", ev, "--min-quality", "3000",
        "--drop-mojibake", "--skip-near-dup",
        "--shards", "4",
    ])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["verified"] and manifest["verify_failed_partitions"] == 0
    assert manifest["input_rows"] == 43
    dropped = manifest["dropped"]
    assert dropped["exact_dup"] == 1        # doc 100 (doc 0 is the keeper)
    assert dropped["mojibake"] == 1         # doc 102
    assert dropped["low_quality"] == 1      # doc 101
    assert dropped["contaminated"] == 1     # doc 5
    assert manifest["kept_rows"] == 43 - sum(dropped.values())

    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == manifest["kept_rows"]
    assert {"doc_id", "text", "lang", "source", "quality_q4", "shard", "pos"} <= set(corpus.columns)
    # dropped docs are really gone
    ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert 100 not in ids and 101 not in ids and 102 not in ids and 5 not in ids
    # manifest.json written locally
    with open(f"{out}/manifest.json") as f:
        assert json.load(f) == manifest


def test_curate_job_near_dup_keeps_best_copy(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS)
    import curate_job

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon " * 3)
    rows = [
        (1, base + "tail one", "en", "s0"),
        (2, base + "tail one two three four five six seven eight nine", "en", "s0"),
        (3, "completely different text about spark query planning and shuffles here today", "en", "s1"),
    ]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)
    out = str(tmp_path / "release")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--near-dup-threshold", "0.5", "--shards", "2",
    ])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["dropped"].get("near_dup") == 1
    ids = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").select("doc_id").collect()}
    # doc 2 is longer (higher length-band quality) → kept; doc 1 dropped
    assert 2 in ids and 3 in ids and 1 not in ids


def test_curate_job_history_chain_drops_previously_shipped(spark, tmp_path, capsys):
    """Release 2 passes release 1's fingerprints as --history: re-ingested
    content is dropped as seen_before, genuinely new docs ship."""
    sys.path.insert(0, JOBS)
    import curate_job

    r1_rows = [(i, f"release one document {i} " + "alpha beta gamma " * 5, "en", "s0")
               for i in range(10)]
    docs1 = str(tmp_path / "docs1")
    _write_docs(spark, docs1, r1_rows)
    out1 = str(tmp_path / "r1")
    assert curate_job.main([
        "--input", docs1, "--output-dir", out1, "--skip-near-dup", "--shards", "2",
    ]) == 0
    capsys.readouterr()

    # release 2: 5 re-ingested docs (new ids, same content) + 5 new docs
    r2_rows = [(1000 + i, r1_rows[i][1], "en", "s1") for i in range(5)]
    r2_rows += [(2000 + i, f"release two fresh document {i} " + "delta eps " * 8, "en", "s1")
                for i in range(5)]
    docs2 = str(tmp_path / "docs2")
    _write_docs(spark, docs2, r2_rows)
    out2 = str(tmp_path / "r2")
    assert curate_job.main([
        "--input", docs2, "--output-dir", out2,
        "--history", f"{out1}/fingerprints",
        "--skip-near-dup", "--shards", "2",
    ]) == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["dropped"]["seen_before"] == 5
    assert manifest["kept_rows"] == 5
    ids = {r["doc_id"] for r in spark.read.parquet(f"{out2}/corpus").select("doc_id").collect()}
    assert ids == {2000, 2001, 2002, 2003, 2004}
    # the new release's fingerprint store holds only the kept (new) content
    assert spark.read.parquet(f"{out2}/fingerprints").count() == 5


def test_curate_job_percentile_cut_and_dry_run(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS)
    import curate_job

    # quality strictly increases with length band (distinct tokens, no punct)
    words = "w%d"
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(4 + i * 6)), "en", "s0")
        for i in range(10)
    ]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)

    out = str(tmp_path / "dry")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--skip-near-dup", "--keep-top-pct", "30", "--dry-run",
    ])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["dry_run"] is True
    assert manifest["dropped"]["low_quality"] >= 6   # ~bottom 70%
    assert manifest["kept_rows"] + sum(manifest["dropped"].values()) == 10
    assert manifest["quality_threshold"] > 0
    # dry run wrote NOTHING
    import os
    assert not os.path.exists(f"{out}/corpus")


def test_curate_job_preflight_rules_and_token_budget(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS)
    import curate_job

    from data_check_spark.rules.catalog_corpus import corpus_catalog

    # docs with distinct token sizes and qualities; doc 50 violates the
    # lang whitelist, doc 51 lies about n_chars
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(10 + i * 5)), "en", "src1",
         None)
        for i in range(8)
    ]
    rows = [(i, t, l, s, len(t)) for i, t, l, s, _ in rows]
    rows += [(50, "x " * 40, "zz", "src1", len("x " * 40))]   # LANG_WHITELIST
    rows += [(51, "y " * 40, "en", "src1", 999_999)]          # CHARS_CONSISTENT
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(docs)

    cat_path = str(tmp_path / "rules.json")
    corpus_catalog().save(cat_path)

    out = str(tmp_path / "release")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--preflight-rules", cat_path,
        "--token-budget", "120",
        "--skip-near-dup", "--shards", "2",
    ])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["dropped"]["rule_violation"] == 2           # docs 50, 51
    assert manifest["rule_violations"]["LANG_WHITELIST"] == 1
    assert manifest["rule_violations"]["CHARS_CONSISTENT"] == 1
    assert manifest["dropped"].get("over_budget", 0) >= 1
    ids = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").select("doc_id").collect()}
    assert 50 not in ids and 51 not in ids
    # budget filled best-quality-first: every kept doc's token count sums <= budget
    kept_tokens = sum(
        len(t.split()) for i, t, *_ in rows if i in ids
    )
    assert 0 < kept_tokens <= 120


def test_curate_job_quarantine_audit_trail(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS)
    import curate_job

    rows = [(i, " ".join(f"t{i}w{j}" for j in range(30)), "en", "s0") for i in range(6)]
    rows += [(10, rows[0][1], "en", "s1")]            # exact dup
    rows += [(11, "mojibake � here", "en", "s1")]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)
    out = str(tmp_path / "release")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--drop-mojibake", "--skip-near-dup", "--quarantine", "--shards", "2",
    ])
    assert rc == 0
    q = spark.read.parquet(f"{out}/quarantine")
    got = {(r["doc_id"], r["drop_reason"]) for r in q.collect()}
    assert got == {(10, "exact_dup"), (11, "mojibake")}
    # text is NOT re-shipped in the audit trail
    assert "text" not in q.columns and "quality_q4" in q.columns


def test_curate_job_semantic_dedup_keeps_best_copy(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS)
    import curate_job

    # docs 1 and 2: different text, near-identical embeddings (semantic dups;
    # doc 2 longer → higher quality → kept). doc 3: orthogonal embedding.
    rows = [
        (1, "short paraphrase of the idea " + "pad " * 5, "en", "s0"),
        (2, "a longer and better written paraphrase of the very same idea "
            + "word " * 30, "en", "s0"),
        (3, "entirely unrelated content about parquet footers " + "col " * 20, "en", "s1"),
    ]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)

    base = [1.0, 0.2, -0.3, 0.5, 0.1, -0.8, 0.4, 0.9]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    ortho = [-0.9, 0.8, 0.1, -0.5, 0.7, 0.2, -0.4, -0.1]
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(1, base), (2, near), (3, ortho)], "doc_id long, embedding array<float>"
    ).write.parquet(emb)

    out = str(tmp_path / "release")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--embeddings", emb, "--semantic-threshold", "0.99",
        "--skip-near-dup", "--shards", "2",
    ])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["dropped"].get("semantic_dup") == 1
    ids = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus").select("doc_id").collect()}
    assert ids == {2, 3}


def test_curate_job_empty_release_is_graceful_and_chainable(spark, tmp_path, capsys):
    """Incremental run where history covers the entire batch: kept_rows 0,
    exit 0, no corpus dir, and the (empty) fingerprint store still chains."""
    sys.path.insert(0, JOBS)
    import curate_job

    rows = [(i, f"doc number {i} " + "tok " * 20, "en", "s0") for i in range(6)]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)

    out1 = str(tmp_path / "r1")
    assert curate_job.main([
        "--input", docs, "--output-dir", out1, "--skip-near-dup", "--shards", "2",
    ]) == 0
    capsys.readouterr()

    # same batch again → 100% seen_before
    out2 = str(tmp_path / "r2")
    assert curate_job.main([
        "--input", docs, "--output-dir", out2,
        "--history", f"{out1}/fingerprints", "--skip-near-dup", "--shards", "2",
    ]) == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["kept_rows"] == 0 and manifest["dropped"]["seen_before"] == 6
    assert manifest["verified"] is True
    import os
    assert not os.path.exists(f"{out2}/corpus")
    # the empty store is readable and a third chained run still works
    assert spark.read.parquet(f"{out2}/fingerprints").count() == 0
    out3 = str(tmp_path / "r3")
    assert curate_job.main([
        "--input", docs, "--output-dir", out3,
        "--history", f"{out2}/fingerprints", "--skip-near-dup", "--shards", "2",
    ]) == 0
    manifest3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest3["kept_rows"] == 6   # empty history → everything new again


def test_curate_job_union_history_store_is_self_contained(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS)
    import curate_job

    r1 = [(i, f"first wave doc {i} " + "a " * 20, "en", "s0") for i in range(3)]
    docs1 = str(tmp_path / "d1")
    _write_docs(spark, docs1, r1)
    out1 = str(tmp_path / "r1")
    assert curate_job.main([
        "--input", docs1, "--output-dir", out1, "--skip-near-dup", "--shards", "1",
    ]) == 0

    r2 = [(10 + i, f"second wave doc {i} " + "b " * 20, "en", "s0") for i in range(2)]
    docs2 = str(tmp_path / "d2")
    _write_docs(spark, docs2, r2)
    out2 = str(tmp_path / "r2")
    assert curate_job.main([
        "--input", docs2, "--output-dir", out2,
        "--history", f"{out1}/fingerprints", "--union-history",
        "--skip-near-dup", "--shards", "1",
    ]) == 0
    # store now covers BOTH waves
    assert spark.read.parquet(f"{out2}/fingerprints").count() == 5
    capsys.readouterr()

    # a batch mixing both waves against JUST release 2's store drops everything
    mixed = str(tmp_path / "d3")
    _write_docs(spark, mixed, [(100, r1[0][1], "en", "s9"), (101, r2[0][1], "en", "s9")])
    out3 = str(tmp_path / "r3")
    assert curate_job.main([
        "--input", mixed, "--output-dir", out3,
        "--history", f"{out2}/fingerprints", "--skip-near-dup", "--shards", "1",
    ]) == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["dropped"]["seen_before"] == 2 and manifest["kept_rows"] == 0


def test_curate_job_null_id_rows_are_tallied_not_lost(spark, tmp_path, capsys):
    """A NULL id never equi-joins; it must surface as drop_reason null_id,
    not vanish from the manifest arithmetic."""
    sys.path.insert(0, JOBS)
    import curate_job

    rows = [(1, "fine document " + "tok " * 20, "en", "s0"),
            (None, "orphan row with no id " + "tok " * 20, "en", "s0")]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)
    out = str(tmp_path / "release")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--drop-mojibake",          # exercises an id-keyed signal join too
        "--skip-near-dup", "--shards", "1",
    ])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert manifest["input_rows"] == 2
    assert manifest["dropped"]["null_id"] == 1
    assert manifest["kept_rows"] == 1


def test_curate_job_tar_export(spark, tmp_path, capsys):
    import tarfile

    sys.path.insert(0, JOBS)
    import curate_job

    rows = [(i, f"tar doc {i} " + "tok " * 20, "en", "s0") for i in range(9)]
    docs = str(tmp_path / "docs")
    _write_docs(spark, docs, rows)
    out = str(tmp_path / "release")
    rc = curate_job.main([
        "--input", docs, "--output-dir", out,
        "--skip-near-dup", "--shards", "3", "--export-tar",
    ])
    assert rc == 0
    import os
    tars = sorted(f for f in os.listdir(f"{out}/tar") if f.endswith(".tar"))
    members = []
    for t in tars:
        with tarfile.open(f"{out}/tar/{t}") as tf:
            members += tf.getnames()
    assert len(members) == 9 and all(m.endswith(".txt") for m in members)
    assert {m.split(".")[0] for m in members} == {str(i) for i in range(9)}
