"""Rule suggestion: profile → proposed catalog → rules hold on the profiled
data and catch planted deviations on a drifted copy."""

import pytest


def _table(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, status string, phone string, score double, note string"
    )


CLEAN = [
    (i, ["OPEN", "DONE", "HOLD"][i % 3], f"555-{i:03d}-{i * 7 % 10000:04d}",
     float(10 + i), None if i % 4 == 0 else f"free text number {i} " * (i % 5 + 1))
    for i in range(60)
]


def test_suggest_rules_shapes(spark):
    from data_check_spark.rules.suggest import suggest_rules

    cat = suggest_rules(_table(spark, CLEAN))
    kinds = {r.rule_id: r.kind for r in cat.rules}
    assert kinds["ID_NOT_NULL"] == "not_null"
    assert kinds["ID_UNIQUE"] == "unique"
    assert kinds["ID_RANGE"] == "range"
    assert kinds["STATUS_SET"] == "value_in_set"
    assert kinds["PHONE_FORMAT"] == "format"
    assert kinds["SCORE_RANGE"] == "range"
    # note has NULLs → no NOT_NULL; free text → no FORMAT
    assert "NOTE_NOT_NULL" not in kinds and "NOTE_FORMAT" not in kinds
    set_rule = cat.get("STATUS_SET")
    assert set_rule.params["allowed"] == ["DONE", "HOLD", "OPEN"]
    rng = cat.get("ID_RANGE")
    assert rng.params == {"min": 0, "max": 59}
    fmt = cat.get("PHONE_FORMAT")
    assert fmt.params["pattern"] == "[0-9][0-9][0-9]\\-[0-9][0-9][0-9]\\-[0-9][0-9][0-9][0-9]"


def test_suggested_rules_hold_then_catch_drift(spark):
    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.suggest import suggest_rules

    df = _table(spark, CLEAN)
    cat = suggest_rules(df)
    compiled = compile_row_rules(cat.rules)

    # consistency: the data the rules were learned from violates nothing
    assert apply_row_rules(df, compiled, id_col="id", partition_col=None).count() == 0

    drifted = _table(spark, CLEAN + [
        (1000, "NEW_STATE", "5551234", 9999.0, "x"),   # enum + format + range
        (None, "OPEN", "555-111-0199", 20.0, "y"),     # null id
    ])
    viol = apply_row_rules(drifted, compiled, id_col="id", partition_col=None)
    fired = {r["rule_id"] for r in viol.collect()}
    assert {"STATUS_SET", "PHONE_FORMAT", "SCORE_RANGE", "ID_NOT_NULL"} <= fired

    # the unique suggestion is a set-oriented rule ready for the engine
    from data_check_spark.operators.uniqueness import unique_violations

    dup = _table(spark, CLEAN + [CLEAN[0]])
    assert unique_violations(
        dup, "ID_UNIQUE", "id", id_col="id", partition_col=None
    ).count() == 2


def test_suggest_rules_json_roundtrip(spark, tmp_path):
    import json

    from data_check_spark.rules.spec import load_catalog
    from data_check_spark.rules.suggest import suggest_rules

    cat = suggest_rules(_table(spark, CLEAN))
    path = str(tmp_path / "suggested.json")
    cat.save(path)
    assert load_catalog(path).to_json() == cat.to_json()
    assert len(json.load(open(path))) == len(cat.rules)


def test_suggest_then_validate_job_integration(spark, tmp_path, capsys):
    """suggest_rules on a bytes-free clip table → JSON → validate_job
    --rules: the learned catalog flags nothing on the data it was learned
    from and catches a drifted row appended later."""
    import json

    from data_check_spark.rules.suggest import suggest_rules
    from jobs import validate_job

    # bytes-free: the payload column is present (the clip contract) but NULL
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,"
              " transcript string, partition string")
    rows = [
        (f"clip_{i:04d}", None, [16000, 22050][i % 2], 1000 + 10 * i,
         ["flac", "opus"][i % 2], f"utterance number {i}", f"p{i % 4}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, schema)
    clips = str(tmp_path / "clips")
    df.write.parquet(clips)

    cat = suggest_rules(df)
    rules_path = str(tmp_path / "rules.json")
    cat.save(rules_path)

    out1 = str(tmp_path / "r1")
    assert validate_job.main([
        "--input", clips, "--rules", rules_path, "--output-dir", out1,
        "--run-ts", "2026-01-01 00:00:00",
    ]) == 0
    m1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m1["rows_scanned"] == 40 and m1["total_violations"] == 0

    drifted = rows + [("clip_9999", None, 8000, 1205, "mp3", "late arrival", "p1")]  # sr + codec drift
    clips2 = str(tmp_path / "clips2")
    spark.createDataFrame(drifted, schema).write.parquet(clips2)
    out2 = str(tmp_path / "r2")
    assert validate_job.main([
        "--input", clips2, "--rules", rules_path, "--output-dir", out2,
        "--run-ts", "2026-01-01 00:00:00",
    ]) == 0
    m2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m2["rows_scanned"] == 41
    fired = {
        (r["rule_id"], r["clip_id"])
        for r in spark.read.parquet(f"{out2}/violations").collect()
    }
    assert {("SR_HZ_RANGE", "clip_9999"), ("CODEC_SET", "clip_9999")} <= fired
    assert {clip for _, clip in fired} == {"clip_9999"}


def test_suggest_decimal_range_keeps_rendered_bounds(spark):
    from decimal import Decimal

    from data_check_spark.rules.compiler import apply_row_rules, compile_row_rules
    from data_check_spark.rules.suggest import suggest_rules

    df = spark.createDataFrame(
        [(i, Decimal(v)) for i, v in enumerate(["100.00", "0.10", "250.50", "42.00"])],
        "id bigint, price decimal(10,2)",
    )
    cat = suggest_rules(df)
    rng = cat.get("PRICE_RANGE")
    assert rng.name == "price observed envelope [0.10, 250.50]"
    assert rng.params == {"min": 0.1, "max": 250.5}
    assert apply_row_rules(
        df, compile_row_rules([rng]), id_col="id", partition_col=None
    ).count() == 0
