"""Multimodal plumbing: schema, batch shape, stubbed decode seam."""

import pytest

from data_check_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    portable_media_df,
)


@pytest.fixture(scope="module")
def media(spark):
    ids = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    return portable_media_df(ids)


def test_feature_extraction_contract(media):
    out = extract_features(media).collect()
    assert len(out) == 400
    ok = [r for r in out if r["ok"]]
    bad = [r for r in out if not r["ok"]]
    assert ok and bad  # fixture plants some null payloads
    for r in ok:
        assert len(r["feature"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
        assert r["error"] is None
    for r in bad:
        assert r["feature"] is None
        assert r["error"] == "empty payload"


def test_feature_determinism(media):
    a = {r["media_id"]: r["feature"] for r in extract_features(media).collect() if r["ok"]}
    b = {r["media_id"]: r["feature"] for r in extract_features(media).collect() if r["ok"]}
    assert a == b


def test_portable_media_df_matches_python_md5(spark):
    """Engine-independent recompute of the portable fixture: hashlib-derived
    (media_type, NULL routing, payload length, partition) must equal the
    Spark columns — the same cross-check discipline as the portable LSH and
    audio-stats oracles."""
    import hashlib

    ids = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    rows = {r["media_id"]: r for r in portable_media_df(ids).collect()}
    assert len(rows) == 400
    saw_null = False
    for i in range(400):
        hx = hashlib.md5(f"{i}:media".encode()).hexdigest()
        h = int(hx[:15], 16)
        r = rows[f"m_{i}"]
        assert r["media_type"] == ["image", "audio", "video"][h % 3]
        assert r["partition"] == f"p{h % 16:02d}"
        assert r["meta"]["dur_ms"] == str(h % 30000 + 500)
        if h % 97 == 0:
            saw_null = True
            assert r["payload"] is None
        else:
            assert bytes(r["payload"]).decode() == "blob_" + hx[: 5 + h % 28]
    assert saw_null  # the NULL-payload seam must be exercised


def test_media_feature_extract_flags_null_payloads(spark):
    """The oracle-checked query shape: NULL payloads surface as error-data
    rows with n_bytes=0; everything else is ok with the analytic length."""
    ids = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    out = extract_features(portable_media_df(ids)).collect()
    bad = [r for r in out if not r["ok"]]
    assert bad and all(r["error"] == "empty payload" and r["n_bytes"] == 0 for r in bad)
    assert all(10 <= r["n_bytes"] <= 37 for r in out if r["ok"])


def test_ppm_parse_and_image_stats_handcrafted(spark):
    import numpy as np

    from data_check_spark.operators.multimodal import _parse_p6, image_stats

    # 2x1 image: pixels (10,20,30) and (40,50,60)
    good = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    w, h, maxval, rgb = _parse_p6(good)
    assert (w, h, maxval) == (2, 1, 255)
    assert rgb.tolist() == [10, 20, 30, 40, 50, 60]
    # arbitrary whitespace between header tokens is legal PPM
    wide = b"P6  2\n\n1\t255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert _parse_p6(wide)[:3] == (2, 1, 255)

    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"P5\n2 1\n255\n" + bytes(6))),      # wrong magic
        (3, bytearray(b"P6\n2 1\n255\n" + bytes(5))),       # truncated raster
        (4, bytearray(b"P6\n2 1\n70000\n" + bytes(6))),     # 16-bit maxval unsupported
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r["doc_id"]: r for r in image_stats(df, keep=["doc_id"]).collect()}
    r1 = out[1]
    assert (r1["width"], r1["height"], r1["maxval"], r1["n_pixels"]) == (2, 1, 255, 2)
    assert (r1["sum_r"], r1["sum_g"], r1["sum_b"]) == (50, 70, 90)
    for bad in (2, 3, 4, 5):
        assert all(
            out[bad][c] is None
            for c in ("width", "height", "maxval", "n_pixels", "sum_r", "sum_g", "sum_b")
        ), bad


def test_synth_ppm_roundtrip_closed_form(spark):
    """synth → real decode must reproduce the analytic channel sums the
    DuckDB oracle states (the invariant image_stats_documents relies on)."""
    from data_check_spark.operators.multimodal import image_stats, synth_ppm

    params = spark.createDataFrame(
        [(1, 8, 8, 0, 100, 200), (2, 39, 23, 200, 1, 17)],
        "doc_id bigint, w int, h int, r_base int, g_base int, b_base int",
    )
    out = {r["doc_id"]: r for r in
           image_stats(synth_ppm(params, keep=["doc_id"]), keep=["doc_id"]).collect()}

    def S(n):
        q, r = divmod(n, 16)
        return q * 120 + r * (r - 1) // 2

    for doc, w, h, rb, gb, bb in [(1, 8, 8, 0, 100, 200), (2, 39, 23, 200, 1, 17)]:
        n = w * h
        r = out[doc]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, n)
        assert r["sum_r"] == n * rb + S(n)
        assert r["sum_g"] == n * gb + S(n)
        assert r["sum_b"] == n * bb + S(n)


def test_sniff_container_magic_bytes(spark):
    from data_check_spark.operators.multimodal import sniff_container

    cases = [
        ("wav", b"RIFF\x24\x00\x00\x00WAVEfmt "),
        ("webp_riff", b"RIFF\x24\x00\x00\x00WEBPVP8 "),  # RIFF but NOT wav
        ("avi_riff", b"RIFF\x24\x00\x00\x00AVI LIST"),
        ("flac", b"fLaC\x00\x00\x00\x22"),
        ("ogg", b"OggS\x00\x02"),
        ("jpeg", b"\xff\xd8\xff\xe0\x00\x10JFIF"),
        ("png", b"\x89PNG\r\n\x1a\x0aIHDR"),
        ("ppm_nl", b"P6\n4 2\n255\n"),
        ("ppm_sp", b"P6 4 2 255 "),
        ("mp3", b"ID3\x04\x00"),
        ("mp4", b"\x00\x00\x00\x20ftypisom"),
        ("garbage", b"\x00\x11\x22\x33\x44\x55\x66\x77\x88"),
        ("short", b"P"),
        ("empty", b""),
        ("null", None),
    ]
    df = spark.createDataFrame(
        [(n, bytearray(b) if b is not None else None) for n, b in cases],
        "name string, payload binary",
    )
    got = {r["name"]: r["s"] for r in df.select("name", sniff_container("payload").alias("s")).collect()}
    assert got["wav"] == "wav"
    assert got["webp_riff"] == "unknown"  # RIFF without WAVE fourcc
    assert got["avi_riff"] == "unknown"
    assert got["flac"] == "flac"
    assert got["ogg"] == "ogg"
    assert got["jpeg"] == "jpeg"
    assert got["png"] == "png"
    assert got["ppm_nl"] == "ppm"
    assert got["ppm_sp"] == "ppm"
    assert got["mp3"] == "mp3"
    assert got["mp4"] == "mp4"
    assert got["garbage"] == "unknown"
    assert got["short"] == "unknown"
    assert got["empty"] == "unknown"
    assert got["null"] is None


def test_sniff_container_jvm_only_plan(spark):
    from data_check_spark.operators.multimodal import sniff_container

    df = spark.createDataFrame([(bytearray(b"fLaC"),)], "payload binary")
    plan = (
        df.select(sniff_container("payload").alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan
