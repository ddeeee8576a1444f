"""Integer-exact PCM stats: decode edge cases, synth closed forms, and the
python-md5 cross-check of the oracle-checked query (same pattern as
test_sampling's engine-independent recompute)."""

import hashlib

import numpy as np
import pytest

from data_check_spark.operators.audio import pcm_stats, synth_square_pcm


def _stats_rows(spark, payloads):
    df = spark.createDataFrame(
        [(i, bytearray(b) if b is not None else None) for i, b in enumerate(payloads)],
        "id int, bytes binary",
    )
    out = pcm_stats(df).collect()
    return {r["id"]: r for r in sorted(out, key=lambda r: r["id"])}


def test_pcm_stats_handcrafted(spark):
    square = np.array([0, 0, 7, 7, -7, -7, 7], dtype="<i2").tobytes()
    fullscale_neg = np.array([-32768, 100], dtype="<i2").tobytes()
    allzero = np.zeros(5, dtype="<i2").tobytes()
    rows = _stats_rows(
        spark,
        [square, fullscale_neg, allzero, b"", None, b"\x01"],  # odd length last
    )
    r = rows[0]
    assert (r["n_samples"], r["lead_silence"], r["peak_abs"]) == (7, 2, 7)
    assert r["dc_sum"] == 7  # 3 pos - 2 neg of +/-7
    assert r["energy"] == 5 * 49
    assert r["n_zero_cross"] == 2  # 7->-7 and -7->7; 0->7 is not a crossing
    # int16 abs(-32768) overflow trap: peak must be 32768, not -32768
    assert rows[1]["peak_abs"] == 32768
    assert rows[1]["dc_sum"] == -32768 + 100
    assert rows[1]["energy"] == 32768 * 32768 + 100 * 100
    assert rows[1]["n_zero_cross"] == 1
    # all-zero payload: leading silence spans the whole clip
    assert (rows[2]["lead_silence"], rows[2]["peak_abs"], rows[2]["energy"]) == (5, 0, 0)
    assert rows[2]["n_zero_cross"] == 0  # zeros never cross
    # empty payload decodes to zero samples, not NULL
    assert (rows[3]["n_samples"], rows[3]["lead_silence"], rows[3]["energy"]) == (0, 0, 0)
    assert rows[3]["n_zero_cross"] == 0
    # NULL and odd-length (undecodable int16) payloads yield NULL stats
    for i in (4, 5):
        assert all(
            rows[i][c] is None
            for c in (
                "n_samples", "lead_silence", "peak_abs", "dc_sum", "energy",
                "n_zero_cross",
            )
        )


def _closed_form(n, lead, amp, k):
    wave = n - lead
    r = wave % (2 * k)
    dc = (min(r, k) - max(r - k, 0)) * amp
    return {
        "n_samples": n,
        "lead_silence": lead if wave > 0 else n,
        "peak_abs": amp if wave > 0 else 0,
        "dc_sum": dc,
        "energy": wave * amp * amp,
        "n_zero_cross": (wave - 1) // k if wave > 0 else 0,
    }


@pytest.mark.parametrize(
    "n,lead,amp,k",
    [
        (10, 0, 5, 1),      # no silence, fastest alternation
        (11, 3, 100, 4),    # remainder lands mid-positive half
        (16, 0, 32000, 4),  # exact full periods -> dc_sum 0
        (9, 2, 7, 3),       # remainder spills into the negative half
        (5, 5, 9, 2),       # all silence: wave length 0
    ],
)
def test_synth_square_matches_closed_form(spark, n, lead, amp, k):
    df = spark.createDataFrame([(n, lead, amp, k)], "n int, lead int, amp int, k int")
    row = pcm_stats(synth_square_pcm(df), keep=["n"]).collect()[0]
    expect = _closed_form(n, lead, amp, k)
    for col, val in expect.items():
        assert row[col] == val, (col, row[col], val)


def _md5_long60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_audio_stats_query_python_md5_crosscheck(spark):
    """Engine-independent recompute: hashlib-derived params -> closed form
    must equal what the Spark query produced from real decoded bytes."""
    from data_check_spark.queries import QUERIES

    out = {r["doc_id"]: r for r in QUERIES["audio_stats_documents"](spark, "/root/testdata/sf0.001").collect()}
    assert len(out) > 0
    for doc_id, row in list(sorted(out.items()))[:25]:
        n = 800 + _md5_long60(f"{doc_id}:n") % 1600
        lead = _md5_long60(f"{doc_id}:l") % 200
        amp = 1000 + _md5_long60(f"{doc_id}:a") % 31000
        k = 4 + _md5_long60(f"{doc_id}:k") % 28
        expect = _closed_form(n, lead, amp, k)
        for col, val in expect.items():
            assert row[col] == val, (doc_id, col, row[col], val)


# ---------------------------------------------------------------- segments


def _segments_replay(payload, W, min_energy):
    """Pure-python replay of voiced_segments' framing/run contract."""
    import numpy as np

    if payload is None or len(payload) % 2 != 0 or len(payload) == 0:
        return []
    x = np.frombuffer(payload, dtype="<i2").astype(np.int64)
    n = x.size
    nf = -(-n // W)
    fe = [int((x[f * W:(f + 1) * W] ** 2).sum()) for f in range(nf)]
    segs, run = [], None
    for f in range(nf + 1):
        voiced = f < nf and fe[f] >= min_energy
        if voiced and run is None:
            run = f
        elif not voiced and run is not None:
            s, e = run, f - 1
            segs.append((len(segs), s, e, s * W, min(n, (e + 1) * W),
                         e - s + 1, sum(fe[s:e + 1])))
            run = None
    return segs


def _pack16(vals):
    import numpy as np

    return np.asarray(vals, dtype="<i2").tobytes()


def test_voiced_segments_runs_and_edges(spark):
    from data_check_spark.operators.audio import voiced_segments

    W = 4
    payloads = {
        # two bursts split by one full silent frame
        1: _pack16([0] * 4 + [100] * 4 + [0] * 4 + [100] * 6),
        # sub-frame interior silence (2 zeros inside a frame): ONE run
        2: _pack16([100, 100, 0, 0, 100, 100, 100, 100]),
        # tail partial frame voiced; end_sample == n, not the frame edge
        3: _pack16([0] * 4 + [100] * 3),
        # all silence -> no rows
        4: _pack16([0] * 12),
        # empty payload -> no rows
        5: b"",
        # odd length (undecodable) -> no rows
        6: b"\x01\x02\x03",
        # NULL -> no rows
        7: None,
    }
    df = spark.createDataFrame(list(payloads.items()), "clip_id long, bytes binary")
    out = voiced_segments(df, frame_samples=W).collect()
    got = {}
    for r in out:
        got.setdefault(r.clip_id, []).append(
            (r.seg_idx, r.start_frame, r.end_frame, r.start_sample,
             r.end_sample, r.n_frames, r.energy))
    for cid in payloads:
        want = _segments_replay(payloads[cid], W, 1)
        assert sorted(got.get(cid, [])) == want, (cid, got.get(cid), want)
    assert len(got[1]) == 2          # the gap splits
    assert len(got[2]) == 1          # sub-frame silence does not
    assert got[3][0][4] == 7         # end_sample clipped to n
    assert 4 not in got and 5 not in got and 6 not in got and 7 not in got


def test_voiced_segments_min_energy_threshold(spark):
    from data_check_spark.operators.audio import voiced_segments

    # frame energies: [4*10^2=400, 4*100^2=40000]
    df = spark.createDataFrame(
        [(1, _pack16([10] * 4 + [100] * 4))], "clip_id long, bytes binary"
    )
    out = voiced_segments(df, frame_samples=4, min_energy=1000).collect()
    assert [(r.start_frame, r.end_frame) for r in out] == [(1, 1)]
    with __import__("pytest").raises(ValueError, match="frame_samples"):
        voiced_segments(df, frame_samples=0)


def test_two_burst_synth_layout(spark):
    import numpy as np

    from data_check_spark.operators.audio import synth_two_burst_pcm

    df = spark.createDataFrame(
        [(4, 6, 5, 3, 7, 2)], "lead int, w1 int, gap int, w2 int, amp int, k int"
    )
    b = synth_two_burst_pcm(df).collect()[0]["bytes"]
    x = np.frombuffer(b, dtype="<i2").astype(int).tolist()
    assert x == ([0] * 4 + [7, 7, -7, -7, 7, 7] + [0] * 5 + [7, 7, -7])


# ------------------------------------------------------------ fingerprint


def test_audio_fingerprint_gain_invariant(spark):
    import hashlib

    import numpy as np

    from data_check_spark.operators.audio import audio_fingerprint

    base = [0] * 4 + [100, -100, 50, 25] + [0] * 4 + [75] * 6
    rows = [
        (1, _pack16(base)),
        (2, _pack16([v * 5 for v in base])),          # gain x5: same shape
        (3, _pack16([0] * 4 + [100] * 14)),            # different content
        (4, _pack16([0] * 8)),                         # all silence
        (5, None),                                     # undecodable
        (6, b"\x01\x02\x03"),                          # odd length
    ]
    df = spark.createDataFrame(rows, "clip_id long, bytes binary")
    got = {r.clip_id: r for r in
           audio_fingerprint(df, frame_samples=4).collect()}
    assert got[1].fingerprint == got[2].fingerprint      # gain copies collide
    assert got[1].profile == got[2].profile
    assert got[3].fingerprint != got[1].fingerprint      # content differs
    assert got[4].profile == "0,0"                       # silence: all zeros
    assert got[5].fingerprint is None and got[6].fingerprint is None
    assert got[5].n_frames is None
    # exact replay of clip 1: frame energies over W=4, q = 16*e // e_max
    x = np.asarray(base, dtype=np.int64)
    nf = -(-len(base) // 4)  # ceil: the padded tail frame counts
    fe = [int((x[f * 4:(f + 1) * 4] ** 2).sum()) for f in range(nf)]
    q = [16 * e // max(fe) for e in fe]
    profile = ",".join(map(str, q))
    assert got[1].profile == profile
    assert got[1].fingerprint == hashlib.md5(profile.encode()).hexdigest()
    assert got[1].n_frames == nf


def test_audio_fingerprint_dedup_composes(spark):
    """The fingerprint column feeds the standard exact-dedup machinery:
    gain-duplicates land in one group, first id wins."""
    from data_check_spark.operators.audio import audio_fingerprint
    from data_check_spark.operators.dedup import exact_duplicate_groups

    base = [10, -20, 30, -40] * 4 + [5, -5] * 8
    rows = [(1, _pack16(base)), (2, _pack16([v * 3 for v in base])),
            (3, _pack16([99] * 8 + [1] * 24))]
    df = spark.createDataFrame(rows, "doc_id long, bytes binary")
    fp = audio_fingerprint(df, frame_samples=8).select("doc_id", "fingerprint")
    groups = exact_duplicate_groups(fp, id_col="doc_id", text_col="fingerprint")
    got = [(r["n_docs"], r["keep_id"]) for r in groups.collect()]
    assert got == [(2, 1)]  # the gain pair {1,2} is one group, first wins


def test_emitted_column_guards(spark):
    """Kept input columns colliding with an operator's output columns are a
    loud ValueError, not an executor-side schema mismatch (pcm_stats emits
    'energy' too, so chaining pcm_stats -> voiced_segments without a rename
    hits exactly this)."""
    import pytest

    from data_check_spark.operators.audio import (
        audio_fingerprint,
        pcm_stats,
        voiced_segments,
    )

    df = spark.createDataFrame(
        [(1, b"\x00\x00", 5)], "clip_id long, bytes binary, energy long"
    )
    with pytest.raises(ValueError, match="energy"):
        voiced_segments(df)
    with pytest.raises(ValueError, match="profile"):
        audio_fingerprint(df.withColumnRenamed("energy", "profile"))
    with pytest.raises(ValueError, match="n_samples"):
        pcm_stats(df.withColumnRenamed("energy", "n_samples"))


def test_speech_rate_bands_and_edges(spark):
    """Cross-modal speech-rate screen: hand-computed integer rates, band
    boundaries inclusive, and every degenerate routing (NULL/zero voiced,
    NULL sr, NULL/zero tokens) lands on its documented status."""
    from data_check_spark.operators.audio import speech_rate

    rows = [
        # (id, n_tokens, voiced_samples, sr_hz)
        (0, 30, 16000, 16000),       # 30 tok / 1 s = 30000 mtps -> too_fast
        (1, 200, 8000, 16000),       # 200 tok / 0.5 s = 400000 -> too_fast
        (2, 1, 160000, 16000),       # 1 tok / 10 s = 100 mtps -> too_slow
        (3, 0, 16000, 16000),        # voiced but no tokens
        (4, None, 16000, 16000),     # NULL tokens == zero tokens
        (5, 30, 0, 16000),           # no voiced span
        (6, 30, None, 16000),        # undecodable clip
        (7, 30, 16000, None),        # unknown sample rate == no usable audio
        (8, 0, None, None),          # nothing on either side
        (9, 7, 16000, 16000),        # 7000 mtps == max boundary -> ok
        (10, 5, 16000, 16000),       # 5000 mtps == min boundary -> ok
    ]
    df = spark.createDataFrame(
        rows, "id int, n_tokens int, voiced_samples long, sr_hz int"
    )
    out = {
        r["id"]: r
        for r in speech_rate(df, min_mtps=5_000, max_mtps=7_000).collect()
    }
    assert (out[0]["rate_mtps"], out[0]["status"]) == (30_000, "too_fast")
    assert out[1]["status"] == "too_fast" and out[1]["rate_mtps"] == 400_000
    assert (out[2]["rate_mtps"], out[2]["status"]) == (100, "too_slow")
    assert (out[3]["rate_mtps"], out[3]["status"]) == (0, "untranscribed")
    assert (out[4]["rate_mtps"], out[4]["status"]) == (0, "untranscribed")
    for i in (5, 6, 7):
        assert (out[i]["rate_mtps"], out[i]["status"]) == (None, "no_audio")
    assert (out[8]["rate_mtps"], out[8]["status"]) == (None, "empty")
    # band boundaries are inclusive on both ends
    assert (out[9]["rate_mtps"], out[9]["status"]) == (7_000, "ok")
    assert (out[10]["rate_mtps"], out[10]["status"]) == (5_000, "ok")

    with pytest.raises(ValueError, match="min_mtps"):
        speech_rate(df, min_mtps=10, max_mtps=5)


def test_training_windows_hand_computed(spark):
    from data_check_spark.operators.audio import training_windows

    segs = spark.createDataFrame(
        [
            # 550 samples: windows [0,256) [256,512) and tail [512,550) (38 >= 20)
            (1, 0, 0, 550),
            # 256 exactly: one full window, no tail
            (1, 1, 600, 856),
            # 270: full window + 14-sample tail DROPPED (< min_samples 20)
            (2, 0, 100, 370),
            # tiny segment below min_samples: no windows at all
            (3, 0, 5, 15),
        ],
        "doc_id bigint, seg_idx int, start_sample bigint, end_sample bigint",
    )
    out = sorted(
        (
            (r["doc_id"], r["seg_idx"], r["window_idx"], r["w_start"], r["w_end"],
             r["n_samples"])
            for r in training_windows(segs, window_samples=256, min_samples=20).collect()
        )
    )
    assert out == [
        (1, 0, 0, 0, 256, 256),
        (1, 0, 1, 256, 512, 256),
        (1, 0, 2, 512, 550, 38),
        (1, 1, 0, 600, 856, 256),
        (2, 0, 0, 100, 356, 256),
    ]


def test_training_windows_guards(spark):
    from data_check_spark.operators.audio import training_windows

    segs = spark.createDataFrame(
        [(1, 0, 0, 10)], "doc_id bigint, seg_idx int, start_sample bigint, end_sample bigint"
    )
    with pytest.raises(ValueError, match="window_samples"):
        training_windows(segs, window_samples=0)
    with pytest.raises(ValueError, match="min_samples"):
        training_windows(segs, window_samples=10, min_samples=11)


def test_training_windows_plan_no_shuffle(spark):
    """The tiling is a pure projection fan-out: no Exchange, no Python."""
    from data_check_spark.operators.audio import training_windows

    segs = spark.createDataFrame(
        [(1, 0, 0, 1000)],
        "doc_id bigint, seg_idx int, start_sample bigint, end_sample bigint",
    )
    plan = training_windows(segs, window_samples=256)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan and "InPandas" not in plan


def test_autocorr_lags_hand_computed_and_edges(spark):
    import numpy as np
    from data_check_spark.operators.audio import autocorr_lags

    def pcm(vals):
        return bytearray(np.array(vals, dtype="<i2").tobytes())

    rows = [
        # alternating +-1: r0=4, r(1)=-3, r(2)=2, r(3)=-1, r(4)=0 (lag>=n)
        ("alt", pcm([1, -1, 1, -1]), [1, 2, 3, 4, 0, -2]),
        ("odd", bytearray(b"\x01\x02\x03"), [1]),      # undecodable
        ("nul", None, [1]),                            # NULL payload
        ("nolags", pcm([5, 5]), None),                 # NULL lag list -> no rows
        ("silence", pcm([0, 0, 0]), [1]),              # r0=0 -> NULL ratio
        ("neg", pcm([100, -100, 100]), [1]),           # r=-20000, trunc toward 0
    ]
    df = spark.createDataFrame(rows, "name string, bytes binary, lags array<bigint>")
    got = {}
    for r in autocorr_lags(df, keep=["name"]).collect():
        got.setdefault(r["name"], {})[r["lag"]] = (
            r["n_samples"], r["r0"], r["r_lag"], r["ratio_bp"]
        )
    assert got["alt"][1] == (4, 4, -3, -7500)
    assert got["alt"][2] == (4, 4, 2, 5000)
    assert got["alt"][3] == (4, 4, -1, -2500)
    assert got["alt"][4] == (4, 4, 0, 0)       # lag >= n: empty sum
    assert got["alt"][0] == (4, 4, None, None)  # lag <= 0
    assert got["alt"][-2] == (4, 4, None, None)
    assert got["odd"][1] == (None, None, None, None)
    assert got["nul"][1] == (None, None, None, None)
    assert "nolags" not in got
    assert got["silence"][1] == (3, 0, 0, None)  # zero-energy: NULL ratio
    # r(1) = 100*-100 + -100*100 = -20000, r0=30000 -> -20000*1e4 div 3e4 = -6666
    assert got["neg"][1] == (3, 30000, -20000, -6666)


def test_normalization_gain_hand_computed(spark):
    import math
    from data_check_spark.operators.audio import normalization_gain

    T = 10_000_000
    rows = [
        # (name, n, energy, peak)
        ("quiet", 1000, 1000 * 40000, 200),   # ms=4e4 -> gain=isqrt(2.5e6)*100
        ("loud", 1000, 1000 * 40_000_000, 20000),  # ms=4e7 > target: gain < 1e4
        ("silence", 1000, 0, 0),
        ("nul", None, None, None),
        ("exact", 100, 100 * T, 5000),        # already at target: gain = 10000
    ]
    df = spark.createDataFrame(rows, "name string, n_samples long, energy long, peak_abs long")
    got = {r["name"]: r.asDict() for r in
           normalization_gain(df, target_ms_q=T).collect()}

    def expect_gain(n, e):
        return math.isqrt(T * 10**8 * n // e)

    q = got["quiet"]
    assert q["gain_bp"] == expect_gain(1000, 1000 * 40000) == 158113
    assert q["max_gain_bp"] == 32767 * 10000 // 200
    assert q["would_clip"] is False and q["capped_gain_bp"] == q["gain_bp"]
    l = got["loud"]
    assert l["gain_bp"] == expect_gain(1000, 1000 * 40_000_000) == 5000
    assert l["would_clip"] is False
    s = got["silence"]
    assert s["gain_bp"] is None and s["would_clip"] is None and s["capped_gain_bp"] is None
    assert got["nul"]["gain_bp"] is None
    assert got["exact"]["gain_bp"] == 10000

    # clip case: tiny rms but peak already near full scale
    df2 = spark.createDataFrame([("spike", 1000, 1000 * 100, 30000)],
                                "name string, n_samples long, energy long, peak_abs long")
    r = {x["name"]: x.asDict() for x in normalization_gain(df2, target_ms_q=T).collect()}["spike"]
    assert r["would_clip"] is True
    assert r["capped_gain_bp"] == 32767 * 10000 // 30000 < r["gain_bp"]


def test_normalization_gain_isqrt_matches_python(spark):
    import math
    from data_check_spark.operators.audio import normalization_gain

    # stress the floor(sqrt)+-1 correction across magnitudes incl. perfect
    # squares and off-by-one boundaries
    rows = []
    for i, e in enumerate([1, 2, 3, 4, 99, 100, 101, 10**6, 10**6 + 1,
                           999983, 2**40, 2**40 + 1, 3**20]):
        rows.append((i, 2400, e, 100))
    df = spark.createDataFrame(rows, "i long, n_samples long, energy long, peak_abs long")
    got = {r["i"]: r["gain_bp"] for r in
           normalization_gain(df, target_ms_q=10_000_000).collect()}
    for i, (_, n, e, _p) in enumerate(rows):
        assert got[i] == math.isqrt(10_000_000 * 10**8 * n // e), (i, e)


def test_normalization_gain_guards_and_plan(spark):
    import pytest as _pytest
    from data_check_spark.operators.audio import normalization_gain

    df = spark.createDataFrame([(1, 1, 1)], "n_samples long, energy long, peak_abs long")
    with _pytest.raises(ValueError, match="target_ms_q"):
        normalization_gain(df, target_ms_q=0)
    plan = (
        normalization_gain(df, target_ms_q=10_000_000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_clipped_run_stats_numpy():
    import numpy as np

    from data_check_spark.functions.pcm import clipped_run_stats

    # isolated peak vs sustained run: same count ≠ same run
    x = np.array([0, 32767, 0, 32767, 32767, 32767, 0, -32768, -32768], dtype=np.int16)
    n_over, longest = clipped_run_stats(x)
    assert n_over == 6          # 1 + 3 + 2 (int16 abs(-32768) overflow guarded)
    assert longest == 3
    # clean signal
    assert clipped_run_stats(np.array([100, -100], dtype=np.int16)) == (0, 0)
    # empty
    assert clipped_run_stats(np.array([], dtype=np.int16)) == (0, 0)
    # run touching both ends
    y = np.full(5, 32767, dtype=np.int16)
    assert clipped_run_stats(y) == (5, 5)


def test_clipping_stats_through_decode(spark):
    from data_check_spark.operators.audio import clipping_stats, synth_square_pcm

    # doc 1: offset wave clipping only on positive half-periods (k=3);
    # doc 2: clean symmetric wave; doc 3: NULL-equivalent via odd bytes is
    # covered below with a hand-built frame.
    params = spark.createDataFrame(
        [(1, 10, 0, 31767, 3, 1000), (2, 10, 2, 2000, 3, 0)],
        "doc_id long, n long, lead long, amp long, k long, off long",
    )
    pcm = synth_square_pcm(params, offset_col="off")
    out = {r["doc_id"]: r for r in clipping_stats(pcm, keep=["doc_id"]).collect()}
    # doc 1: wl=10, blocks of 3: +++ --- +++ - → clipped samples 3+3+0(+1 rem neg? )
    # j//3 % 2: j0-2 pos, j3-5 neg, j6-8 pos, j9 neg → n_clipped=6, run=3
    assert (out[1]["n_samples"], out[1]["n_clipped"], out[1]["max_clip_run"]) == (10, 6, 3)
    assert out[1]["clipped_ppm"] == (6 * 1_000_000 + 5) // 10
    assert (out[2]["n_clipped"], out[2]["max_clip_run"]) == (0, 0)

    # undecodable payloads → NULL stats
    raw = spark.createDataFrame(
        [(9, bytearray(b"\x01\x02\x03")), (10, None)], "doc_id long, bytes binary"
    )
    bad = {r["doc_id"]: r for r in clipping_stats(raw, keep=["doc_id"]).collect()}
    assert bad[9]["n_samples"] is None and bad[10]["max_clip_run"] is None


# ---------------------------------------------------------------------------
# transcript_alignment (proportional transcript→audio word spans)
# ---------------------------------------------------------------------------


def _py_align(spans, words):
    """Row-at-a-time replay of the pinned alignment conventions."""
    V = sum(e - s for s, e in spans)
    C = sum(len(w) for w in words)
    vcs = []
    vc = 0
    for s, e in spans:
        vcs.append((vc, s, e - s))
        vc += e - s
    out = []
    cb = 0
    for i, w in enumerate(words):
        ce = cb + len(w)
        t0, t1 = cb * V // C, ce * V // C
        sp0 = [x for x in vcs if x[0] <= t0][-1]
        start = sp0[1] + (t0 - sp0[0])
        sp1 = [x for x in vcs if x[0] < t1]
        end = sp1[-1][1] + (t1 - sp1[-1][0]) if sp1 else vcs[0][1]
        out.append((i, w, start, end))
        cb = ce
    return out


def test_transcript_alignment_hand_cases(spark):
    from data_check_spark.operators.audio import transcript_alignment

    segs = spark.createDataFrame(
        [
            (1, 100, 200),             # one span
            (2, 0, 10), (2, 50, 60),   # two spans, gap [10, 50)
        ],
        "doc_id long, start_sample long, end_sample long",
    )
    docs = spark.createDataFrame(
        [(1, "ab cd"), (2, "abcde fghij"), (3, "no audio"), (4, None)],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["token_idx"]): r for r in transcript_alignment(segs, docs).collect()}
    # doc 1: V=100, C=4 -> 'ab' [100,150), 'cd' [150,200)
    assert (out[(1, 0)]["start_sample"], out[(1, 0)]["end_sample"]) == (100, 150)
    assert (out[(1, 1)]["start_sample"], out[(1, 1)]["end_sample"]) == (150, 200)
    # doc 2: V=20, C=10 -> word 1 exactly fills span 0 (end closes span 0 at
    # 10), word 2 opens span 1 at 50 (the gap is skipped exactly)
    assert (out[(2, 0)]["start_sample"], out[(2, 0)]["end_sample"]) == (0, 10)
    assert (out[(2, 1)]["start_sample"], out[(2, 1)]["end_sample"]) == (50, 60)
    # docs without spans (3) or without tokens (4) emit nothing
    assert {k[0] for k in out} == {1, 2}
    assert out[(2, 0)]["token"] == "abcde"


def test_transcript_alignment_matches_python_replay(spark):
    from data_check_spark.operators.audio import transcript_alignment

    cases = {
        10: ([(64, 256), (320, 321), (400, 1000)], "a bb ccc dddd eeeee ff g"),
        11: ([(0, 7)], "xx yy zz"),          # V < C: zero-width spans appear
        12: ([(5, 6)], "longword another"),  # tiny single span
    }
    segs = spark.createDataFrame(
        [(d, s, e) for d, (spans, _) in cases.items() for s, e in spans],
        "doc_id long, start_sample long, end_sample long",
    )
    docs = spark.createDataFrame(
        [(d, text) for d, (_, text) in cases.items()], "doc_id long, text string"
    )
    got = {}
    for r in transcript_alignment(segs, docs).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["token_idx"], r["token"], r["start_sample"], r["end_sample"])
        )
    for d, (spans, text) in cases.items():
        assert sorted(got[d]) == _py_align(spans, text.split()), d
    # invariant: spans are monotone and confined to the voiced region
    for d, rows in got.items():
        for _, _, s, e in rows:
            assert s <= e


def test_transcript_alignment_plan_no_window(spark):
    """The char prefix sums run as HOFs, not per-doc Window — the token
    side must stay map-side (no Window operator anywhere in the plan)."""
    from data_check_spark.operators.audio import transcript_alignment

    segs = spark.createDataFrame(
        [(1, 0, 10)], "doc_id long, start_sample long, end_sample long"
    )
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = transcript_alignment(segs, docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Python" not in plan


def test_window_transcripts_hand_case(spark):
    from data_check_spark.operators.audio import window_transcripts

    windows = spark.createDataFrame(
        [(1, 0, 0, 0, 10), (1, 0, 1, 10, 20), (1, 1, 0, 100, 110)],
        "doc_id long, seg_idx int, window_idx long, w_start long, w_end long",
    )
    tokens = spark.createDataFrame(
        [
            (1, 0, 0, 4),     # inside window 0
            (1, 1, 4, 10),    # fills the rest of window 0 (end at boundary)
            (1, 2, 9, 15),    # straddles windows 0 and 1
            (1, 3, 10, 10),   # zero-width ON the boundary -> window 1 only
            (1, 4, 15, 18),   # inside window 1
        ],
        "doc_id long, token_idx int, start_sample long, end_sample long",
    )
    out = {
        (r["seg_idx"], r["window_idx"]): r
        for r in window_transcripts(windows, tokens).collect()
    }
    w0, w1, silent = out[(0, 0)], out[(0, 1)], out[(1, 0)]
    assert (w0["n_tokens"], w0["first_token_idx"], w0["last_token_idx"]) == (3, 0, 2)
    assert (w1["n_tokens"], w1["first_token_idx"], w1["last_token_idx"]) == (3, 2, 4)
    # the silent window survives with a zero count, not a dropped row
    assert (silent["n_tokens"], silent["first_token_idx"]) == (0, None)


def test_window_density_screen(spark):
    from data_check_spark.operators.audio import window_density_screen

    labeled = spark.createDataFrame(
        [(1, 0, 0, 0, 100000, 5), (1, 0, 1, 100000, 200000, 0),
         (1, 1, 0, 0, 1000, 30)],
        "doc_id long, seg_idx int, window_idx long, w_start long, w_end long,"
        " n_tokens long",
    )
    out = {(r["seg_idx"], r["window_idx"]): r
           for r in window_density_screen(labeled).collect()}
    assert out[(0, 0)]["status"] == "ok" and out[(0, 0)]["density_pm"] == 5
    assert out[(0, 1)]["status"] == "silent"
    assert out[(1, 0)]["status"] == "too_dense" and out[(1, 0)]["density_pm"] == 3000
