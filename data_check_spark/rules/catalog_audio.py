"""Default rule catalog for the audio clip + transcript table.

Each rule is the graft analog of a reference rule family (SURVEY.md §2.4):
not-null (reference: CHK_0014/0017/0051-0055 family), format regex
(CHK_0005 dekispart.py:165-201), forbidden characters (CHK_0006/0007
dekispart.py:203-232), value-in-set (dealer/Nsyu code checks
dekispart.py:398-420), range (date-sanity analog), forbidden leading symbols
(CHK_0027 symbol markers, constants.py:138-151), uniqueness (CHK_0008
dekispart.py:234-245 + aggregate variant dekispart_school.py:204-208),
referential (CHK_0032/0060 semi/anti joins dekispart.py:494-501, 968-988),
and arithmetic consistency → decoded-PCM SNR (INNOSITE CHK_0002
innosite.py:263-312).
"""

from __future__ import annotations

from data_check_spark.datagen import CODECS, SR_VALUES
from data_check_spark.rules.spec import Rule, RuleCatalog

CLIP_ID_PATTERN = r"^clip_[0-9a-f]{16}$"


def audio_catalog(*, bytes_cap_ms: int = 100) -> RuleCatalog:
    rules = [
        # --- clip_id (format family) ---------------------------------------
        Rule("CLIP_ID_NOT_NULL", "not_null", "clip_id",
             name="clip_id must be present"),
        Rule("CLIP_ID_FORMAT", "format", "clip_id",
             {"pattern": CLIP_ID_PATTERN},
             name="clip_id must match clip_<16 lowercase hex>"),
        Rule("CLIP_ID_NO_WHITESPACE", "forbidden_substring", "clip_id",
             {"any_of": [r"[ 　\r\n\t]"]},
             name="clip_id must not contain whitespace"),
        # --- sr_hz (range + whitelist families) ----------------------------
        Rule("SR_NOT_NULL", "not_null", "sr_hz"),
        Rule("SR_POSITIVE", "range", "sr_hz", {"min": 1}),
        Rule("SR_WHITELIST", "value_in_set", "sr_hz",
             {"allowed": [str(s) for s in SR_VALUES]},
             gate="sr_hz > 0",
             name="sample rate must be a supported value"),
        # --- dur_ms ---------------------------------------------------------
        Rule("DUR_NOT_NULL", "not_null", "dur_ms"),
        Rule("DUR_RANGE", "range", "dur_ms", {"min": 1, "max": 3_600_000}),
        # --- codec ----------------------------------------------------------
        Rule("CODEC_NOT_NULL", "not_null", "codec"),
        Rule("CODEC_WHITELIST", "value_in_set", "codec", {"allowed": CODECS},
             name="codec must be in the whitelist (case-sensitive)"),
        # --- transcript -----------------------------------------------------
        Rule("TRANSCRIPT_NOT_NULL", "not_null", "transcript"),
        Rule("TRANSCRIPT_NO_MARKER", "forbidden_substring", "transcript",
             {"any_of": ["^[★×▲■・：]"]},
             name="transcript must not start with a marker symbol"),
        # --- cross-column consistency ---------------------------------------
        # ``byte_len`` is precomputed by the engine's single wide-table pass
        # (engine.run_validation) so no rule expression touches the binary
        # column — re-touching `bytes` costs ~3x the raw scan per subplan.
        Rule("BYTES_PRESENT_IF_DURATION", "cross_column", None,
             {"expr": "dur_ms > 0 AND sr_hz > 0 AND (byte_len IS NULL OR byte_len = 0)",
              "observed_expr": "concat('len=', coalesce(byte_len, 0))"},
             name="non-empty clips must carry a payload"),
        Rule("BYTES_LENGTH_CONSISTENT", "cross_column", None,
             {"expr": (
                 "byte_len IS NOT NULL AND byte_len > 0 AND sr_hz > 0 AND dur_ms > 0 "
                 f"AND byte_len != cast(sr_hz as bigint) * least(dur_ms, {bytes_cap_ms}) DIV 1000 * 2"
              ),
              "observed_expr": "concat('len=', byte_len)"},
             name="payload byte count must match sr_hz x capped duration x 2 (pcm16)"),
        # --- audio quality (features precomputed in the same wide pass) -----
        # observed scores are integer-quantized (CLAUDE.md: %.Nf on computed
        # doubles is not engine-portable at representation-boundary ties)
        Rule("AUDIO_CLIPPING", "cross_column", None,
             {"expr": "clip_ratio IS NOT NULL AND clip_ratio > 0.001",
              "observed_expr": "concat('clip_ratio_q4=', cast(floor(clip_ratio * 10000 + 0.5) as bigint))"},
             name="decoded audio must not be digitally clipped"),
        Rule("AUDIO_SILENCE", "cross_column", None,
             {"expr": "byte_len > 0 AND rms_db IS NOT NULL AND rms_db < -60.0",
              # greatest(): all-zero samples give rms_db = -inf, which an
              # ANSI bigint cast would reject
              "observed_expr": "concat('rms_db_q1=', cast(floor(greatest(rms_db, -9999.0) * 10 + 0.5) as bigint))"},
             name="non-empty audio must not be silent"),
        Rule("AUDIO_FREQ_MISMATCH", "cross_column", None,
             {"expr": "freq_err_ratio IS NOT NULL AND freq_err_ratio > 0.12",
              "observed_expr": "concat('freq_err_q3=', cast(floor(freq_err_ratio * 1000 + 0.5) as bigint))"},
             name="zero-crossing frequency estimate must match the reference tone"),
        # --- set-oriented ----------------------------------------------------
        Rule("CLIP_ID_UNIQUE", "unique", "clip_id",
             name="clip_id must be unique (blank-exempt)"),
        Rule("CLIP_ID_DUP_VALUES", "aggregate_unique", "clip_id",
             name="one violation per duplicated clip_id value"),
        Rule("TRANSCRIPT_FK", "referential", "clip_id",
             {"dim": "transcripts", "dim_key": "clip_id", "mode": "anti"},
             gate=f"clip_id rlike '{CLIP_ID_PATTERN}'",
             name="every well-formed clip must have a transcript row"),
        Rule("TRANSCRIPT_ORPHAN", "referential", "clip_id",
             {"dim": "transcripts", "dim_key": "clip_id", "mode": "orphan"},
             name="every transcript row must reference an existing clip"),
        Rule("DRIFT_DUR_MS", "drift", "dur_ms",
             {"threshold": 0.25},
             name="dur_ms distribution must match the baseline snapshot"),
        Rule("DRIFT_SR_HZ", "drift", "sr_hz",
             {"threshold": 0.25},
             name="sr_hz distribution must match the baseline snapshot"),
        Rule("CODEC_MIX_DRIFT", "cat_drift", "codec",
             {"threshold_bp": 2500},
             name="per-partition codec mix must match the table-wide mix"),
        Rule("PCM_SNR", "audio_decode", "bytes",
             {"snr_db_min": 30.0, "cap_ms": bytes_cap_ms},
             gate=f"clip_id rlike '{CLIP_ID_PATTERN}' AND sr_hz > 0 AND dur_ms > 0",
             name="decoded PCM must be allclose to the reference decode (SNR>=30dB)"),
        Rule("TRANSCRIPT_MATCH", "transcript_match", "transcript",
             {"dim": "transcripts", "dim_key": "clip_id", "ref_column": "transcript_ref"},
             name="transcript must byte-equal the reference transcript"),
    ]
    return RuleCatalog(rules)
