"""Shared PCM16 synthesis — the engine's "reference decoder".

Both the synthetic data generator and the ``audio_decode`` rule derive the
expected waveform from row-visible fields only (clip_id, sr_hz, dur_ms), so
the validator never needs generator-private state. Clean payloads therefore
reconstruct exactly (SNR = inf) and planted corruption/truncation lands below
the 30dB gate (graft analog of the reference's arithmetic-consistency check
with tolerance, innosite.py:263-312).
"""

from __future__ import annotations

import zlib

import numpy as np

AMPLITUDE = 0.5
BASE_FREQ = 220.0
FREQ_SPAN = 2000


def ref_freq(clip_id: str | None) -> float:
    """Deterministic sine frequency from the clip id string."""
    if not clip_id:
        return 440.0
    hex_part = clip_id[5:] if clip_id.startswith("clip_") else clip_id
    try:
        seed = int(hex_part, 16)
    except ValueError:
        seed = zlib.crc32(clip_id.encode("utf-8", "replace"))
    return BASE_FREQ + (seed * 2654435761) % FREQ_SPAN


def synth_wave(clip_id: str | None, sr_hz: int, dur_ms: int, cap_ms: int) -> np.ndarray:
    """int16 reference waveform for (clip_id, sr_hz, dur_ms), duration-capped."""
    if sr_hz is None or dur_ms is None or sr_hz <= 0 or dur_ms <= 0:
        return np.zeros(0, dtype=np.int16)
    n = int(int(sr_hz) * min(int(dur_ms), cap_ms) / 1000)
    t = np.arange(n, dtype=np.float64) / float(sr_hz)
    wave = np.sin(2 * np.pi * ref_freq(clip_id) * t) * AMPLITUDE
    return (wave * 32767.0).astype(np.int16)


def audio_features(decoded: np.ndarray, sr_hz: int) -> tuple[float, float, float]:
    """(clip_ratio, rms_db, est_freq_hz) from a decoded int16 waveform.

    - clip_ratio: fraction of samples at full scale (digital clipping)
    - rms_db: level in dBFS (0 dB = full-scale square wave)
    - est_freq_hz: zero-crossing-rate frequency estimate (for a sine,
      crossings/sec ≈ 2f) — a cheap spectral sanity check without FFT
    """
    if decoded.size == 0 or sr_hz <= 0:
        return float("nan"), float("nan"), float("nan")
    x = decoded.astype(np.float64)
    # abs on the float copy: int16 abs(-32768) overflows back to -32768,
    # which would never count full-scale-negative samples as clipped.
    clip_ratio = float(np.mean(np.abs(x) >= 32767.0))
    rms = float(np.sqrt(np.mean(x * x)))
    rms_db = 20.0 * np.log10(rms / 32767.0) if rms > 0 else float("-inf")
    signs = np.signbit(x)
    crossings = int(np.count_nonzero(signs[1:] != signs[:-1]))
    est_freq = crossings / 2.0 * (sr_hz / max(decoded.size, 1))
    return clip_ratio, rms_db, est_freq


def max_quiet_run_ms(decoded: np.ndarray, sr_hz: int) -> float:
    """Longest run of consecutive samples with ``|x| < 327``, in ms.

    The dead-air signal: a recording gap, a muted channel segment, or
    padding shows up as one long quiet run even when the clip's OVERALL
    RMS level passes (a 10s clip with 2s of silence still has healthy
    average energy). 327 ≈ 1% of full scale (−40 dBFS).
    Run lengths come from the boolean mask's change points — O(n) per row,
    no Python loop."""
    if decoded.size == 0 or sr_hz <= 0:
        return float("nan")
    # int32 copy: abs(int16 -32768) overflows back negative (same hazard as
    # audio_features' clip_ratio).
    quiet = np.abs(decoded.astype(np.int32)) < 327
    if not quiet.any():
        return 0.0
    d = np.diff(quiet.astype(np.int8))
    starts = np.flatnonzero(d == 1) + 1
    ends = np.flatnonzero(d == -1) + 1
    if quiet[0]:
        starts = np.concatenate(([0], starts))
    if quiet[-1]:
        ends = np.concatenate((ends, [quiet.size]))
    longest = int((ends - starts).max())
    return longest * 1000.0 / float(sr_hz)


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """Signal-to-noise ratio of ``decoded`` against ``reference`` (dB).

    Length mismatch → -inf (undecodable). Identical → +inf.
    """
    if reference.shape != decoded.shape:
        return float("-inf")
    if reference.size == 0:
        return float("inf")
    ref = reference.astype(np.float64)
    err = ref - decoded.astype(np.float64)
    noise = float(np.dot(err, err))
    if noise == 0.0:
        return float("inf")
    signal = float(np.dot(ref, ref))
    if signal == 0.0:
        return float("-inf")
    return 10.0 * np.log10(signal / noise)
