"""Real audio features in pure NumPy (VERDICT r3 item 6): framed STFT →
power spectrum → mel-filterbank band energies → log compression.

No DSP library needed — the mel scale is a formula (O'Shaughnessy 1987:
mel(f) = 2595·log10(1 + f/700)) and the filterbank is triangular
weights over FFT bins; np.fft.rfft does the rest. This replaces the
earlier block-RMS stand-in: the output is a real log-mel band-energy
vector, the standard front-end of speech/audio models.

Deterministic: same samples + rate + geometry → bit-identical float32
vector (the Spark pandas UDF and the golden-parquet twin both call
THIS function — twin-equality oracle, the mm_image_embeddings model).
"""

from __future__ import annotations

import numpy as np

FRAME = 512
HOP = 256
N_MELS = 16


def _hann(n: int) -> np.ndarray:
    # periodic Hann (the STFT convention), explicit formula for parity
    return 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(n) / n)


def mel_filterbank(
    n_mels: int, n_fft: int, rate: float
) -> np.ndarray:
    """(n_mels, n_fft//2 + 1) triangular filters, mel-spaced 0..rate/2."""
    def mel(f):
        return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)

    def invmel(m):
        return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)

    n_bins = n_fft // 2 + 1
    pts = invmel(np.linspace(0.0, float(mel(rate / 2.0)), n_mels + 2))
    bins = np.floor((n_fft + 1) * pts / rate).astype(np.int64)
    fb = np.zeros((n_mels, n_bins))
    for m in range(n_mels):
        lo, ctr, hi = bins[m], bins[m + 1], bins[m + 2]
        for k in range(lo, ctr):
            if ctr > lo:
                fb[m, k] = (k - lo) / (ctr - lo)
        for k in range(ctr, hi):
            if hi > ctr:
                fb[m, k] = (hi - k) / (hi - ctr)
    return fb


def mel_features(
    samples: np.ndarray,
    rate: float,
    n_mels: int = N_MELS,
    frame: int = FRAME,
    hop: int = HOP,
) -> np.ndarray:
    """mono float samples -> float32 (n_mels,) log-mel band energies,
    time-averaged over frames. Short clips are zero-padded to one frame."""
    x = np.asarray(samples, dtype=np.float64)
    if len(x) < frame:
        x = np.pad(x, (0, frame - len(x)))
    n_frames = 1 + (len(x) - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = x[idx] * _hann(frame)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2  # (n_frames, bins)
    fb = mel_filterbank(n_mels, frame, rate)
    band = power @ fb.T  # (n_frames, n_mels)
    return np.log1p(band.mean(axis=0)).astype(np.float32)
