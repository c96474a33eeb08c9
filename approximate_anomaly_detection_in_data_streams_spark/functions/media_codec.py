"""Deterministic audio/video containers — pure NumPy, no Spark imports.

Multimodal payloads beyond images (the training-data-pipeline mandate):
audio and video travel as opaque ``bytes`` columns with typed metadata,
exactly like the image table. Real media libraries (ffmpeg/libsndfile) are
not in this container, so the engine ships two REAL tiny containers whose
decode paths are genuine NumPy parsing — the Spark-side plumbing (schema,
batching, kernel signatures, frame fan-out shape) is container-agnostic,
and ``decode_external`` is the clearly-marked stub seam where a production
deployment plugs ffmpeg in.

Formats:
  audio  "AADA": magic + u32 sample_rate + u32 n_samples + s16le PCM mono
  video  "AADV": magic + u16 w + u16 h + u16 n_frames + row-major uint8
                 grayscale frames, concatenated

Everything derives from (seed, ordinal) only.
"""

from __future__ import annotations

import numpy as np

MAGIC_AUDIO = b"AADA"
MAGIC_VIDEO = b"AADV"


class MediaDecodeError(ValueError):
    """Raised when media bytes are malformed/truncated."""


def decode_external(payload: bytes, fmt: str):
    """STUB: external-library formats (ffmpeg/libsndfile) are not available
    in this environment. The kernel plumbing treats this exactly like the
    native decoders — a production build replaces this one function."""
    raise NotImplementedError(
        f"decoding {fmt!r} requires an external media library; "
        "this environment ships only the AADA/AADV containers"
    )


# ---- audio ----


def encode_audio(samples: np.ndarray, sample_rate: int) -> bytes:
    """s16le mono PCM in the AADA container."""
    s16 = np.clip(np.asarray(samples), -32768, 32767).astype("<i2")
    header = MAGIC_AUDIO + np.array([sample_rate, len(s16)], dtype="<u4").tobytes()
    return header + s16.tobytes()


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Returns (samples float64 in [-1, 1), sample_rate)."""
    if len(payload) < 12 or payload[:4] != MAGIC_AUDIO:
        raise MediaDecodeError("bad audio header")
    sample_rate, n = np.frombuffer(payload[4:12], dtype="<u4")
    body = np.frombuffer(payload, dtype=np.uint8, offset=12)
    if len(body) != 2 * int(n):
        raise MediaDecodeError("audio payload size mismatch")
    samples = body.view("<i2").astype(np.float64) / 32768.0
    return samples, int(sample_rate)


def synth_audio(seed: int, ordinal: int, sample_rate: int = 8000) -> bytes:
    """Deterministic test-scale audio: two seeded sinusoids + noise,
    0.25-1.25 s long."""
    rng = np.random.default_rng((seed * 7919 + ordinal * 31 + 5) & 0xFFFFFFFF)
    n = int(sample_rate * (0.25 + rng.random()))
    t = np.arange(n) / sample_rate
    f1, f2 = rng.uniform(80, 800), rng.uniform(800, 3500)
    x = (
        0.5 * np.sin(2 * np.pi * f1 * t)
        + 0.2 * np.sin(2 * np.pi * f2 * t)
        + 0.05 * rng.standard_normal(n)
    )
    return encode_audio(x * 20000, sample_rate)


def audio_feature_vector(payload: bytes) -> tuple[float, float, float, float]:
    """(duration_s, rms, zero_crossing_rate, peak) — the audio analog of the
    image digest features feeding drift/anomaly checks."""
    samples, sr = decode_audio(payload)
    if not len(samples):
        return 0.0, 0.0, 0.0, 0.0
    rms = float(np.sqrt(np.mean(samples * samples)))
    zc = float(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
    return len(samples) / sr, rms, zc, float(np.abs(samples).max())


# ---- video ----


def encode_video(frames: np.ndarray) -> bytes:
    """(n_frames, h, w) uint8 grayscale in the AADV container."""
    nf, h, w = frames.shape
    header = MAGIC_VIDEO + np.array([w, h, nf], dtype="<u2").tobytes()
    return header + frames.astype(np.uint8).tobytes()


def decode_video_header(payload: bytes) -> tuple[int, int, int]:
    if len(payload) < 10 or payload[:4] != MAGIC_VIDEO:
        raise MediaDecodeError("bad video header")
    w, h, nf = np.frombuffer(payload[4:10], dtype="<u2")
    if len(payload) - 10 != int(w) * int(h) * int(nf):
        raise MediaDecodeError("video payload size mismatch")
    return int(w), int(h), int(nf)


def decode_frame(payload: bytes, idx: int) -> np.ndarray:
    """Random access into one frame — no full-video materialization."""
    w, h, nf = decode_video_header(payload)
    if not 0 <= idx < nf:
        raise MediaDecodeError(f"frame {idx} out of range (n={nf})")
    off = 10 + idx * w * h
    return (
        np.frombuffer(payload, dtype=np.uint8, offset=off, count=w * h)
        .reshape(h, w)
        .copy()
    )


def synth_video(seed: int, ordinal: int) -> bytes:
    """Deterministic test-scale video: a seeded gradient drifting per frame,
    4-12 frames of 16x16..32x24."""
    rng = np.random.default_rng((seed * 104729 + ordinal * 13 + 11) & 0xFFFFFFFF)
    w = int(rng.integers(16, 33))
    h = int(rng.integers(16, 25))
    nf = int(rng.integers(4, 13))
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx * 255 / max(w - 1, 1) + yy * 64 / max(h - 1, 1)) % 256
    shift = rng.integers(0, 32)
    frames = np.stack(
        [(base + shift + 7 * f) % 256 for f in range(nf)]
    ).astype(np.uint8)
    return encode_video(frames)
