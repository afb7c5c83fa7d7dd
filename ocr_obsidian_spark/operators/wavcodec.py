"""Pure-stdlib WAV (RIFF/PCM) decoder — the audio analog of the PNG/GIF/
WebP modules: the one audio container whose spec is simple, public and
decodable without ffmpeg. Supports PCM 8 (unsigned) / 16 / 24 / 32-bit
and IEEE float32/float64 samples, any channel count; compressed codecs
(MP3/AAC/Opus — format tags other than 1 and 3) raise
NotImplementedError, the same honest boundary as WebP for images.

``audio_features`` turns a payload into the deterministic [0, 1] feature
vector ``extract_media_features`` emits for audio rows: normalized
duration / sample-rate / channel count, RMS level, peak level and
zero-crossing rate — the standard cheap audio-quality signals a
training-data pipeline filters on (silence, clipping, noise).
"""

from __future__ import annotations

import struct

import numpy as np

WAV_MAGIC = b"RIFF"


def _parse_wav(payload: bytes) -> tuple[dict, bytes]:
    if payload[:4] != WAV_MAGIC or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt: dict | None = None
    data: bytes | None = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            tag, ch, rate, _br, block, bits = struct.unpack("<HHIIHH", body[:16])
            fmt = {"tag": tag, "channels": ch, "rate": rate,
                   "block": block, "bits": bits}
        elif cid == b"data":
            if len(body) != size:
                # a truncated payload must FAIL (and fail over to the
                # fake-features fallback), not decode partial audio
                raise ValueError("truncated WAV data chunk")
            data = body
            break
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("truncated WAV: missing fmt or data chunk")
    if fmt["channels"] == 0 or fmt["rate"] == 0:
        raise ValueError("WAV with zero channels or sample rate")
    return fmt, data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV → (float64 array of shape (n_frames, channels) in [-1, 1],
    sample_rate)."""
    fmt, data = _parse_wav(payload)
    tag, ch, bits = fmt["tag"], fmt["channels"], fmt["bits"]
    if tag == 1:  # integer PCM
        if bits == 8:
            x = np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            x = (x - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(data[: len(data) - len(data) % 3], dtype=np.uint8)
            raw = raw.reshape(-1, 3)
            x = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            x = np.where(x >= 1 << 23, x - (1 << 24), x).astype(np.float64)
            x /= float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
        else:
            raise NotImplementedError(f"PCM bit depth {bits}")
    elif tag == 3:  # IEEE float
        if bits == 32:
            x = np.frombuffer(data, dtype="<f4").astype(np.float64)
        elif bits == 64:
            x = np.frombuffer(data, dtype="<f8").astype(np.float64)
        else:
            raise ValueError(f"float WAV with bit depth {bits}")
    else:
        raise NotImplementedError(
            f"WAV format tag {tag}: only PCM (1) and IEEE float (3) decode "
            "without an external codec"
        )
    frames = x.shape[0] // ch
    return x[: frames * ch].reshape(frames, ch), int(fmt["rate"])


def wav_info(payload: bytes) -> tuple[int, int, int] | None:
    """(duration_ms, sample_rate, channels) from the headers — no sample
    decode; None when not a parseable WAV."""
    try:
        fmt, data = _parse_wav(payload)
    except ValueError:
        return None
    # block-align of 0 is a header bug some writers ship: fall back to the
    # value the sample layout implies instead of a garbage frame count
    bytes_per_frame = fmt["block"] or max(1, fmt["channels"] * fmt["bits"] // 8)
    frames = len(data) // bytes_per_frame
    return (int(frames * 1000 / fmt["rate"]), fmt["rate"], fmt["channels"])


def audio_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic audio features in [0, 1]: normalized duration (cap
    1 h), sample rate (cap 192 kHz), channels (cap 8), RMS, peak, and
    mean zero-crossing rate — padded/truncated to ``dim``."""
    samples, rate = decode_wav(payload)
    frames = samples.shape[0]
    dur_s = frames / rate if rate else 0.0
    mono = samples.mean(axis=1) if samples.size else np.zeros(1)
    rms = float(np.sqrt(np.mean(mono * mono))) if frames else 0.0
    peak = float(np.abs(samples).max()) if samples.size else 0.0
    zcr = (
        float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
        if frames > 1
        else 0.0
    )
    feats = [
        min(dur_s, 3600.0) / 3600.0,
        min(rate, 192_000) / 192_000.0,
        min(samples.shape[1], 8) / 8.0,
        min(rms, 1.0),
        min(peak, 1.0),
        zcr,
    ]
    feats = feats[:dim] + [0.0] * max(0, dim - len(feats))
    return [float(v) for v in feats]


def encode_wav(
    samples: np.ndarray, rate: int, *, bits: int = 16
) -> bytes:
    """Fixture encoder: (n_frames, channels) float array in [-1, 1] (or
    int16) → PCM WAV at the given bit depth (8/16/24/32)."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if arr.dtype.kind == "f":
        clipped = np.clip(arr, -1.0, 1.0)
        if bits == 8:
            pcm = (np.round(clipped * 127.0) + 128).astype(np.uint8).tobytes()
        elif bits == 16:
            pcm = np.round(clipped * 32767.0).astype("<i2").tobytes()
        elif bits == 24:
            v = np.round(clipped * ((1 << 23) - 1)).astype(np.int32)
            v = np.where(v < 0, v + (1 << 24), v)
            b = np.empty((v.size, 3), dtype=np.uint8)
            flat = v.reshape(-1)
            b[:, 0] = flat & 0xFF
            b[:, 1] = (flat >> 8) & 0xFF
            b[:, 2] = (flat >> 16) & 0xFF
            pcm = b.tobytes()
        elif bits == 32:
            pcm = np.round(clipped * 2147483647.0).astype("<i4").tobytes()
        else:
            raise ValueError(f"unsupported fixture bit depth {bits}")
    else:
        if bits != 16 or arr.dtype != np.int16:
            raise ValueError("integer fixture input must be int16 at bits=16")
        pcm = arr.astype("<i2").tobytes()
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, bits)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
