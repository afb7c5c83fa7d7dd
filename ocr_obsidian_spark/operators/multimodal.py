"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns with a
metadata struct; decode / feature-extraction / resize / frame-sampling are
Arrow-batched ``mapInPandas`` stages. PNG payloads decode for REAL with a
pure-stdlib decoder (``decode_png``: zlib inflate + scanline unfiltering)
and GIF first-frames with ``gifcodec.decode_gif`` (LZW + palettes +
interlace) — public specs, no PIL needed. Every other format (JPEG, WebP,
AVIF/TIFF, WAV/MP3/AAC, video) is a STUBBED boundary and falls back to
deterministic content-derived fake features, so the distributed path is
exercised end-to-end either way.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

MEDIA_FEATURES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("content_sha256", T.StringType(), False),
        T.StructField("feature_vec", T.ArrayType(T.FloatType(), False), False),
    ]
)


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decoder → uint8 array of shape (H, W, C).

    Supports the baseline still-image profile: 8-bit depth, color types
    0 (gray), 2 (RGB), 3 (palette, expanded to RGB), 4 (gray+alpha) and
    6 (RGBA), non-interlaced, all five scanline filters (None/Sub/Up/
    Average/Paeth). IDAT chunks are concatenated then zlib-inflated;
    chunk CRCs are not re-verified (zlib's adler32 already covers the
    pixel stream).
    """
    if not payload.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG payload")
    ihdr: bytes | None = None
    plte: bytes | None = None
    idat: list[bytes] = []
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("truncated PNG: missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"unsupported PNG profile: depth={depth} interlace={interlace}"
        )
    if color not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color}")
    if w == 0 or h == 0:
        raise ValueError("empty PNG")
    channels = _PNG_CHANNELS[color]
    stride = w * channels
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel stream length mismatch")
    img = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1).copy()
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (int(line[i]) + int(line[i - bpp])) & 0xFF
        elif ftype == 2:  # Up
            line += prev  # uint8 wraparound == mod-256 per spec
        elif ftype == 3:  # Average
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                line[i] = (int(line[i]) + (a + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        img[y] = line
        prev = line
    out = img.reshape(h, w, channels)
    if color == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG without valid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        out = pal[out[:, :, 0]]
    return out


def encode_png(img: "np.ndarray") -> bytes:
    """Minimal PNG encoder (filter 0 on every scanline) for uint8 arrays of
    shape (H, W), (H, W, 1|2|3|4) — the test/fixture counterpart of
    ``decode_png``."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def png_dimensions(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the IHDR alone — no inflate, O(1) per payload
    (IHDR is required to be the first chunk)."""
    if not payload.startswith(PNG_SIGNATURE) or len(payload) < 24:
        return None
    if payload[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", payload[16:24])
    return (int(w), int(h))


def image_codecs() -> list[tuple]:
    """The ONE image-codec registry every dispatch site uses:
    ``(sniff(bytes) -> bool, decode(bytes) -> ndarray,
    dimensions(bytes) -> (w, h) | None)`` per format. Adding a codec here
    wires decode_image, extract_media_features and resize_images at
    once."""
    from .gifcodec import GIF_SIGNATURES, decode_gif, gif_dimensions

    return [
        (lambda d: d.startswith(PNG_SIGNATURE), decode_png, png_dimensions),
        (lambda d: d[:6] in GIF_SIGNATURES, decode_gif, gif_dimensions),
    ]


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to a (H, W, C) uint8 array.

    PNG decodes for real via ``decode_png``; GIF (first frame) via
    ``gifcodec.decode_gif``. Other formats (JPEG, WebP, AVIF/TIFF, audio,
    video) require a codec library (PIL/opencv/ffmpeg) that is not
    installed — the pipeline falls back to ``fake_features`` for them (see
    ``extract_media_features``)."""
    for sniff, dec, _dims in image_codecs():
        if sniff(payload):
            return dec(payload)
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "non-PNG/GIF image decode requires a codec (PIL/opencv) "
            "not present in this environment; pipeline uses the "
            "deterministic stub features"
        ) from exc
    raise NotImplementedError(  # pragma: no cover - container has no PIL
        "non-PNG/GIF decode path not implemented"
    )


def pixel_features(arr: "np.ndarray", dim: int = 8) -> list[float]:
    """Deterministic pixel-derived features in [0, 1]: normalized width,
    height, channel count, global mean/std, and per-channel means (first
    three channels, gray replicated)."""
    a = np.asarray(arr, dtype=np.float64)
    h, w, c = a.shape
    ch_means = [float(a[:, :, i].mean()) / 255.0 for i in range(min(c, 3))]
    while len(ch_means) < 3:
        ch_means.append(ch_means[-1])
    feats = [
        min(w, 10_000) / 10_000.0,
        min(h, 10_000) / 10_000.0,
        c / 4.0,
        float(a.mean()) / 255.0,
        float(a.std()) / 255.0,
        *ch_means,
    ]
    feats = feats[:dim] + [0.0] * max(0, dim - len(feats))
    return [float(v) for v in feats]


def fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic content-derived pseudo-features (codec stand-in):
    dim floats from the sha256 digest, scaled to [0, 1)."""
    digest = hashlib.sha256(payload).digest()
    vals = np.frombuffer(digest[: dim * 4], dtype="<u4").astype("float64")
    return [float(v % 10_000) / 10_000.0 for v in vals]


def extract_media_features(
    df: DataFrame, *, payload_col: str = "payload", meta_col: str = "media_meta", dim: int = 8
) -> DataFrame:
    """(url, payload, meta) → feature rows via an Arrow-batched map stage.

    PNG and GIF payloads decode for real (``decode_png`` /
    ``decode_gif``) and yield pixel-derived features; anything else (or a
    malformed/unsupported-profile payload) falls back fail-soft to the
    deterministic content-derived ``fake_features`` — a bad payload never
    kills the stage.
    """
    codecs = image_codecs()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for url, payload, meta in zip(pdf["url"], pdf[payload_col], pdf[meta_col]):
                data = bytes(payload) if payload is not None else b""
                for sniff, dec, _dims in codecs:
                    if sniff(data):
                        try:
                            vec = pixel_features(dec(data), dim)
                        except Exception:
                            vec = fake_features(data, dim)
                        break
                else:
                    vec = fake_features(data, dim)
                out.append(
                    {
                        "url": url,
                        "media_type": (meta or {}).get("media_type", "image"),
                        "n_bytes": len(data),
                        "content_sha256": hashlib.sha256(data).hexdigest(),
                        "feature_vec": vec,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in MEDIA_FEATURES.fields])

    return df.select("url", payload_col, meta_col).mapInPandas(run, schema=MEDIA_FEATURES)


RESIZED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
        T.StructField("scale", T.DoubleType(), False),
        T.StructField("payload_sha256", T.StringType(), False),
    ]
)


def resize_images(
    df: DataFrame,
    *,
    max_side: int = 512,
    payload_col: str = "payload",
    meta_col: str = "media_meta",
) -> DataFrame:
    """Resize plumbing for image payloads: aspect-preserving target-dimension
    math + Arrow batch shape are real; the pixel resample itself is the same
    stubbed codec boundary as ``decode_image`` (the output row carries the
    input content hash in place of resized bytes). Missing metadata
    dimensions are recovered from the PNG IHDR or the GIF screen
    descriptor; otherwise dimension-less rows pass through at scale 1.0."""
    codecs = image_codecs()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for url, payload, meta in zip(pdf["url"], pdf[payload_col], pdf[meta_col]):
                meta = meta or {}
                w = meta.get("width")
                h = meta.get("height")
                if (not w or not h) and payload is not None:
                    data = bytes(payload)
                    for _sniff, _dec, dims_fn in codecs:
                        dims = dims_fn(data)
                        if dims is not None:
                            w, h = dims
                            break
                if w and h and max(int(w), int(h)) > max_side:
                    scale = max_side / float(max(int(w), int(h)))
                    ow = max(1, int(round(int(w) * scale)))
                    oh = max(1, int(round(int(h) * scale)))
                else:
                    scale, ow, oh = 1.0, int(w or 0), int(h or 0)
                data = bytes(payload) if payload is not None else b""
                out.append(
                    {
                        "url": url,
                        "out_width": ow,
                        "out_height": oh,
                        "scale": float(scale),
                        "payload_sha256": hashlib.sha256(data).hexdigest(),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in RESIZED.fields])

    return (
        df.filter(F.col(f"{meta_col}.media_type") == "image")
        .select("url", payload_col, meta_col)
        .mapInPandas(run, schema=RESIZED)
    )


def sample_frames(
    df: DataFrame, *, every_ms: int = 1000, payload_col: str = "payload",
    meta_col: str = "media_meta",
) -> DataFrame:
    """Frame-sampling plumbing for video payloads: explodes one row per
    sampled timestamp (metadata-driven; the frame decode itself is the same
    stubbed codec boundary as ``decode_image``)."""
    ts = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.coalesce(F.col(f"{meta_col}.duration_ms"), F.lit(0)) - 1, F.lit(0)),
        F.lit(int(every_ms)).cast("long"),
    )
    return (
        df.filter(F.col(f"{meta_col}.media_type") == "video")
        .select("url", payload_col, meta_col, F.explode(ts).alias("frame_ts_ms"))
    )
