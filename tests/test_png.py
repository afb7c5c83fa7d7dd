"""Pure-stdlib PNG codec (multimodal codec boundary made real for PNG).

The decoder is validated against an INDEPENDENT forward-filter oracle
written here: tests apply the PNG spec's filter functions to known pixels,
assemble a container by hand, and require decode_png to invert them exactly.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ocr_obsidian_spark.operators.multimodal import (
    PNG_SIGNATURE,
    decode_image,
    decode_png,
    encode_png,
    fake_features,
    pixel_features,
    png_dimensions,
)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _container(w, h, color, raw, plte=None) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    body = _chunk(b"IHDR", ihdr)
    if plte is not None:
        body += _chunk(b"PLTE", plte)
    return PNG_SIGNATURE + body + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def _forward_filter(arr: np.ndarray, ftypes: list[int]) -> bytes:
    """Independent oracle: apply the spec's forward filters row by row."""
    h, w, c = arr.shape
    stride = w * c
    flat = arr.reshape(h, stride).astype(np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    out = b""
    for y in range(h):
        line = flat[y]
        ft = ftypes[y % len(ftypes)]
        enc = np.empty(stride, dtype=np.int64)
        for i in range(stride):
            a = line[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            enc[i] = (line[i] - pred) % 256
        out += bytes([ft]) + enc.astype(np.uint8).tobytes()
        prev = line
    return out


def _gradient(h, w, c, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


def test_roundtrip_rgb():
    img = _gradient(13, 17, 3, seed=1)
    assert np.array_equal(decode_png(encode_png(img)), img)


@pytest.mark.parametrize("channels,color", [(1, 0), (2, 4), (3, 2), (4, 6)])
def test_roundtrip_all_color_types(channels, color):
    img = _gradient(7, 5, channels, seed=channels)
    out = decode_png(encode_png(img))
    assert out.shape == (7, 5, channels)
    assert np.array_equal(out, img)


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_unfilter_each_type_against_oracle(ftype):
    img = _gradient(9, 6, 3, seed=10 + ftype)
    raw = _forward_filter(img, [ftype])
    assert np.array_equal(decode_png(_container(6, 9, 2, raw)), img)


def test_unfilter_mixed_filters():
    img = _gradient(10, 8, 4, seed=99)
    raw = _forward_filter(img, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(_container(8, 10, 6, raw)), img)


def test_palette_expansion():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 3], [3, 0]], dtype=np.uint8)[:, :, None]
    raw = _forward_filter(idx, [0])
    out = decode_png(_container(2, 3, 3, raw, plte=pal.tobytes()))
    assert out.shape == (3, 2, 3)
    assert np.array_equal(out, pal[idx[:, :, 0]])


def test_decode_errors():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    with pytest.raises(ValueError):
        decode_png(PNG_SIGNATURE + b"\x00" * 8)  # no IHDR
    img = _gradient(4, 4, 3)
    good = encode_png(img)
    # corrupt the pixel-stream length: drop the last scanline's bytes
    raw = _forward_filter(img, [0])[:-5]
    with pytest.raises(ValueError):
        decode_png(_container(4, 4, 2, raw))
    assert np.array_equal(decode_png(good), img)
    with pytest.raises(NotImplementedError):
        # 16-bit depth: unsupported profile, not silent garbage
        ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
        decode_png(
            PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 26)) + _chunk(b"IEND", b"")
        )


def test_png_dimensions_header_only():
    img = _gradient(21, 34, 3)
    assert png_dimensions(encode_png(img)) == (34, 21)
    assert png_dimensions(b"junk") is None
    assert png_dimensions(PNG_SIGNATURE + b"\x00" * 4) is None


def test_decode_image_dispatch():
    img = _gradient(3, 3, 3)
    assert np.array_equal(decode_image(encode_png(img)), img)
    # JPEG has no decoder: an unsupported format, not a data error
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")
    # GIF is a real codec: malformed = data error
    with pytest.raises(ValueError):
        decode_image(b"GIF89a malformed stream")
    # WebP has no decoder either: an unsupported format
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF....WEBP no codec in container")


def test_media_features_use_real_pixels(spark):
    """PNG payloads yield pixel-derived features; non-PNG and malformed-PNG
    payloads fall back fail-soft to the content-derived stub."""
    import pyspark.sql.types as T

    from ocr_obsidian_spark.operators.multimodal import (
        MEDIA_META,
        extract_media_features,
    )

    red = np.zeros((8, 8, 3), dtype=np.uint8)
    red[:, :, 0] = 255
    red_png = encode_png(red)
    bad_png = PNG_SIGNATURE + b"\x01\x02\x03"  # signature but truncated
    meta = {"media_type": "image", "mime": "image/png",
            "width": None, "height": None, "duration_ms": None}
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META),
        ]
    )
    df = spark.createDataFrame(
        [("png", red_png, meta), ("bad", bad_png, meta), ("txt", b"hello", meta)],
        schema=schema,
    )
    out = {r["url"]: r for r in extract_media_features(df).collect()}
    vec = list(out["png"]["feature_vec"])
    expected = pixel_features(red)
    assert vec == pytest.approx(expected)
    assert vec[5] == pytest.approx(1.0)          # R mean
    assert vec[6] == 0.0 and vec[7] == 0.0       # G/B means
    assert vec[3] == pytest.approx(85 / 255.0)   # global mean
    assert list(out["bad"]["feature_vec"]) == pytest.approx(fake_features(bad_png))
    assert list(out["txt"]["feature_vec"]) == pytest.approx(fake_features(b"hello"))


def test_resize_recovers_dims_from_png_header(spark):
    import pyspark.sql.types as T

    from ocr_obsidian_spark.operators.multimodal import MEDIA_META, resize_images

    img = _gradient(600, 1200, 3)
    meta = {"media_type": "image", "mime": "image/png",
            "width": None, "height": None, "duration_ms": None}
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("media_meta", MEDIA_META),
        ]
    )
    df = spark.createDataFrame([("p", encode_png(img), meta)], schema=schema)
    row = resize_images(df, max_side=512).collect()[0]
    assert (row["out_width"], row["out_height"]) == (512, 256)
    assert row["scale"] == pytest.approx(512 / 1200)
