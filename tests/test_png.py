"""PNG header probe: ``png_dimensions`` reads the IHDR chunk only.

The payloads are assembled by hand from the spec's chunk layout, so the
probe is checked against an encoder that shares no code with it.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ocr_obsidian_spark.operators.pngheader import PNG_SIGNATURE, png_dimensions


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _container(w, h, color, raw) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    body = _chunk(b"IHDR", ihdr)
    return PNG_SIGNATURE + body + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def test_png_dimensions_header_only():
    img = np.random.default_rng(0).integers(0, 256, size=(21, 34, 3), dtype=np.uint8)
    raw = b"".join(b"\x00" + row.tobytes() for row in img)  # filter type 0 rows
    assert png_dimensions(_container(34, 21, 2, raw)) == (34, 21)
    assert png_dimensions(b"junk") is None
    assert png_dimensions(PNG_SIGNATURE + b"\x00" * 4) is None
