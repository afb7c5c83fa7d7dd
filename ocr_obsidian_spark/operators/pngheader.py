"""PNG header probe: image dimensions from the IHDR chunk, no pixel decode."""

from __future__ import annotations

import struct

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def png_dimensions(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the IHDR alone — no inflate, O(1) per payload
    (IHDR is required to be the first chunk)."""
    if not payload.startswith(PNG_SIGNATURE) or len(payload) < 24:
        return None
    if payload[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", payload[16:24])
    return (int(w), int(h))
