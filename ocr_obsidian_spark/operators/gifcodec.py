"""Pure-python GIF decoder (+ fixture encoder) — GIF87a/89a still images.

The GIF format is public knowledge (CompuServe GIF89a specification):
logical screen descriptor, global/local color tables, LZW-compressed
image data with variable-width LSB-first codes, optional interlacing and
a graphics-control transparency index. This module decodes the FIRST
image of a GIF to pixels (animation composition is out of scope — an
honest boundary), and provides the fixture-encoder counterpart used by
the tests: a valid "uncompressed-style" LZW stream
(a CLEAR code before every pixel code, so the dictionary never grows)
with optional interlace and transparency.

Decoder coverage: 2..8-bit color tables, local tables overriding global,
interlaced row order, transparent index (returns RGBA when present, RGB
otherwise), deferred-clear streams (full 4096-entry dictionaries).
"""

from __future__ import annotations

import struct

import numpy as np

GIF_SIGNATURES = (b"GIF87a", b"GIF89a")

# interlace passes: (first row, step)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


class _LSBBitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("GIF LZW stream exhausted")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytearray:
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad GIF LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    reader = _LSBBitReader(data)
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    prev: bytes | None = None
    out = bytearray()
    while len(out) < max_pixels:
        code = reader.read(code_size)
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW: first code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("GIF LZW: code out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return out


def _read_subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            break
        chunks.append(data[pos : pos + n])
        if len(chunks[-1]) != n:
            raise ValueError("truncated GIF sub-block")
        pos += n
    return b"".join(chunks), pos


def gif_dimensions(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the logical screen descriptor — O(1)."""
    if payload[:6] not in GIF_SIGNATURES or len(payload) < 10:
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    return (int(w), int(h))


def decode_gif(payload: bytes) -> np.ndarray:
    """First image of a GIF → uint8 (H, W, 3) array, or (H, W, 4) when a
    graphics-control transparency index applies."""
    if payload[:6] not in GIF_SIGNATURES:
        raise ValueError("not a GIF payload")
    try:
        return _decode_gif_inner(payload)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed GIF: {type(exc).__name__}: {exc}") from exc


def _decode_gif_inner(payload: bytes) -> np.ndarray:
    sw, sh = struct.unpack("<HH", payload[6:10])
    flags = payload[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8)
        if gct.size != 3 * n:
            raise ValueError("truncated GIF global color table")
        gct = gct.reshape(-1, 3)
        pos += 3 * n
    transparent: int | None = None
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos]
            pos += 1
            data, pos = _read_subblocks(payload, pos)
            if label == 0xF9 and len(data) >= 4:
                # a GCE applies only to the block that follows it
                # (GIF89a §23): a clear transparency flag must RESET any
                # index set by an earlier GCE, not leave it dangling
                transparent = data[3] if data[0] & 0x01 else None
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02X}")
        left, top, w, h, iflags = struct.unpack("<HHHHB", payload[pos : pos + 9])
        pos += 9
        if w == 0 or h == 0:
            raise ValueError("empty GIF image")
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            ct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8)
            if ct.size != 3 * n:
                raise ValueError("truncated GIF local color table")
            ct = ct.reshape(-1, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image without a color table")
        min_code = payload[pos]
        pos += 1
        data, pos = _read_subblocks(payload, pos)
        idx = _lzw_decode(min_code, data, w * h)
        if len(idx) < w * h:
            raise ValueError("GIF pixel stream too short")
        indices = np.frombuffer(bytes(idx[: w * h]), dtype=np.uint8)
        if int(indices.max()) >= ct.shape[0]:
            raise ValueError("GIF index out of palette range")
        grid = indices.reshape(h, w)
        if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
            out_rows = np.empty_like(grid)
            src = 0
            for first, step in _INTERLACE_PASSES:
                for r in range(first, h, step):
                    out_rows[r] = grid[src]
                    src += 1
            grid = out_rows
        # compose onto the logical screen so the decoded shape always
        # equals gif_dimensions (sub-canvas first frames are real); the
        # uncovered area takes the background color index (best effort —
        # clamped into the active table)
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        if (left, top, w, h) != (0, 0, int(sw), int(sh)):
            bg = payload[11]
            if bg >= ct.shape[0]:
                bg = 0
            canvas = np.full((sh, sw), bg, dtype=np.uint8)
            canvas[top : top + h, left : left + w] = grid
            grid = canvas
        rgb = ct[grid]
        if transparent is not None and transparent < ct.shape[0]:
            alpha = np.where(grid == transparent, 0, 255).astype(np.uint8)
            return np.dstack([rgb, alpha])
        return rgb
    raise ValueError("GIF carries no image descriptor")


def encode_gif(
    img: np.ndarray,
    *,
    interlace: bool = False,
    transparent_index: int | None = None,
) -> bytes:
    """Fixture encoder: uint8 (H, W, 3) RGB (or (H, W) palette-index gray
    mapped through an identity gray palette) → valid GIF89a. Uses the
    uncompressed-LZW trick (CLEAR before every pixel code), so it is
    bulky but trivially correct — the decoder still exercises real
    variable-width code reading, table resets and sub-block framing."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        indices = arr
    elif arr.ndim == 3 and arr.shape[2] == 3:
        flat = arr.reshape(-1, 3)
        palette, inv = np.unique(flat, axis=0, return_inverse=True)
        if palette.shape[0] > 256:
            raise ValueError("fixture encoder supports <= 256 distinct colors")
        indices = inv.reshape(arr.shape[:2]).astype(np.uint8)
    else:
        raise ValueError(f"unsupported fixture image shape {arr.shape}")
    h, w = indices.shape
    if h == 0 or w == 0:
        raise ValueError("empty fixture image")
    if transparent_index is not None and not 0 <= transparent_index <= 255:
        raise ValueError("transparent_index must fit a GIF color index (0-255)")
    # palette size = power of two >= max(4, needed)
    need = max(4, int(palette.shape[0]), (transparent_index or 0) + 1)
    size_exp = max(1, (need - 1).bit_length())
    n_colors = 1 << size_exp
    pal = np.zeros((n_colors, 3), dtype=np.uint8)
    pal[: palette.shape[0]] = palette

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (size_exp - 1), 0, 0])
    out += pal.tobytes()
    if transparent_index is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent_index & 0xFF, 0])
    iflags = 0x40 if interlace else 0x00
    out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) + bytes([iflags])

    rows = indices
    if interlace:
        order = [
            r for first, step in _INTERLACE_PASSES for r in range(first, h, step)
        ]
        rows = indices[order]

    min_code = max(2, size_exp)
    clear = 1 << min_code
    code_size = min_code + 1
    acc = 0
    nbits = 0
    stream = bytearray()
    for v in rows.reshape(-1).tolist():
        for code in (clear, int(v)):
            acc |= code << nbits
            nbits += code_size
            while nbits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
    # end-of-information
    acc |= (clear + 1) << nbits
    nbits += code_size
    while nbits > 0:
        stream.append(acc & 0xFF)
        acc >>= 8
        nbits -= 8
    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + bytes(chunk)
    out += bytes([0, 0x3B])
    return bytes(out)
