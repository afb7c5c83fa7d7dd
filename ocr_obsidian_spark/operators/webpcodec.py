"""WebP-lossless (VP8L) decoder + fixture encoder — stdlib + numpy only.

Implements the public "WebP Lossless Bitstream Specification" (Google,
RFC-style spec shipped with libwebp; the container is RIFF per the WebP
Container Specification): LSB-first bitstream, canonical prefix codes
(simple two-symbol and full code-length-coded forms, incl. the
16/17/18 repeat codes and the max-symbol early stop), LZ77 backward
references with the 120-entry two-dimensional distance mapping, the
color cache (0x1e35a7bd multiplicative hash), and all four transforms
(predictor with its 14 modes, cross-color, subtract-green,
color-indexing with sub-byte pixel bundling). Sub-images (predictor /
color-transform blocks, palettes) decode through the same recursive
image-stream reader, as specified.

Honest boundary: the
meta-prefix feature (an entropy image selecting per-tile prefix-code
groups) raises NotImplementedError — single-group images, palettized
graphics and every stream our fixture encoder emits decode for real.
Lossy VP8 (a DCT codec) is out of scope and raises.

The fixture encoder writes valid single-group VP8L: literal-only
pixels under either simple prefix codes (<= 2 distinct values per
channel) or a complete flat two-level code (all 256 byte values at
length 8 — Kraft sum exactly 1), optionally behind the subtract-green
transform. Bulky but trivially correct, same philosophy as the
uncompressed-LZW GIF fixture encoder; the decoder still exercises real
bit reading, canonical code construction, code-length coding and
transform inversion. Hand-built streams in tests/test_webp.py cover
LZ77, the color cache, the 2D distance mapping, predictor blocks and
palette bundling bit-for-bit.

Reference tie-in: the reference treats media as an external boundary
(ingest/ocr.py shells out per page); decoders live here so the 100 TB
pipeline can do media feature extraction inside Arrow batches without
external processes.
"""

from __future__ import annotations

import struct

import numpy as np

# code-length code order (spec section "Prefix code groups")
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# The 120-entry 2D distance mapping: all (dx, dy) window offsets with
# dy in [0, 7], dx in [-7, 8], (dy, dx) lexicographically positive —
# exactly the offsets representable by the spec's nibble-pair encoding
# (each table entry is one byte (dy << 4) | (8 - dx)) — ordered by
# squared euclidean distance, larger dy first within a tie, positive dx
# before negative for the same |dx|. This reproduces the literal table
# in the spec exactly; tests/test_webp.py pins all 120 entries against
# the published list.
def _distance_map() -> list[tuple[int, int]]:
    cands = [
        (dx, dy)
        for dy in range(0, 8)
        for dx in range(-7, 9)
        if dy > 0 or dx > 0
    ]
    cands.sort(
        key=lambda p: (
            p[0] * p[0] + p[1] * p[1],
            -p[1],
            abs(p[0]) * 2 + (1 if p[0] < 0 else 0),
        )
    )
    assert len(cands) == 120
    return cands


_DIST_MAP = _distance_map()


class _BitReader:
    """LSB-first bit reader (VP8L convention: the first bit read is the
    least-significant bit of the current byte)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.byte >= len(self.data):
                raise ValueError("truncated VP8L bitstream")
            v |= ((self.data[self.byte] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_bit(self) -> int:
        return self.read(1)


class _PrefixCode:
    """Canonical prefix code: built from per-symbol code lengths
    (shorter codes first, ties by symbol order — the DEFLATE/VP8L
    canonical assignment); decoded by MSB-first tree walk over
    LSB-first stream bits. A single-symbol code costs zero bits."""

    def __init__(self, lengths: dict[int, int]):
        used = {s: l for s, l in lengths.items() if l > 0}
        if not used:
            raise ValueError("VP8L prefix code with no symbols")
        if len(used) == 1:
            self.single = next(iter(used))
            self.table: dict[tuple[int, int], int] = {}
            self.max_len = 0
            return
        kraft = sum(2.0 ** -l for l in used.values())
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError(f"incomplete VP8L prefix code (kraft={kraft})")
        self.single = None
        self.max_len = max(used.values())
        bl_count: dict[int, int] = {}
        for l in used.values():
            bl_count[l] = bl_count.get(l, 0) + 1
        code = 0
        next_code = {}
        for l in range(1, self.max_len + 1):
            code = (code + bl_count.get(l - 1, 0)) << 1
            next_code[l] = code
        self.table = {}
        self.encode_table: dict[int, tuple[int, int]] = {}
        for s in sorted(used):
            l = used[s]
            self.table[(l, next_code[l])] = s
            self.encode_table[s] = (next_code[l], l)
            next_code[l] += 1

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for l in range(1, self.max_len + 1):
            code = (code << 1) | br.read_bit()
            s = self.table.get((l, code))
            if s is not None:
                return s
        raise ValueError("invalid VP8L prefix code word")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read_bit():  # simple code: 1 or 2 symbols stored directly
        num_symbols = br.read_bit() + 1
        first_8bit = br.read_bit()
        s0 = br.read(8 if first_8bit else 1)
        if num_symbols == 1:
            return _single(s0)
        s1 = br.read(8)
        if s0 == s1:
            raise ValueError("duplicate symbol in simple VP8L code")
        return _PrefixCode({s0: 1, s1: 1})
    num_code_lengths = 4 + br.read(4)
    cl_lengths: dict[int, int] = {}
    for i in range(num_code_lengths):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(cl_lengths)
    if br.read_bit():  # explicit max-symbol count
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: dict[int, int] = {}
    symbol = 0
    prev = 8  # spec: the previous code length starts at 8
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        s = cl_code.decode(br)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev = s
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol < alphabet_size:
                    lengths[symbol] = prev
                    symbol += 1
        elif s == 17:
            symbol += 3 + br.read(3)
        else:
            symbol += 11 + br.read(7)
    return _PrefixCode(lengths)


def _single(symbol: int) -> _PrefixCode:
    code = _PrefixCode.__new__(_PrefixCode)
    code.single = symbol
    code.table = {}
    code.max_len = 0
    return code


def _lz77_value(prefix_code: int, br: _BitReader) -> int:
    """length/distance prefix decoding (spec: 'LZ77 backward reference')."""
    if prefix_code < 4:
        return prefix_code + 1
    extra = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_image_stream(
    br: _BitReader, w: int, h: int, *, is_main: bool
) -> list[int]:
    """One entropy-coded ARGB image (the recursive core: main image,
    predictor/color-transform sub-images and palettes all come through
    here). Returns w*h ARGB uint32 values in scanline order."""
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid VP8L color-cache size {cache_bits}")
    if is_main and br.read_bit():
        raise NotImplementedError(
            "VP8L meta prefix codes (entropy image) not implemented — "
            "single-group images only (honest boundary, like lossy VP8)"
        )
    cache_size = (1 << cache_bits) if cache_bits else 0
    g_code = _read_prefix_code(br, 256 + 24 + cache_size)
    r_code = _read_prefix_code(br, 256)
    b_code = _read_prefix_code(br, 256)
    a_code = _read_prefix_code(br, 256)
    d_code = _read_prefix_code(br, 40)

    cache = [0] * cache_size
    out: list[int] = []
    n = w * h

    def emit(pixel: int) -> None:
        out.append(pixel)
        if cache_size:
            cache[(0x1E35A7BD * pixel & 0xFFFFFFFF) >> (32 - cache_bits)] = pixel

    while len(out) < n:
        s = g_code.decode(br)
        if s < 256:
            g = s
            r = r_code.decode(br)
            b = b_code.decode(br)
            a = a_code.decode(br)
            emit((a << 24) | (r << 16) | (g << 8) | b)
        elif s < 256 + 24:
            length = _lz77_value(s - 256, br)
            dist_code = _lz77_value(d_code.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = max(1, dy * w + dx)
            if dist > len(out):
                raise ValueError("VP8L backward reference before image start")
            for _ in range(length):
                if len(out) >= n:
                    break
                emit(out[-dist])
        else:
            idx = s - 256 - 24
            if idx >= cache_size:
                raise ValueError("VP8L color-cache index out of range")
            emit(cache[idx])
    return out


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------

def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) + (b >> 24)) >> 1) << 24)
        | (((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16)
        | (((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8)
        | (((a & 0xFF) + (b & 0xFF)) >> 1)
    )


def _select(t: int, l: int, tl: int) -> int:
    pa = pb = 0
    for sh in (24, 16, 8, 0):
        tc, lc, tlc = (t >> sh) & 0xFF, (l >> sh) & 0xFF, (tl >> sh) & 0xFF
        p = tc + lc - tlc
        pa += abs(p - tc)
        pb += abs(p - lc)
    return t if pa <= pb else l


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    v = 0
    for sh in (24, 16, 8, 0):
        c = (l >> sh & 0xFF) + (t >> sh & 0xFF) - (tl >> sh & 0xFF)
        v |= max(0, min(255, c)) << sh
    return v


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    v = 0
    for sh in (24, 16, 8, 0):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        half = d // 2 if d >= 0 else -((-d) // 2)  # C truncation toward 0
        v |= max(0, min(255, a + half)) << sh
    return v


def _apply_inverse_predictor(
    pix: list[int], w: int, h: int, modes: list[int], size_bits: int
) -> None:
    tiles_w = (w + (1 << size_bits) - 1) >> size_bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[i - 1]  # top row: L
            elif x == 0:
                pred = pix[i - w]  # left column: T
            else:
                mode = modes[(y >> size_bits) * tiles_w + (x >> size_bits)]
                L = pix[i - 1]
                T = pix[i - w]
                TL = pix[i - w - 1]
                # spec addressing: TR is pix[i - w + 1] in the flat
                # buffer, which for the rightmost column wraps to the
                # (already reconstructed) leftmost pixel of the CURRENT
                # row — not the pixel above
                TR = pix[i - w + 1] if x + 1 < w else pix[y * w]
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(T, L, TL)
                elif mode == 12:
                    pred = _clamp_add_sub_full(L, T, TL)
                elif mode == 13:
                    pred = _clamp_add_sub_half(L, T, TL)
                else:
                    raise ValueError(f"invalid VP8L predictor mode {mode}")
            p = pix[i]
            pix[i] = (
                ((((p >> 24) + (pred >> 24)) & 0xFF) << 24)
                | (((((p >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16)
                | (((((p >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8)
                | (((p & 0xFF) + (pred & 0xFF)) & 0xFF)
            )


def _ctdelta(t: int, c: int) -> int:
    """(int8)t * (int8)c >> 5 with C arithmetic-shift semantics."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _apply_inverse_color_transform(
    pix: list[int], w: int, h: int, elems: list[int], size_bits: int
) -> None:
    tiles_w = (w + (1 << size_bits) - 1) >> size_bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            m = elems[(y >> size_bits) * tiles_w + (x >> size_bits)]
            g2r = m & 0xFF          # blue channel of the element pixel
            g2b = (m >> 8) & 0xFF   # green channel
            r2b = (m >> 16) & 0xFF  # red channel
            p = pix[i]
            g = (p >> 8) & 0xFF
            r = ((p >> 16) & 0xFF) + _ctdelta(g2r, g)
            r &= 0xFF
            b = (p & 0xFF) + _ctdelta(g2b, g)
            b = (b + _ctdelta(r2b, r)) & 0xFF
            pix[i] = (p & 0xFF00FF00) | (r << 16) | b


def _apply_inverse_subtract_green(pix: list[int]) -> None:
    for i, p in enumerate(pix):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        pix[i] = (p & 0xFF00FF00) | (r << 16) | b


# ---------------------------------------------------------------------------
# decoder entry points
# ---------------------------------------------------------------------------

def _find_vp8l_chunk(payload: bytes) -> bytes:
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP (RIFF/WEBP) container")
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            return body
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy VP8 (DCT) decode not implemented — VP8L lossless only"
            )
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    raise ValueError("no VP8L chunk in WebP container")


def decode_webp(payload: bytes) -> np.ndarray:
    """Decode a lossless WebP to uint8 (H, W, 3), or (H, W, 4) when any
    pixel's alpha < 255."""
    body = _find_vp8l_chunk(payload)
    if not body or body[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _BitReader(body, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint (informative)
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")

    transforms: list[tuple] = []
    seen_types = set()
    palette = None
    packed_w = w
    while br.read_bit():
        ttype = br.read(2)
        if ttype in seen_types:
            raise ValueError("duplicate VP8L transform")
        seen_types.add(ttype)
        if ttype in (0, 1):  # predictor / cross-color: tiled sub-image
            size_bits = br.read(3) + 2
            tw = (packed_w + (1 << size_bits) - 1) >> size_bits
            th = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_image_stream(br, tw, th, is_main=False)
            # capture the image width this transform operates at: a
            # transform read AFTER color-indexing works on the packed
            # (width-reduced) image, and its inverse must run at that
            # width (the tile grid above was already built from it)
            if ttype == 0:
                modes = [(p >> 8) & 0xFF for p in sub]
                transforms.append(("predictor", modes, size_bits, packed_w))
            else:
                transforms.append(("color", sub, size_bits, packed_w))
        elif ttype == 2:
            transforms.append(("subtract_green",))
        elif ttype == 3:
            table_size = br.read(8) + 1
            raw = _decode_image_stream(br, table_size, 1, is_main=False)
            palette = []
            prev = 0
            for p in raw:  # palette entries are componentwise delta-coded
                prev = (
                    ((((prev >> 24) + (p >> 24)) & 0xFF) << 24)
                    | (((((prev >> 16) & 0xFF) + ((p >> 16) & 0xFF)) & 0xFF) << 16)
                    | (((((prev >> 8) & 0xFF) + ((p >> 8) & 0xFF)) & 0xFF) << 8)
                    | (((prev & 0xFF) + (p & 0xFF)) & 0xFF)
                )
                palette.append(prev)
            if table_size <= 2:
                width_bits = 3
            elif table_size <= 4:
                width_bits = 2
            elif table_size <= 16:
                width_bits = 1
            else:
                width_bits = 0
            packed_w = (w + (1 << width_bits) - 1) >> width_bits
            transforms.append(("palette", palette, width_bits))

    pix = _decode_image_stream(br, packed_w, h, is_main=True)

    for t in reversed(transforms):
        if t[0] == "palette":
            pal, width_bits = t[1], t[2]
            if width_bits == 0:
                unpacked = []
                for p in pix:
                    idx = (p >> 8) & 0xFF
                    if idx >= len(pal):
                        raise ValueError("VP8L palette index out of range")
                    unpacked.append(pal[idx])
            else:
                per = 1 << width_bits
                bits = 8 >> width_bits
                mask = (1 << bits) - 1
                unpacked = []
                for y in range(h):
                    row = pix[y * packed_w : (y + 1) * packed_w]
                    for x in range(w):
                        g = (row[x >> width_bits] >> 8) & 0xFF
                        idx = (g >> (bits * (x & (per - 1)))) & mask
                        if idx >= len(pal):
                            raise ValueError("VP8L palette index out of range")
                        unpacked.append(pal[idx])
            pix = unpacked
            packed_w = w
        elif t[0] == "predictor":
            _apply_inverse_predictor(pix, t[3], h, t[1], t[2])
        elif t[0] == "color":
            _apply_inverse_color_transform(pix, t[3], h, t[1], t[2])
        else:
            _apply_inverse_subtract_green(pix)

    arr = np.array(pix, dtype=np.uint32).reshape(h, w)
    a = (arr >> 24).astype(np.uint8)
    r = ((arr >> 16) & 0xFF).astype(np.uint8)
    g = ((arr >> 8) & 0xFF).astype(np.uint8)
    b = (arr & 0xFF).astype(np.uint8)
    if bool((a != 255).any()):
        return np.stack([r, g, b, a], axis=2)
    return np.stack([r, g, b], axis=2)


def webp_dimensions(payload: bytes) -> tuple[int, int] | None:
    """(width, height) from the VP8L header only; None when not a
    lossless WebP or too short."""
    try:
        body = _find_vp8l_chunk(payload)
    except (ValueError, NotImplementedError):
        return None
    if len(body) < 5 or body[0] != 0x2F:
        return None
    br = _BitReader(body, 1)
    try:
        w = br.read(14) + 1
        h = br.read(14) + 1
    except ValueError:
        return None
    return (w, h)


def is_webp(payload: bytes) -> bool:
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WEBP"
    )


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        """n bits of value, LSB first."""
        for i in range(n):
            self.cur |= ((value >> i) & 1) << self.nbits
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.nbits = 0

    def write_code(self, code: int, length: int) -> None:
        """A prefix-code word: bits MSB-first (tree-walk order)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        if self.nbits:
            self.out.append(self.cur)
            self.cur = 0
            self.nbits = 0
        return bytes(self.out)


def _write_channel_code(bw: _BitWriter, values: set[int], alphabet: int):
    """Write one prefix code for the channel's used ``values``; returns
    symbol -> (code, length) for the data pass ({} for 0-bit codes)."""
    vs = sorted(values)
    if len(vs) == 1:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if vs[0] > 1:
            bw.write(1, 1)
            bw.write(vs[0], 8)
        else:
            bw.write(0, 1)
            bw.write(vs[0], 1)
        return {}
    if len(vs) == 2:
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        if vs[0] > 1:
            bw.write(1, 1)
            bw.write(vs[0], 8)
        else:
            bw.write(0, 1)
            bw.write(vs[0], 1)
        bw.write(vs[1], 8)
        return {vs[0]: (0, 1), vs[1]: (1, 1)}
    # full coding: flat complete code — every byte value at length 8
    # (Kraft sum 256 * 2^-8 = 1); code-length alphabet is {0, 8} (zeros
    # pad alphabets wider than 256), both at length 1
    bw.write(0, 1)
    bw.write(12 - 4, 4)  # lengths for _CL_ORDER[:12] cover symbols 0 and 8
    for sym in _CL_ORDER[:12]:
        bw.write(1 if sym in (0, 8) else 0, 3)
    bw.write(0, 1)  # no explicit max-symbol
    # canonical over {0: len 1, 8: len 1}: 0 -> '0', 8 -> '1'
    for _ in range(256):
        bw.write_code(1, 1)  # length 8
    for _ in range(alphabet - 256):
        bw.write_code(0, 1)  # length 0 pad
    return {s: (s, 8) for s in range(256)}


def encode_webp_lossless(
    img: np.ndarray, *, subtract_green: bool = False
) -> bytes:
    """Fixture encoder: uint8 (H, W), (H, W, 3) or (H, W, 4) → valid
    lossless WebP. Literal-only single-group VP8L (no LZ77/cache), flat
    or simple prefix codes; ``subtract_green=True`` additionally runs
    the spec's subtract-green transform so decode exercises a real
    transform inversion."""
    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=2)
    if arr.ndim != 3 or arr.shape[2] not in (3, 4):
        raise ValueError(f"unsupported fixture image shape {arr.shape}")
    h, w = arr.shape[:2]
    if h == 0 or w == 0 or w > 1 << 14 or h > 1 << 14:
        raise ValueError("fixture image dimensions out of VP8L range")
    r = arr[:, :, 0].astype(np.int16)
    g = arr[:, :, 1].astype(np.int16)
    b = arr[:, :, 2].astype(np.int16)
    a = (
        arr[:, :, 3].astype(np.int16)
        if arr.shape[2] == 4
        else np.full((h, w), 255, dtype=np.int16)
    )
    if subtract_green:
        r = (r - g) % 256
        b = (b - g) % 256

    bw = _BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if (arr.shape[2] == 4 and (arr[:, :, 3] != 255).any()) else 0, 1)
    bw.write(0, 3)  # version
    if subtract_green:
        bw.write(1, 1)  # transform present
        bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # no (more) transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes

    g_tab = _write_channel_code(bw, set(g.ravel().tolist()), 256 + 24)
    r_tab = _write_channel_code(bw, set(r.ravel().tolist()), 256)
    b_tab = _write_channel_code(bw, set(b.ravel().tolist()), 256)
    a_tab = _write_channel_code(bw, set(a.ravel().tolist()), 256)
    _write_channel_code(bw, {0}, 40)  # distance code: never used

    for gv, rv, bv, av in zip(
        g.ravel().tolist(), r.ravel().tolist(), b.ravel().tolist(), a.ravel().tolist()
    ):
        for tab, v in ((g_tab, gv), (r_tab, rv), (b_tab, bv), (a_tab, av)):
            if tab:
                bw.write_code(*tab[v])

    body = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
