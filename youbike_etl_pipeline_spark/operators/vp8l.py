"""WebP-lossless (VP8L) decode — and a conformance encoder — in pure
numpy + stdlib, no codec library.

The decoder implements the public "WebP Lossless Bitstream Specification"
(the format carried in a RIFF/WEBP container's ``VP8L`` chunk): LSB-first
bit reading, canonical prefix codes with the DEFLATE-style code-length
code (repeat ops 16/17/18, simple 1/2-symbol codes, the max-symbol
shortcut), an optional meta-prefix image selecting per-tile code groups,
LZ77 back-references through the 120-entry two-dimensional distance map,
a (1 << cache_bits)-slot color cache keyed by the 0x1e35a7bd multiplier,
and all four transforms inverted in reverse read order: PREDICTOR (14
spatial modes), COLOR (signed 3.5-bit cross-channel multipliers),
SUBTRACT_GREEN, and COLOR_INDEXING (delta-coded palette with sub-byte
pixel bundling). Lossy VP8 and extended VP8X containers raise
``NotImplementedError`` — real gates, stated honestly.

:func:`encode_webp_lossless` writes a spec-subset stream (single prefix
group, complete two-level canonical codes, optional subtract-green /
per-tile predictor / palette transforms, optional color cache and
distance-1 LZ77 runs) so decode(encode(img)) is bit-exact — VP8L is
lossless, so round trips have zero rounding latitude. Border semantics
for the rightmost column's top-right predictor neighbor follow the
contiguous-row convention of the reference decoder (the previous row's
out-of-bounds access lands on the current row's first pixel).

Cost note: the entropy decode is per-symbol Python, sized for thumbnail
fixtures and audit paths (same posture as ``decode_jpeg`` /
``decode_png``); route large binary-column corpora through the JVM
``sources.readers.read_images`` source where ImageIO plugins exist.
"""

from __future__ import annotations

import numpy as np

from .riff import riff_chunk, riff_chunks, riff_file, riff_form

#: code-length-code symbol order (shared with DEFLATE's concept, WebP order)
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

#: (dy, dx) two-dimensional distance map for dist codes 1..120
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)

# transform type tags, in spec numbering
_PREDICTOR, _COLOR, _SUBTRACT_GREEN, _COLOR_INDEXING = 0, 1, 2, 3


class _LsbReader:
    """LSB-first bit reader (DEFLATE convention — the opposite of JPEG's).
    Backed by an unpacked bit array so a multi-bit read is one vectorized
    dot product, and prefix decoding can peek a whole window at once."""

    def __init__(self, data: bytes) -> None:
        self.bitarr = np.unpackbits(
            np.frombuffer(data, dtype=np.uint8), bitorder="little"
        ).astype(np.int64)
        self.n = len(self.bitarr)
        self.pos = 0  # bit position
        # 24 lanes: distance prefix codes 36-39 read 17-18 extra bits
        self._pow = (1 << np.arange(24, dtype=np.int64))

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > self.n:
            raise ValueError("truncated VP8L bitstream")
        v = int(self.bitarr[self.pos : end] @ self._pow[:n])
        self.pos = end
        return v

    def peek(self, n: int) -> tuple[int, int]:
        """(window value, bits actually available) — zero-padded past the
        stream end so short tail codes still resolve."""
        end = min(self.pos + n, self.n)
        seg = self.bitarr[self.pos : end]
        return int(seg @ self._pow[: len(seg)]), end - self.pos


class _Prefix:
    """Canonical prefix code. Codes are read MSB-of-codeword-first while the
    underlying byte stream stays LSB-first (the DEFLATE/VP8L convention).
    ``lengths`` must form a complete code unless exactly one symbol is
    used (coded in zero bits)."""

    def __init__(self, lengths: "list[int] | np.ndarray") -> None:
        nz = [(length, sym) for sym, length in enumerate(lengths) if length > 0]
        if not nz:
            raise ValueError("VP8L prefix code with no symbols")
        if len(nz) == 1:
            self.single: int | None = nz[0][1]
            self.table: dict[tuple[int, int], int] = {}
            return
        self.single = None
        kraft = sum(1 / (1 << length) for length, _ in nz)
        if abs(kraft - 1.0) > 1e-12:
            raise ValueError("VP8L prefix code is not complete")
        if any(length > 15 for length, _ in nz):
            raise ValueError("VP8L prefix code length exceeds 15")
        # one-shot decode table over a max-length window: codewords are
        # read MSB-of-code-first from the LSB-first stream, so each
        # codeword's bit-reversal indexes the window's low bits and every
        # high-bit padding maps to the same symbol
        self.maxlen = max(length for length, _ in nz)
        size = 1 << self.maxlen
        self.sym_arr = np.zeros(size, dtype=np.int32)
        self.len_arr = np.zeros(size, dtype=np.int32)
        code = 0
        prev_len: int | None = None
        for length, sym in sorted(nz):
            if prev_len is not None and length > prev_len:
                code <<= length - prev_len
            rev = _reverse_bits(code, length)
            idx = np.arange(rev, size, 1 << length)
            self.sym_arr[idx] = sym
            self.len_arr[idx] = length
            code += 1
            prev_len = length

    def read(self, br: "_LsbReader") -> int:
        if self.single is not None:
            return self.single
        window, avail = br.peek(self.maxlen)
        length = int(self.len_arr[window])
        if length == 0 or length > avail:
            raise ValueError("invalid VP8L prefix code")
        br.pos += length
        return int(self.sym_arr[window])


def _read_prefix_code(br: "_LsbReader", alphabet_size: int) -> _Prefix:
    """One prefix code: the 'simple' 1/2-symbol form or the full
    code-length-coded form with repeat ops and the max-symbol shortcut."""
    if br.bits(1):  # simple code
        num_symbols = br.bits(1) + 1
        first_8bit = br.bits(1)
        sym0 = br.bits(8 if first_8bit else 1)
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size:
            raise ValueError("VP8L simple code symbol out of range")
        if num_symbols == 1:
            lengths[sym0] = 1  # single-symbol: zero bits, _Prefix handles it
            return _Prefix(lengths)
        sym1 = br.bits(8)
        if sym1 >= alphabet_size or sym1 == sym0:
            raise ValueError("VP8L simple code symbol out of range")
        lengths[sym0] = lengths[sym1] = 1
        return _Prefix(lengths)
    num_clc = 4 + br.bits(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.bits(3)
    clc = _Prefix(clc_lengths)
    if br.bits(1):  # explicit count of coded symbols
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = clc.read(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        else:
            slot = code_len - 16
            repeat = br.bits((2, 3, 7)[slot]) + (3, 3, 11)[slot]
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L code-length repeat overruns alphabet")
            fill = prev_len if code_len == 16 else 0
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _Prefix(lengths)


def _prefix_value(br: "_LsbReader", code: int) -> int:
    """LZ77 length/distance prefix decoding: code < 4 maps to code+1, else
    (2 + (code&1)) << extra_bits covers the range with extra_bits payload."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _decode_image_stream(
    br: "_LsbReader", w: int, h: int, is_main: bool
) -> "np.ndarray":
    """Decode one entropy-coded ARGB image (the main image or a transform's
    sub-image) into a flat uint32 array of length w*h. Transforms are only
    legal (and only read) on the main image; sub-images still carry their
    own optional color cache and single prefix group."""
    transforms: list[tuple[int, object]] = []
    seen_types: set[int] = set()
    xsize = w
    if is_main:
        while br.bits(1):
            ttype = br.bits(2)
            if ttype in seen_types:
                raise ValueError("VP8L transform declared twice")
            seen_types.add(ttype)
            if ttype in (_PREDICTOR, _COLOR):
                size_bits = br.bits(3) + 2
                bs = 1 << size_bits
                tw, th = (xsize + bs - 1) >> size_bits, (h + bs - 1) >> size_bits
                data = _decode_image_stream(br, tw, th, False)
                transforms.append((ttype, (size_bits, tw, data)))
            elif ttype == _SUBTRACT_GREEN:
                transforms.append((ttype, None))
            else:  # COLOR_INDEXING
                n_colors = br.bits(8) + 1
                palette = _decode_image_stream(br, n_colors, 1, False)
                # palette entries are delta-coded per channel
                pal = palette.view(np.uint8).reshape(-1, 4)
                pal = np.cumsum(pal.astype(np.uint32), axis=0).astype(np.uint8)
                palette = pal.copy().view(np.uint32).reshape(-1)
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(
                    (ttype, (width_bits, n_colors, palette, xsize))
                )
                xsize = (xsize + (1 << width_bits) - 1) >> width_bits
    # color cache
    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"invalid VP8L color cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0
    # meta prefix image (main image only)
    meta = None
    meta_bits = 0
    num_groups = 1
    if is_main and br.bits(1):
        meta_bits = br.bits(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_image_stream(br, mw, mh, False)
        meta = (((meta_img >> 8) & 0xFFFF)).astype(np.int64)
        num_groups = int(meta.max()) + 1
        meta_w = mw
    groups = []
    green_alpha = 256 + 24 + cache_size
    for _ in range(num_groups):
        groups.append(
            (
                _read_prefix_code(br, green_alpha),
                _read_prefix_code(br, 256),  # red
                _read_prefix_code(br, 256),  # blue
                _read_prefix_code(br, 256),  # alpha
                _read_prefix_code(br, 40),  # distance
            )
        )
    # pixel decode
    n = xsize * h
    out = np.zeros(n, dtype=np.uint32)
    cache = [0] * cache_size
    pos = 0
    g = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % xsize, pos // xsize
            g = groups[int(meta[(y >> meta_bits) * meta_w + (x >> meta_bits)])]
        sym = g[0].read(br)
        if sym < 256:  # literal
            red = g[1].read(br)
            blue = g[2].read(br)
            alpha = g[3].read(br)
            px = (alpha << 24) | (red << 16) | (sym << 8) | blue
            out[pos] = px
            if cache_size:
                cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += 1
        elif sym < 256 + 24:  # LZ77 back-reference
            length = _prefix_value(br, sym - 256)
            dist_code = _prefix_value(br, g[4].read(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dy, dx = _DIST_MAP[dist_code - 1]
                dist = dx * xsize + dy
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("VP8L back-reference out of bounds")
            for _ in range(length):
                px = int(out[pos - dist])
                out[pos] = px
                if cache_size:
                    cache[
                        (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = px
                pos += 1
        else:  # color cache
            if sym - 280 >= cache_size:
                raise ValueError("VP8L cache symbol out of range")
            out[pos] = cache[sym - 280]
            pos += 1
    # apply inverse transforms in reverse read order
    for ttype, tdata in reversed(transforms):
        if ttype == _COLOR_INDEXING:
            width_bits, n_colors, palette, full_w = tdata  # type: ignore[misc]
            out = _inverse_palette(out, xsize, h, width_bits, palette, full_w)
            xsize = full_w
        elif ttype == _SUBTRACT_GREEN:
            out = _inverse_subtract_green(out)
        elif ttype == _COLOR:
            size_bits, tw, data = tdata  # type: ignore[misc]
            out = _inverse_color_transform(out, xsize, h, size_bits, tw, data)
        else:  # predictor
            size_bits, tw, data = tdata  # type: ignore[misc]
            out = _inverse_predictor(out, xsize, h, size_bits, tw, data)
    return out


def _inverse_subtract_green(px: "np.ndarray") -> "np.ndarray":
    b = px.view(np.uint8).reshape(-1, 4)  # little-endian: b, g, r, a
    g = b[:, 1]
    b[:, 0] += g
    b[:, 2] += g
    return b.reshape(-1).view(np.uint32).copy()


def _inverse_palette(
    px: "np.ndarray",
    packed_w: int,
    h: int,
    width_bits: int,
    palette: "np.ndarray",
    full_w: int,
) -> "np.ndarray":
    greens = ((px >> 8) & 0xFF).reshape(h, packed_w).astype(np.int64)
    if width_bits:
        bpp = 8 >> width_bits
        per = 1 << width_bits
        xs = np.arange(full_w)
        idx = (greens[:, xs >> width_bits] >> ((xs % per) * bpp)) & ((1 << bpp) - 1)
    else:
        idx = greens[:, :full_w]
    # out-of-range indices decode as transparent black, matching the
    # reference decoder's zero-initialized palette slack
    pal = np.zeros(256, dtype=np.uint32)
    pal[: len(palette)] = palette
    return pal[idx].reshape(-1)


def _cte_delta(t: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
    """ColorTransformDelta: (int8 multiplier * int8 channel) >> 5."""
    return (t.astype(np.int8).astype(np.int64) * c.astype(np.int8).astype(np.int64)) >> 5


def _inverse_color_transform(
    px: "np.ndarray", w: int, h: int, size_bits: int, tw: int, data: "np.ndarray"
) -> "np.ndarray":
    b = px.view(np.uint8).reshape(h, w, 4).astype(np.int64)  # b,g,r,a
    ys, xs = np.mgrid[0:h, 0:w]
    cte = data[(ys >> size_bits) * tw + (xs >> size_bits)]
    g2r = cte & 0xFF
    g2b = (cte >> 8) & 0xFF
    r2b = (cte >> 16) & 0xFF
    green = b[:, :, 1]
    red = (b[:, :, 2] + _cte_delta(g2r, green)) & 0xFF
    blue = (b[:, :, 0] + _cte_delta(g2b, green) + _cte_delta(r2b, red)) & 0xFF
    b[:, :, 2] = red
    b[:, :, 0] = blue
    return (
        b.astype(np.uint8).reshape(-1, 4).reshape(-1).view(np.uint32).copy()
    )


def _avg2(a: int, b: int) -> int:
    """Per-channel (a+b)>>1 on packed ARGB."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _clip255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:  # Select
        pa_minus_pb = 0
        for sh in (24, 16, 8, 0):
            a_c = (top >> sh) & 0xFF
            b_c = (left >> sh) & 0xFF
            c_c = (tl >> sh) & 0xFF
            pa_minus_pb += abs(b_c - c_c) - abs(a_c - c_c)
        return top if pa_minus_pb <= 0 else left
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for sh in (24, 16, 8, 0):
            v = _clip255(((left >> sh) & 0xFF) + ((top >> sh) & 0xFF) - ((tl >> sh) & 0xFF))
            out |= v << sh
        return out
    if mode == 13:  # ClampAddSubtractHalf
        out = 0
        for sh in (24, 16, 8, 0):
            ave = (((left >> sh) & 0xFF) + ((top >> sh) & 0xFF)) >> 1
            d = ave - ((tl >> sh) & 0xFF)
            half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc division
            out |= _clip255(ave + half) << sh
        return out
    raise ValueError(f"invalid VP8L predictor mode {mode}")


def _add_pixels(a: int, b: int) -> int:
    """Per-channel (a+b) & 0xff on packed ARGB."""
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((a >> sh) & 0xFF) + ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _predictor_mode_grid(
    w: int, h: int, size_bits: int, tw: int, data: "np.ndarray"
) -> "np.ndarray":
    ys, xs = np.mgrid[0:h, 0:w]
    return ((data[(ys >> size_bits) * tw + (xs >> size_bits)] >> 8) & 0xFF).astype(
        np.int64
    )


def _inverse_predictor(
    px: "np.ndarray", w: int, h: int, size_bits: int, tw: int, data: "np.ndarray"
) -> "np.ndarray":
    modes = _predictor_mode_grid(w, h, size_bits, tw, data)
    out = px.astype(np.int64).copy()
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if y == 0 and x == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(out[i - 1])  # first row: L
            elif x == 0:
                pred = int(out[i - w])  # first column: T
            else:
                left = int(out[i - 1])
                top = int(out[i - w])
                tl = int(out[i - w - 1])
                # rightmost column: the reference decoder's contiguous
                # rows make "top-right" land on this row's first pixel
                tr = int(out[i - w + 1])
                pred = _predict(int(modes[y, x]), left, top, tl, tr)
            out[i] = _add_pixels(int(out[i]), pred)
    return out.astype(np.uint32)


def decode_vp8l(payload: bytes) -> "np.ndarray":
    """Decode a raw VP8L chunk payload (starting at the 0x2F signature)
    into an (H, W, 4) uint8 RGBA array."""
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _LsbReader(payload[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(1)  # alpha hint (informational)
    version = br.bits(3)
    if version != 0:
        raise ValueError(f"unsupported VP8L version {version}")
    argb = _decode_image_stream(br, w, h, True).reshape(h, w)
    b = argb.view(np.uint8).reshape(h, w, 4)  # little-endian: b, g, r, a
    return b[:, :, [2, 1, 0, 3]].copy()  # → RGBA


def decode_webp(payload: bytes) -> "np.ndarray":
    """Decode a WebP container. Lossless (VP8L) decodes for real into an
    (H, W, 3) uint8 RGB array (alpha dropped after compositing checks —
    the engine's image contract is RGB); lossy VP8 and extended VP8X
    stay honestly gated."""
    if riff_form(payload) != b"WEBP":
        raise ValueError("not a WebP payload")
    fourcc, chunk = next(riff_chunks(payload), (None, b""))
    if fourcc is None:
        raise ValueError("WebP payload holds no chunk")
    if fourcc == b"VP8L":
        rgba = decode_vp8l(chunk)
        return rgba[:, :, :3].copy()
    if fourcc in (b"VP8 ", b"VP8X"):
        raise NotImplementedError(
            "lossy/extended WebP (VP8/VP8X) requires a codec library — only "
            "lossless VP8L decodes here"
        )
    raise ValueError(f"unknown WebP chunk {fourcc!r}")


# --------------------------------------------------------------- encoder


class _LsbWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = self.n = 0
        return bytes(self.out)


def _complete_lengths(used: list[int], alphabet_size: int) -> list[int]:
    """Kraft-complete code lengths over the used symbols: with n used
    symbols, 2^L - n of them (L = ceil(log2 n)) get length L-1 and the
    rest length L — a valid complete canonical code for any n ≥ 2."""
    n = len(used)
    lengths = [0] * alphabet_size
    if n == 1:
        lengths[used[0]] = 1  # written as a simple code by the caller
        return lengths
    L = max(1, (n - 1).bit_length())
    n_short = (1 << L) - n
    for i, sym in enumerate(sorted(used)):
        lengths[sym] = L - 1 if i < n_short else L
    return lengths


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    nz = sorted((length, sym) for sym, length in enumerate(lengths) if length)
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len: int | None = None
    for length, sym in nz:
        if prev_len is not None and length > prev_len:
            code <<= length - prev_len
        codes[sym] = (code, length)
        code += 1
        prev_len = length
    return codes


def _write_prefix_code(
    bw: "_LsbWriter", lengths: list[int], alphabet_size: int
) -> dict[int, tuple[int, int]]:
    """Emit one prefix code (simple form when ≤2 symbols, else the
    code-length-coded form with 17/18 zero-runs) and return the symbol →
    (code, length) map for payload writing."""
    used = [sym for sym, length in enumerate(lengths) if length]
    # the simple form stores symbols in at most 8 bits — green alphabet
    # symbols ≥ 256 (LZ77 lengths / cache indices) need the full form
    if (
        used
        and len(used) <= 2
        and max(used) <= 255
        and all(lengths[s] == 1 for s in used)
    ):
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        if len(used) == 1:
            if used[0] < 2:
                bw.write(0, 1)
                bw.write(used[0], 1)
            else:
                bw.write(1, 1)
                bw.write(used[0], 8)
            return {used[0]: (0, 0)}
        bw.write(1, 1)  # first symbol in 8 bits
        bw.write(used[0], 8)
        bw.write(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}
    bw.write(0, 1)  # full form
    # RLE the FULL lengths array (incl. trailing zeros — the decoder reads
    # ops until the alphabet is covered when the max-symbol shortcut is off)
    ops: list[tuple[int, int, int]] = []  # (cl_symbol, extra_val, extra_bits)
    i = 0
    last = alphabet_size - 1
    while i <= last:
        if lengths[i] == 0:
            run = 1
            while i + run <= last and lengths[i + run] == 0:
                run += 1
            while run >= 3:
                take = min(run, 138)
                if take >= 11:
                    ops.append((18, take - 11, 7))
                else:
                    ops.append((17, take - 3, 3))
                run -= take
            for _ in range(run):
                ops.append((0, 0, 0))
            i = _consumed(ops)
        else:
            ops.append((lengths[i], 0, 0))
            i += 1
    clc_used = sorted({op[0] for op in ops})
    clc_lengths = _complete_lengths(clc_used, 19)
    # code-length code is always written in the full 3-bit-per-entry form
    order_pos = {s: i for i, s in enumerate(_CLC_ORDER)}
    num_clc = max(4, 1 + max(order_pos[s] for s in clc_used))
    bw.write(num_clc - 4, 4)
    for i2 in range(num_clc):
        bw.write(clc_lengths[_CLC_ORDER[i2]], 3)
    if len(clc_used) == 1:
        # a single-symbol code-length code reads in zero bits; nothing to emit
        clc_codes: dict[int, tuple[int, int]] = {clc_used[0]: (0, 0)}
    else:
        clc_codes = _canonical_codes(clc_lengths)
    bw.write(0, 1)  # no max-symbol shortcut: trailing zeros via ops
    for cl_sym, extra_val, extra_bits in ops:
        code, length = clc_codes[cl_sym]
        bw.write(_reverse_bits(code, length), length)
        if extra_bits:
            bw.write(extra_val, extra_bits)
    return _canonical_codes(lengths)


def _consumed(ops: list[tuple[int, int, int]]) -> int:
    total = 0
    for sym, extra, _ in ops:
        if sym == 17:
            total += extra + 3
        elif sym == 18:
            total += extra + 11
        else:
            total += 1
    return total


def _reverse_bits(code: int, length: int) -> int:
    """Prefix codewords are read MSB-first by the decoder while the writer
    packs LSB-first — reverse so the decoder sees MSB first."""
    out = 0
    for _ in range(length):
        out = (out << 1) | (code & 1)
        code >>= 1
    return out


def _emit_symbol(bw: "_LsbWriter", codes: dict[int, tuple[int, int]], sym: int) -> None:
    code, length = codes[sym]
    if length:
        bw.write(_reverse_bits(code, length), length)


def _prefix_encode_value(value: int) -> tuple[int, int, int]:
    """Inverse of :func:`_prefix_value`: value → (code, extra_val, extra_bits)."""
    v1 = value - 1
    if v1 < 4:
        return v1, 0, 0
    nb = v1.bit_length() - 1
    code = 2 * nb + ((v1 >> (nb - 1)) & 1)
    extra_bits = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra_bits
    return code, v1 - offset, extra_bits


def encode_webp_lossless(
    img: "np.ndarray",
    use_subtract_green: bool = False,
    predictor_bits: int = 0,
    use_palette: bool = False,
    cache_bits: int = 0,
    use_lz77: bool = True,
    color_bits: int = 0,
    meta_bits: int = 0,
) -> bytes:
    """(H, W, 3|4) uint8 → WebP-lossless payload (RIFF + VP8L), exercising
    the requested decoder paths: ``use_subtract_green`` writes that
    transform; ``predictor_bits`` ≥ 2 writes a PREDICTOR transform with
    that tile size whose per-tile mode rotates through all 14 modes;
    ``color_bits`` ≥ 2 writes a COLOR (cross-channel) transform with
    per-tile signed multipliers rotating through the 3.5-bit range;
    ``use_palette`` writes COLOR_INDEXING (with sub-byte bundling when
    the image has ≤16 distinct colors); ``cache_bits`` enables the color
    cache; ``use_lz77`` emits distance-1 runs for repeated pixels;
    ``meta_bits`` ≥ 2 writes a meta-prefix image whose tile-parity group
    index alternates between two identical code groups (exercising the
    decoder's group switching). Decode → encode round trips are
    bit-exact."""
    if img.ndim == 2:
        img = img[:, :, None].repeat(3, axis=2)
    h, w, nch = img.shape
    if w > 16384 or h > 16384:
        raise ValueError("VP8L dimensions are limited to 16384 (14-bit fields)")
    if nch == 3:
        img = np.concatenate([img, np.full((h, w, 1), 255, np.uint8)], axis=2)
    argb = (
        img[:, :, 3].astype(np.uint32) << 24
        | img[:, :, 0].astype(np.uint32) << 16
        | img[:, :, 1].astype(np.uint32) << 8
        | img[:, :, 2].astype(np.uint32)
    ).reshape(-1)
    bw = _LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if nch == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)  # version
    xsize = w
    if use_palette:
        colors, inverse = np.unique(argb, return_inverse=True)
        if len(colors) > 256:
            raise ValueError("use_palette requires ≤256 distinct colors")
        bw.write(1, 1)
        bw.write(_COLOR_INDEXING, 2)
        bw.write(len(colors) - 1, 8)
        deltas = colors.view(np.uint8).reshape(-1, 4).astype(np.int64)
        deltas[1:] -= deltas[:-1].copy()
        pal_img = (deltas & 0xFF).astype(np.uint8).reshape(-1).view(np.uint32)
        _encode_image_stream(bw, pal_img, len(colors), 1, 0, False)
        n = len(colors)
        width_bits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        idx = inverse.reshape(h, w).astype(np.uint32)
        if width_bits:
            bpp = 8 >> width_bits
            per = 1 << width_bits
            pw = (w + per - 1) >> width_bits
            packed = np.zeros((h, pw), dtype=np.uint32)
            for sub in range(per):
                xs = np.arange(pw) * per + sub
                valid = xs < w
                packed[:, valid] |= idx[:, xs[valid]] << (sub * bpp)
            xsize = pw
            argb = (packed << 8).reshape(-1)  # indices ride the green channel
        else:
            argb = (idx << 8).reshape(-1)
    if use_subtract_green:
        bw.write(1, 1)
        bw.write(_SUBTRACT_GREEN, 2)
        b = argb.view(np.uint8).reshape(-1, 4).copy()
        b[:, 0] -= b[:, 1]
        b[:, 2] -= b[:, 1]
        argb = b.reshape(-1).view(np.uint32).copy()
    if color_bits:
        if color_bits < 2:
            raise ValueError("color_bits must be ≥ 2")
        bw.write(1, 1)
        bw.write(_COLOR, 2)
        bw.write(color_bits - 2, 3)
        bs = 1 << color_bits
        tw = (xsize + bs - 1) >> color_bits
        th = (h + bs - 1) >> color_bits
        tiles = np.arange(tw * th, dtype=np.uint32)
        # signed multipliers sweep the int8 range deterministically
        g2r = (tiles * 37 + 5) & 0xFF
        g2b = (tiles * 101 + 160) & 0xFF
        r2b = (tiles * 197 + 77) & 0xFF
        cte_img = (np.uint32(0xFF) << 24) | (r2b << 16) | (g2b << 8) | g2r
        _encode_image_stream(bw, cte_img.astype(np.uint32), tw, th, 0, False)
        b = argb.view(np.uint8).reshape(h, xsize, 4).astype(np.int64)
        ys, xs2 = np.mgrid[0:h, 0:xsize]
        cte = cte_img[(ys >> color_bits) * tw + (xs2 >> color_bits)]
        green = b[:, :, 1]
        red0 = b[:, :, 2].copy()  # the r2b delta below needs the ORIGINAL red
        b[:, :, 2] = (red0 - _cte_delta(cte & 0xFF, green)) & 0xFF
        b[:, :, 0] = (
            b[:, :, 0]
            - _cte_delta((cte >> 8) & 0xFF, green)
            - _cte_delta((cte >> 16) & 0xFF, red0)
        ) & 0xFF
        argb = (
            b.astype(np.uint8).reshape(-1, 4).reshape(-1).view(np.uint32).copy()
        )
    if predictor_bits:
        if predictor_bits < 2:
            raise ValueError("predictor_bits must be ≥ 2")
        bw.write(1, 1)
        bw.write(_PREDICTOR, 2)
        bw.write(predictor_bits - 2, 3)
        bs = 1 << predictor_bits
        tw = (xsize + bs - 1) >> predictor_bits
        th = (h + bs - 1) >> predictor_bits
        tiles = np.arange(tw * th, dtype=np.uint32)
        mode_img = (((tiles % 14)) << 8) | (0xFF << 24)
        _encode_image_stream(bw, mode_img.astype(np.uint32), tw, th, 0, False)
        modes = _predictor_mode_grid(xsize, h, predictor_bits, tw, mode_img)
        src = argb.astype(np.int64)
        res = np.zeros_like(src)
        for y in range(h):
            for x in range(xsize):
                i = y * xsize + x
                if y == 0 and x == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(src[i - 1])
                elif x == 0:
                    pred = int(src[i - xsize])
                else:
                    pred = _predict(
                        int(modes[y, x]),
                        int(src[i - 1]),
                        int(src[i - xsize]),
                        int(src[i - xsize - 1]),
                        int(src[i - xsize + 1]),
                    )
                res[i] = _sub_pixels(int(src[i]), pred)
        argb = res.astype(np.uint32)
    bw.write(0, 1)  # end of transforms
    _encode_image_stream(
        bw, argb, xsize, h, cache_bits, use_lz77, is_main=True, meta_bits=meta_bits
    )
    return riff_file(b"WEBP", riff_chunk(b"VP8L", b"\x2f" + bw.flush()))


def _sub_pixels(a: int, b: int) -> int:
    out = 0
    for sh in (24, 16, 8, 0):
        out |= ((((a >> sh) & 0xFF) - ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _encode_image_stream(
    bw: "_LsbWriter",
    argb: "np.ndarray",
    w: int,
    h: int,
    cache_bits: int,
    use_lz77: bool,
    is_main: bool = False,
    meta_bits: int = 0,
) -> None:
    """Entropy-code one image: tokenize (literals / distance-1 runs /
    cache hits), histogram, one complete prefix-code group, payload.
    ``meta_bits`` ≥ 2 (main image only) writes a tile-parity meta-prefix
    image selecting between two IDENTICAL groups — the emitted codes stay
    valid for every pixel while the decoder exercises group switching."""
    n = w * h
    cache_size = (1 << cache_bits) if cache_bits else 0
    tokens: list[tuple] = []
    green_hist: dict[int, int] = {}
    chan_hist: list[dict[int, int]] = [{}, {}, {}]  # red, blue, alpha
    dist_hist: dict[int, int] = {}
    cache = [None] * cache_size  # type: ignore[list-item]
    pos = 0
    while pos < n:
        px = int(argb[pos])
        if use_lz77 and pos > 0 and px == int(argb[pos - 1]):
            run = 1
            while pos + run < n and int(argb[pos + run]) == px and run < 4095:
                run += 1
            lcode, lextra, lebits = _prefix_encode_value(run)
            dcode, dextra, debits = _prefix_encode_value(1 + 120)
            tokens.append(("ref", lcode, lextra, lebits, dcode, dextra, debits))
            green_hist[256 + lcode] = green_hist.get(256 + lcode, 0) + 1
            dist_hist[dcode] = dist_hist.get(dcode, 0) + 1
            if cache_size:
                for _ in range(run):
                    cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            pos += run
            continue
        slot = (0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits) if cache_size else 0
        if cache_size and cache[slot] == px:
            tokens.append(("cache", slot))
            green_hist[280 + slot] = green_hist.get(280 + slot, 0) + 1
            pos += 1
            continue
        a = (px >> 24) & 0xFF
        r = (px >> 16) & 0xFF
        g = (px >> 8) & 0xFF
        bch = px & 0xFF
        tokens.append(("lit", g, r, bch, a))
        green_hist[g] = green_hist.get(g, 0) + 1
        chan_hist[0][r] = chan_hist[0].get(r, 0) + 1
        chan_hist[1][bch] = chan_hist[1].get(bch, 0) + 1
        chan_hist[2][a] = chan_hist[2].get(a, 0) + 1
        if cache_size:
            cache[slot] = px
        pos += 1
    # color cache flag
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    # the meta-prefix bit exists only on the main image — transform
    # sub-images go straight to their single code group
    n_groups = 1
    if is_main:
        if meta_bits:
            if meta_bits < 2:
                raise ValueError("meta_bits must be ≥ 2")
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            mw = (w + (1 << meta_bits) - 1) >> meta_bits
            mh = (h + (1 << meta_bits) - 1) >> meta_bits
            ys, xs = np.mgrid[0:mh, 0:mw]
            group = ((ys + xs) % 2).astype(np.uint32)
            # group index rides (red << 8) | green — here just green 0/1
            meta_img = (group << 8) | (np.uint32(0xFF) << 24)
            _encode_image_stream(bw, meta_img.reshape(-1), mw, mh, 0, False)
            # the DECODER counts groups from the meta image's max index —
            # a single-tile meta grid only declares one group
            n_groups = int(group.max()) + 1
        else:
            bw.write(0, 1)
    green_alpha = 256 + 24 + cache_size
    for gi in range(n_groups):
        gcodes = _write_prefix_code(
            bw,
            _complete_lengths(sorted(green_hist) or [0], green_alpha),
            green_alpha,
        )
        ccodes = [
            _write_prefix_code(bw, _complete_lengths(sorted(hist) or [0], 256), 256)
            for hist in chan_hist
        ]
        dcodes = _write_prefix_code(
            bw, _complete_lengths(sorted(dist_hist) or [0], 40), 40
        )
    for tok in tokens:
        if tok[0] == "lit":
            _, g, r, bch, a = tok
            _emit_symbol(bw, gcodes, g)
            _emit_symbol(bw, ccodes[0], r)
            _emit_symbol(bw, ccodes[1], bch)
            _emit_symbol(bw, ccodes[2], a)
        elif tok[0] == "ref":
            _, lcode, lextra, lebits, dcode, dextra, debits = tok
            _emit_symbol(bw, gcodes, 256 + lcode)
            if lebits:
                bw.write(lextra, lebits)
            _emit_symbol(bw, dcodes, dcode)
            if debits:
                bw.write(dextra, debits)
        else:
            _emit_symbol(bw, gcodes, 280 + tok[1])
