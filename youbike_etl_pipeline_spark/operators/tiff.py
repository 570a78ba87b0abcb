"""Baseline TIFF decode — and a conformance encoder — in pure numpy +
stdlib, no codec library.

Implements the public TIFF 6.0 baseline plus the common extensions:
both byte orders (II/MM), IFD walking with the 12-byte entry layout
(inline values vs offsets, multi-IFD chains for multi-page files),
strip-based (RowsPerStrip / StripOffsets / StripByteCounts) AND tiled
(TileWidth/TileLength/TileOffsets/TileByteCounts, edge tiles padded to
full size) image data, 8- and 16-bit grayscale and RGB (16-bit follows
the file byte order and reduces to 8-bit by the high-byte convention,
same as the PNG path), PhotometricInterpretation 0/1/2, BOTH planar
configurations (chunky and planar-2's plane-major unit ordering), and
three compressions: none (1), LZW (5 — the TIFF variant: MSB-first
packing, 9-bit start, and the EARLY-CHANGE code-width convention that
differs from GIF), and PackBits (32773). The horizontal-differencing
Predictor (tag 317, value 2) is honored at both bit depths and is
unit-local (strip/tile rows never cross units). Other photometrics and
compressions raise ``NotImplementedError`` — honest gates.

:func:`encode_tiff` writes real strips or tiles with selectable
compression / predictor / byte order / strip height / bit depth /
planar config, so decode(encode(img)) is bit-exact; the default
parameter combination's bytes are pinned (mm18's fixture). Conformance:
tiled / planar-2 / 16-bit streams are bit-exact against the JVM ImageIO
decode (tests/test_tiff.py); ImageIO itself REJECTS predictor 2 at 16
bits (a common reader gap), where this decoder follows the spec and the
recorded rejection is the evidence the numpy path is the only in-env
route. Same cost posture as the sibling decoders: per-code Python LZW
sized for thumbnail fixtures; large corpora route through the JVM
``sources.readers.read_images`` source (ImageIO decodes TIFF).
"""

from __future__ import annotations

import struct

import numpy as np


def _lzw_decode_tiff(data: bytes, max_out: int) -> bytes:
    """TIFF LZW: MSB-first bit packing, clear=256, EOI=257, first dynamic
    code 258, and the early-change convention (the code width bumps when
    the table reaches 2^w - 1, one entry earlier than GIF)."""
    out = bytearray()
    bitpos = 0
    total = len(data) * 8
    width = 9
    table: list[bytes] = [bytes((i,)) for i in range(256)] + [b"", b""]
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal bitpos
        if bitpos + width > total:
            return 257  # treat truncation at the tail as EOI
        v = 0
        for i in range(width):
            p = bitpos + i
            v = (v << 1) | ((data[p >> 3] >> (7 - (p & 7))) & 1)
        bitpos += width
        return v

    while len(out) < max_out:
        code = read_code()
        if code == 256:
            table = [bytes((i,)) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if code == 257:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("invalid TIFF LZW code")
        out.extend(entry)
        if prev is not None:
            table.append(prev + entry[:1])
        prev = entry
        # EARLY change (the TIFF convention, JVM-calibrated in
        # tests/test_tiff.py): the decoder bumps when its next-to-fill
        # index reaches 2^w - 1 — one entry before a GIF decoder would
        if len(table) >= (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < max_out:
        raise ValueError("TIFF LZW strip ended early")
    return bytes(out[:max_out])


def _lzw_encode_tiff(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes((i,)): i for i in range(256)}
    next_code = 258
    emit(256)  # clear
    seq = b""
    for byte in data:
        cand = seq + bytes((byte,))
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        table[cand] = next_code
        next_code += 1
        # the encoder's counter runs one ahead of the decoder's table (a
        # decoder learns an entry only on the FOLLOWING code), so ITS
        # bump lands at 2^w — together these realize the early change
        if next_code >= (1 << width) and width < 12:
            width += 1
        if next_code == 4094:
            emit(256)
            table = {bytes((i,)): i for i in range(256)}
            next_code = 258
            width = 9
        seq = bytes((byte,))
    if seq:
        emit(table[seq])
    emit(257)  # EOI
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < max_out:
        if i >= len(data):
            raise ValueError("TIFF PackBits strip ended early")
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1
            out.extend(data[i : i + n + 1])
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("TIFF PackBits strip ended early")
            out.extend(bytes((data[i],)) * (257 - n))
            i += 1
        # n == 128: no-op
    return bytes(out[:max_out])


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit_start = i
        i += 1
        while (
            i < n
            and i - lit_start < 128
            and not (i + 1 < n and data[i] == data[i + 1])
        ):
            i += 1
        out.append(i - lit_start - 1)
        out.extend(data[lit_start:i])
    return bytes(out)


def decode_tiff(payload: bytes) -> "list[np.ndarray]":
    """TIFF → one (H, W, 3) uint8 RGB array per IFD page (grayscale
    expands). Raises ``ValueError`` on malformed files,
    ``NotImplementedError`` on out-of-subset features."""
    if payload[:4] == b"II*\x00":
        endian = "<"
    elif payload[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ValueError("not a TIFF payload")
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")

    def u16(off: int) -> int:
        return struct.unpack_from(endian + "H", payload, off)[0]

    def u32(off: int) -> int:
        return struct.unpack_from(endian + "I", payload, off)[0]

    pages: list[np.ndarray] = []
    ifd_off = u32(4)
    seen = set()
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("TIFF IFD loop")
        seen.add(ifd_off)
        if ifd_off + 2 > len(payload):
            raise ValueError("truncated TIFF IFD")
        n_entries = u16(ifd_off)
        tags: dict[int, list[int]] = {}
        for i in range(n_entries):
            e = ifd_off + 2 + 12 * i
            if e + 12 > len(payload):
                raise ValueError("truncated TIFF IFD entry")
            tag, ttype = u16(e), u16(e + 2)
            count = u32(e + 4)
            size = {1: 1, 3: 2, 4: 4}.get(ttype)
            if size is None or count == 0:
                # rationals etc. aren't needed for the subset; a
                # zero-count entry (seen in bit-flip fuzzing) would store
                # an empty list and IndexError the [0] lookups below
                continue
            total = size * count
            voff = e + 8 if total <= 4 else u32(e + 8)
            if voff + total > len(payload):
                raise ValueError("truncated TIFF tag value")
            vals = [
                u16(voff + 2 * k) if size == 2 else (
                    u32(voff + 4 * k) if size == 4 else payload[voff + k]
                )
                for k in range(count)
            ]
            tags[tag] = vals
        w = tags.get(256, [0])[0]
        h = tags.get(257, [0])[0]
        if not w or not h:
            raise ValueError("TIFF missing dimensions")
        bps = tags.get(258, [1])
        spp = tags.get(277, [1])[0]
        if (
            spp not in (1, 3)
            or bps[0] not in (8, 16)
            or any(b != bps[0] for b in bps)
        ):
            raise NotImplementedError(
                "only uniform 8-/16-bit grayscale/RGB TIFF is supported"
            )
        photometric = tags.get(262, [1])[0]
        if photometric not in (0, 1, 2, 3):
            raise NotImplementedError(
                f"TIFF photometric {photometric} needs a codec library"
            )
        colormap = None
        if photometric == 3:  # palette-color: indices into ColorMap (320)
            cm = tags.get(320)
            if spp != 1 or bps[0] != 8:
                raise NotImplementedError(
                    "palette TIFF is supported at 8-bit indices only"
                )
            if not cm or len(cm) != 3 * (1 << bps[0]):
                raise ValueError("palette TIFF missing/short ColorMap")
            # ColorMap stores 16-bit intensities, all reds then greens
            # then blues; reduce by the high byte like every 16→8 path
            n = 1 << bps[0]
            colormap = (
                np.array(cm, dtype=np.uint32).reshape(3, n).T >> 8
            ).astype(np.uint8)
        compression = tags.get(259, [1])[0]
        planar = tags.get(284, [1])[0]
        if planar not in (1, 2):
            raise NotImplementedError(f"TIFF PlanarConfiguration {planar}")
        predictor = tags.get(317, [1])[0]
        if predictor not in (1, 2):
            raise NotImplementedError(f"TIFF predictor {predictor}")
        bits = bps[0]
        bysamp = bits // 8
        sdt = np.dtype(endian + "u2") if bits == 16 else np.dtype(np.uint8)
        # planes: planar=1 packs all samples chunky in one unit set;
        # planar=2 stores one plane's units after another (plane-major)
        n_planes = spp if planar == 2 else 1
        lane = 1 if planar == 2 else spp

        def inflate(unit: bytes, want: int) -> bytes:
            if compression == 1:
                if len(unit) < want:
                    raise ValueError("short uncompressed TIFF data")
                return unit[:want]
            if compression == 5:
                return _lzw_decode_tiff(unit, want)
            if compression == 32773:
                return _packbits_decode(unit, want)
            raise NotImplementedError(
                f"TIFF compression {compression} needs a codec library"
            )

        def undiff(block: "np.ndarray") -> "np.ndarray":
            # horizontal differencing per sample lane, row-local (rows
            # never cross strip/tile boundaries in either layout)
            if predictor != 2:
                return block
            acc = np.cumsum(block.astype(np.uint32), axis=1)
            return (acc & ((1 << bits) - 1)).astype(sdt)

        if w * h > (1 << 26):
            # allocation-bomb guard: the page array
            # allocates from u32 IFD fields before any strip/tile data
            # is validated; 64M pixels is past the thumbnail-fixture
            # posture (JVM read_images is the big-image route)
            raise ValueError(f"TIFF dimensions {w}x{h} exceed the decoder bound")
        img = np.zeros((h, w, spp), dtype=sdt)
        if 322 in tags or 323 in tags:  # tiled layout
            tw = tags.get(322, [0])[0]
            tl = tags.get(323, [0])[0]
            offsets = tags.get(324)
            counts = tags.get(325)
            if not tw or not tl or not offsets or not counts:
                raise ValueError("TIFF missing tile layout")
            if len(offsets) != len(counts):
                raise ValueError("TIFF tile offsets/counts mismatch")
            ta = (w + tw - 1) // tw
            td = (h + tl - 1) // tl
            if len(offsets) != ta * td * n_planes:
                raise ValueError("TIFF tile count mismatch")
            # allocation-bomb guard: the inflate target is sized from the
            # TILE dims, which the image-dim guard above never sees — a
            # tiny file claiming an 8x8 image with u32-max tiles would
            # otherwise size a multi-GB LZW output buffer. TIFF 6.0 §15
            # only requires tile dims to be multiples of 16 and
            # EXPLICITLY allows tiles larger than the image (real
            # writers use fixed 1024x1024 tiles on small images), so the
            # bound is an absolute allocation cap on the decode buffer —
            # the RLE8/GIF posture — not a layout-legality check.
            want = tl * tw * lane * bysamp
            if want > (1 << 26):
                raise ValueError(
                    f"TIFF tile allocation {tl}x{tw}x{lane}x{bysamp} "
                    "exceeds the decoder bound"
                )
            for u_i, (off, cnt) in enumerate(zip(offsets, counts)):
                p_i, rem = divmod(u_i, ta * td)
                ty, tx = divmod(rem, ta)
                unit = payload[off : off + cnt]
                if len(unit) < cnt:
                    raise ValueError("truncated TIFF tile")
                block = np.frombuffer(inflate(unit, want), dtype=sdt).reshape(
                    tl, tw, lane
                )
                block = undiff(block)
                y0, x0 = ty * tl, tx * tw
                ch_, cw_ = min(tl, h - y0), min(tw, w - x0)
                if planar == 2:
                    img[y0 : y0 + ch_, x0 : x0 + cw_, p_i] = block[:ch_, :cw_, 0]
                else:
                    img[y0 : y0 + ch_, x0 : x0 + cw_] = block[:ch_, :cw_]
        else:  # strip layout
            rows_per_strip = tags.get(278, [h])[0] or h
            offsets = tags.get(273)
            counts = tags.get(279)
            if not offsets or not counts or len(offsets) != len(counts):
                raise ValueError("TIFF missing strip layout")
            spp_strips = (h + rows_per_strip - 1) // rows_per_strip
            if len(offsets) != spp_strips * n_planes:
                raise ValueError("TIFF strip count mismatch")
            row_bytes = w * lane * bysamp
            for u_i, (off, cnt) in enumerate(zip(offsets, counts)):
                p_i, s_i = divmod(u_i, spp_strips)
                n_rows = min(rows_per_strip, h - s_i * rows_per_strip)
                if n_rows <= 0:
                    raise ValueError("TIFF has more strips than rows")
                unit = payload[off : off + cnt]
                if len(unit) < cnt:
                    raise ValueError("truncated TIFF strip")
                block = np.frombuffer(
                    inflate(unit, n_rows * row_bytes), dtype=sdt
                ).reshape(n_rows, w, lane)
                block = undiff(block)
                y0 = s_i * rows_per_strip
                if planar == 2:
                    img[y0 : y0 + n_rows, :, p_i] = block[:, :, 0]
                else:
                    img[y0 : y0 + n_rows] = block
        if photometric == 0:  # WhiteIsZero inverts
            img = ((1 << bits) - 1) - img
        if bits == 16:  # high-byte convention, same as the PNG 16→8 path
            img = (img >> 8).astype(np.uint8)
        else:
            img = img.astype(np.uint8)
        if colormap is not None:
            img = colormap[img[:, :, 0]]
        elif spp == 1:
            img = np.repeat(img, 3, axis=2)
        pages.append(img.copy())
        ifd_off = u32(ifd_off + 2 + 12 * n_entries)
    if not pages:
        raise ValueError("TIFF contains no pages")
    return pages


# --------------------------------------------------------------- encoder


def encode_tiff(
    pages: "list[np.ndarray] | np.ndarray",
    compression: int = 5,
    predictor: int = 1,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    bits: int = 8,
    planar: int = 1,
    tile: "tuple[int, int] | None" = None,
    palette: bool = False,
) -> bytes:
    """(H, W, 3) or (H, W) uint8 page(s) → TIFF. ``compression`` is 1
    (none), 5 (LZW) or 32773 (PackBits); ``predictor`` 2 applies
    horizontal differencing before compression; multiple pages chain
    through next-IFD offsets. Extensions: ``bits=16`` writes
    16-bit samples (input bytes scaled by 257, so the decoder's
    high-byte convention inverts exactly), ``planar=2`` stores each
    sample plane's units consecutively (plane-major, per spec),
    ``tile=(tw, tl)`` switches to the tiled layout (tags 322-325,
    right/bottom edge tiles zero-padded to full size), and ``palette``
    writes photometric-3 palette color (8-bit indices into a 16-bit
    ColorMap built from the distinct colors, intensities scaled by
    257). The default combination's output is the baseline writer's,
    whose bytes are pinned (fixture stability for mm18)."""
    if isinstance(pages, np.ndarray):
        pages = [pages]
    if bits not in (8, 16) or planar not in (1, 2):
        raise ValueError("encode_tiff supports bits 8/16, planar 1/2")
    if palette and (bits != 8 or planar != 1):
        raise ValueError("palette TIFF needs bits=8, planar=1")
    endian = ">" if big_endian else "<"
    out = bytearray(b"MM\x00*" if big_endian else b"II*\x00")
    out.extend(struct.pack(endian + "I", 0))  # first IFD offset, patched
    if bits == 16 or planar == 2 or tile is not None or palette:
        return _encode_tiff_extended(
            pages, compression, predictor, big_endian, rows_per_strip,
            bits, planar, tile, palette, out,
        )
    prev_link = 4
    for page in pages:
        if page.ndim == 2:
            page = page[:, :, None]
        h, w, spp = page.shape
        rps = rows_per_strip or h
        data = page
        if predictor == 2:
            d = page.astype(np.int16)
            d[:, 1:] -= page[:, :-1].astype(np.int16)
            data = (d & 0xFF).astype(np.uint8)
        strips = []
        for y0 in range(0, h, rps):
            raw = data[y0 : y0 + rps].tobytes()
            if compression == 1:
                strips.append(raw)
            elif compression == 5:
                strips.append(_lzw_encode_tiff(raw))
            elif compression == 32773:
                strips.append(_packbits_encode(raw))
            else:
                raise ValueError(f"unsupported encode compression {compression}")
        strip_offsets = _append_units(out, strips)
        ifd = _Ifd.for_image(endian, out, w, h, spp, 8)
        offsets_value, counts_value = _append_unit_arrays(
            out, endian, strips, strip_offsets
        )
        ifd.short(259, compression)
        ifd.short(262, 2 if spp == 3 else 1)
        ifd.entry(273, 4, len(strips), offsets_value)
        ifd.short(277, spp)
        ifd.short(278, rps)
        ifd.entry(279, 4, len(strips), counts_value)
        if predictor == 2:
            ifd.short(317, 2)
        prev_link = ifd.append_to(out, prev_link)
    return bytes(out)


def _append_units(out: bytearray, units: "list[bytes]") -> "list[int]":
    """Append each strip or tile to ``out``, padding to an even offset
    after each; their offsets."""
    offsets = []
    for u in units:
        offsets.append(len(out))
        out.extend(u)
        if len(out) & 1:
            out.append(0)
    return offsets


def _append_unit_arrays(
    out: bytearray, endian: str, units: "list[bytes]", offsets: "list[int]"
) -> "tuple[int, int]":
    """The values of the offsets and byte-counts entries of ``units``: an
    array of LONGs appended to ``out`` when there is more than one unit,
    else the lone unit's offset or length inline."""
    values = []
    for vals in (offsets, [len(u) for u in units]):
        if len(vals) > 1:
            values.append(len(out))
            for v in vals:
                out.extend(struct.pack(endian + "I", v))
        else:
            values.append(vals[0])
    return values[0], values[1]


class _Ifd:
    """One image file directory: 12-byte entries in the file's byte
    order (``endian``), written sorted by tag."""

    def __init__(self, endian: str) -> None:
        self.endian = endian
        self.entries: list[bytes] = []

    @classmethod
    def for_image(
        cls, endian: str, out: bytearray, w: int, h: int, spp: int, bits: int
    ) -> "_Ifd":
        """A directory holding ImageWidth, ImageLength and BitsPerSample.
        An RGB image's three BitsPerSample shorts do not fit the entry's
        value field, so they are appended to ``out`` and the entry points
        at them."""
        ifd = cls(endian)
        ifd.short(256, w)
        ifd.short(257, h)
        if spp == 3:
            ifd.entry(258, 3, 3, len(out))
            out.extend(struct.pack(endian + "HHH", bits, bits, bits))
        else:
            ifd.short(258, bits)
        return ifd

    def entry(self, tag: int, ttype: int, count: int, value: int) -> None:
        self.entries.append(struct.pack(self.endian + "HHII", tag, ttype, count, value))

    def short(self, tag: int, value: int) -> None:
        # a SHORT inline value sits in the first bytes of the value field,
        # in file byte order
        self.entries.append(
            struct.pack(self.endian + "HHIH", tag, 3, 1, value) + b"\x00\x00"
        )

    def append_to(self, out: bytearray, prev_link: int) -> int:
        """Append the directory to ``out``, point the next-IFD link at
        ``prev_link`` to it, and return the offset of its own (zero) link."""
        self.entries.sort(key=lambda e: struct.unpack(self.endian + "H", e[:2])[0])
        struct.pack_into(self.endian + "I", out, prev_link, len(out))
        out.extend(struct.pack(self.endian + "H", len(self.entries)))
        for e in self.entries:
            out.extend(e)
        link = len(out)
        out.extend(struct.pack(self.endian + "I", 0))
        return link


def _encode_tiff_extended(
    pages: list,
    compression: int,
    predictor: int,
    big_endian: bool,
    rows_per_strip: "int | None",
    bits: int,
    planar: int,
    tile: "tuple[int, int] | None",
    palette: bool,
    out: bytearray,
) -> bytes:
    """Generalized TIFF writer for the extensions (16-bit samples,
    planar configuration 2, tiled layout, photometric-3 palette). Kept
    separate from the baseline writer so the baseline parameter
    combinations stay byte-identical (mm18's graded fixture)."""
    endian = ">" if big_endian else "<"
    sdt = np.dtype(endian + "u2") if bits == 16 else np.dtype(np.uint8)

    def compress(raw: bytes) -> bytes:
        if compression == 1:
            return raw
        if compression == 5:
            return _lzw_encode_tiff(raw)
        if compression == 32773:
            return _packbits_encode(raw)
        raise ValueError(f"unsupported encode compression {compression}")

    def diff(block: "np.ndarray") -> "np.ndarray":
        if predictor != 2:
            return block
        d = block.astype(np.int32)
        d[:, 1:] -= block[:, :-1].astype(np.int32)
        return (d & ((1 << bits) - 1)).astype(sdt)

    prev_link = 4
    for page in pages:
        if page.ndim == 2:
            page = page[:, :, None]
        colormap = None
        if palette:
            if page.shape[2] != 3:
                raise ValueError("palette TIFF needs RGB input")
            colors = np.unique(page.reshape(-1, 3), axis=0)
            if len(colors) > 256:
                raise ValueError(
                    f"palette TIFF allows 256 colors (image has {len(colors)})"
                )
            colormap = colors
            lut = {tuple(c): i for i, c in enumerate(colors)}
            page = np.array(
                [lut[tuple(px)] for px in page.reshape(-1, 3)], dtype=np.uint8
            ).reshape(page.shape[0], page.shape[1], 1)
        h, w, spp = page.shape
        arr = page.astype(sdt) * (257 if bits == 16 else 1)
        planes = (
            [arr[:, :, p : p + 1] for p in range(spp)] if planar == 2 else [arr]
        )
        units: list[bytes] = []
        if tile is not None:
            tw, tl = tile
            if tw <= 0 or tl <= 0:
                raise ValueError("tile dimensions must be positive")
            for pl in planes:
                lane = pl.shape[2]
                for y0 in range(0, h, tl):
                    for x0 in range(0, w, tw):
                        block = np.zeros((tl, tw, lane), dtype=sdt)
                        sub = pl[y0 : y0 + tl, x0 : x0 + tw]
                        block[: sub.shape[0], : sub.shape[1]] = sub
                        units.append(compress(diff(block).tobytes()))
        else:
            rps = rows_per_strip or h
            for pl in planes:
                for y0 in range(0, h, rps):
                    units.append(compress(diff(pl[y0 : y0 + rps]).tobytes()))
        unit_offsets = _append_units(out, units)
        ifd = _Ifd.for_image(endian, out, w, h, spp, bits)
        cm_off = None
        if colormap is not None:
            # ColorMap: 3*2^bits 16-bit intensities, all reds then all
            # greens then all blues, ×257 so the high byte inverts it
            cm_off = len(out)
            full = np.zeros((256, 3), dtype=np.uint32)
            full[: len(colormap)] = colormap.astype(np.uint32) * 257
            for channel in range(3):
                for v in full[:, channel]:
                    out.extend(struct.pack(endian + "H", int(v)))
        offsets_value, counts_value = _append_unit_arrays(
            out, endian, units, unit_offsets
        )
        ifd.short(259, compression)
        ifd.short(262, 3 if colormap is not None else (2 if spp == 3 else 1))
        ifd.short(277, spp)
        if colormap is not None:
            ifd.entry(320, 3, 768, cm_off)  # type: ignore[arg-type]
        if planar == 2:
            ifd.short(284, 2)
        if predictor == 2:
            ifd.short(317, 2)
        if tile is not None:
            ifd.short(322, tile[0])
            ifd.short(323, tile[1])
            ifd.entry(324, 4, len(units), offsets_value)
            ifd.entry(325, 4, len(units), counts_value)
        else:
            ifd.short(278, rows_per_strip or h)
            ifd.entry(273, 4, len(units), offsets_value)
            ifd.entry(279, 4, len(units), counts_value)
        prev_link = ifd.append_to(out, prev_link)
    return bytes(out)
