"""GIF (87a/89a) decode — and a conformance encoder — in pure numpy +
stdlib, no codec library.

Implements the public GIF specification: logical screen descriptor,
global/local color tables, the variable-width LSB-first LZW decompressor
(3-12 bit codes, clear/EOI handling, dictionary growth with the deferred
code-width increase, 4096-entry cap), 4-pass interlacing, graphic control
extensions (transparency composites the current canvas; disposal methods
0-3 honored — restore-to-background uses the logical-screen background
color, the canvas's start state too; reserved 4-7 raise), and
multi-frame streams with frame offsets.
:func:`encode_gif` writes real LZW (dictionary growth and clear codes
exercised, optional interlace, optional per-frame local palettes), so
decode(encode(img)) is bit-exact — GIF is palette-lossless with zero
rounding latitude.

Cost posture: LZW decode is per-code Python over small dictionaries,
sized for thumbnail fixtures and audit paths (the same posture as the
JPEG/PNG/VP8L decoders in this package); large binary-column corpora
should route through the JVM ``sources.readers.read_images`` source,
which ImageIO serves for GIF.
"""

from __future__ import annotations

import struct

import numpy as np

#: 4-pass interlace: (start row, step) per pass
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> "np.ndarray":
    """GIF LZW: variable-width codes packed LSB-first. Returns exactly
    ``n_pixels`` palette indices (uint8)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bitpos = 0
    total_bits = len(data) * 8

    def read_code(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > total_bits:
            raise ValueError("truncated GIF LZW stream")
        v = 0
        for i in range(width):
            byte_i, bit_i = divmod(bitpos + i, 8)
            v |= ((data[byte_i] >> bit_i) & 1) << i
        bitpos += width
        return v

    out = np.zeros(n_pixels, dtype=np.uint8)
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = [bytes((i,)) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    while pos < n_pixels:
        code = read_code(width)
        if code == clear:
            table = [bytes((i,)) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("invalid GIF LZW code")
        take = min(len(entry), n_pixels - pos)
        out[pos : pos + take] = np.frombuffer(entry[:take], dtype=np.uint8)
        pos += take
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        prev = entry
        # width grows when the NEXT code could exceed the current width;
        # at 4096 entries the width is pinned (deferred-clear convention)
        if len(table) == (1 << width) and width < 12:
            width += 1
    if pos < n_pixels:
        raise ValueError("GIF LZW stream ended before the frame was full")
    return out


def _deinterlace(idx: "np.ndarray", w: int, h: int) -> "np.ndarray":
    rows = np.zeros((h, w), dtype=np.uint8)
    src = idx.reshape(h, w)
    i = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            rows[y] = src[i]
            i += 1
    return rows


def decode_gif(payload: bytes) -> list["np.ndarray"]:
    """GIF → list of (H, W, 3) uint8 RGB frames, composited per the
    GIF89a graphic-control semantics: transparency reads the current
    canvas, and the DISPOSAL method (GCE bits 2-4) is honored — 0/1
    leave the frame, 2 restores the frame's region to the
    logical-screen background color, 3 restores the pre-draw canvas;
    reserved methods 4-7 raise. The canvas starts as the background
    color (GCT entry named by the logical screen descriptor; zeros when
    there is no GCT), so first-frame transparency shows the background
    rather than black. Note: returning RGB means disposal-2 regions are
    the spec's literal background COLOR; renderers that treat them as
    transparent (browser convention) have no RGB equivalent here.
    Raises ``ValueError`` on malformed payloads."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    w, h, packed, bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(payload[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        if len(gct) < n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    if w * h > (1 << 26):
        # allocation-bomb guard: the canvas allocates
        # from HEADER fields before any pixel data is validated — a
        # 30-byte file claiming 65535x65535 would otherwise grab ~13 GB
        # on an executor. 64M pixels is far past the thumbnail-fixture
        # posture; larger corpora route through the JVM read_images
        # source.
        raise ValueError(f"GIF dimensions {w}x{h} exceed the decoder bound")
    frames: list[np.ndarray] = []
    bg_rgb = (
        gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).astype(np.uint8).copy()
    transparent: int | None = None
    disposal = 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos]
            pos += 1
            subs = []
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated GIF extension")
                size = payload[pos]
                pos += 1
                if size == 0:
                    break
                subs.append(payload[pos : pos + size])
                pos += size
            if label == 0xF9 and subs:  # graphic control
                gce = subs[0]
                transparent = gce[3] if len(gce) >= 4 and gce[0] & 1 else None
                disposal = (gce[0] >> 2) & 7
                if disposal > 3:
                    raise NotImplementedError(
                        f"reserved GIF disposal method {disposal}"
                    )
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        if pos + 9 > len(payload):
            raise ValueError("truncated GIF image descriptor")
        left, top, fw, fh, fpacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        ct = gct
        if fpacked & 0x80:  # local color table
            n = 2 << (fpacked & 7)
            ct = np.frombuffer(
                payload[pos : pos + 3 * n], dtype=np.uint8
            ).reshape(-1, 3)
            if len(ct) < n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF frame has no color table")
        if pos >= len(payload):
            raise ValueError("truncated GIF image data")
        min_code_size = payload[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(f"invalid GIF LZW minimum code size {min_code_size}")
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("truncated GIF image data")
            size = payload[pos]
            pos += 1
            if size == 0:
                break
            data.extend(payload[pos : pos + size])
            pos += size
        idx = _lzw_decode(min_code_size, bytes(data), fw * fh)
        if fpacked & 0x40:
            idx2d = _deinterlace(idx, fw, fh)
        else:
            idx2d = idx.reshape(fh, fw)
        if int(idx2d.max()) >= len(ct):
            raise ValueError("GIF pixel index outside the color table")
        region = canvas[top : top + fh, left : left + fw]
        saved = region.copy() if disposal == 3 else None
        rgb = ct[idx2d]
        if transparent is not None and transparent < len(ct):
            mask = (idx2d == transparent)[:, :, None]
            rgb = np.where(mask, region, rgb)
        canvas[top : top + fh, left : left + fw] = rgb
        # amplification guard: each frame snapshots the
        # FULL canvas, so a canvas near the w*h bound plus many ~20-byte
        # 1x1 frame blocks would allocate ~canvas-size per frame from a
        # few KB of input; bound total decoded pixels, not just the canvas
        if (len(frames) + 1) * w * h > (1 << 26):
            raise ValueError(
                f"GIF total decoded frame pixels exceed the bound "
                f"({len(frames) + 1} frames of {w}x{h})"
            )
        frames.append(canvas.copy())
        # disposal applies AFTER its frame is displayed, preparing the
        # canvas the NEXT frame composites over
        if disposal == 2:
            canvas[top : top + fh, left : left + fw] = bg_rgb
        elif disposal == 3:
            canvas[top : top + fh, left : left + fw] = saved
        transparent, disposal = None, 0
    if not frames:
        raise ValueError("GIF contains no image frames")
    return frames


# --------------------------------------------------------------- encoder


def _lzw_encode(min_code_size: int, indices: "np.ndarray") -> bytes:
    """Real GIF LZW (dictionary growth, width increases, clear at 4096):
    the conformance counterpart of :func:`_lzw_decode`."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[bytes, int] = {bytes((i,)): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    seq = b""
    for v in indices.astype(np.uint8).tobytes():
        cand = seq + bytes((v,))
        if cand in table:
            seq = cand
            continue
        emit(table[seq], width)
        if next_code < 4096:
            table[cand] = next_code
            # the encoder grows width as soon as next_code needs it
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {bytes((i,)): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        seq = bytes((v,))
    if seq:
        emit(table[seq], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    frames: "list[np.ndarray] | np.ndarray",
    interlace: bool = False,
    local_palettes: bool = False,
    transparent_runs: bool = False,
    disposal: "int | list[int] | tuple[int, ...]" = 0,
) -> bytes:
    """(H, W, 3) uint8 frame(s) → GIF89a. The palette is built from the
    distinct colors (≤256 required — the md5 fixtures' pixel count bounds
    this). ``interlace`` writes 4-pass rows; ``local_palettes`` gives
    every frame its own color table instead of a global one;
    ``transparent_runs`` declares a transparency index and substitutes
    it wherever a pixel equals the CANVAS the decoder will composite
    over (the standard delta-frame trick) — the encoder simulates the
    decoder's canvas, including the background-color start state and
    per-frame ``disposal`` (0/1 keep, 2 restore-to-background, 3
    restore-to-previous; scalar or one per frame), so
    decode(encode(frames)) is bit-exact for every disposal mix."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    h, w, _ = frames[0].shape
    disposals = (
        [int(disposal)] * len(frames)
        if isinstance(disposal, int)
        else [int(d) for d in disposal]
    )
    if len(disposals) != len(frames) or any(not 0 <= d <= 3 for d in disposals):
        raise ValueError("disposal must be 0-3, scalar or one per frame")

    def palette_of(imgs: list) -> tuple[np.ndarray, int]:
        flat = np.concatenate([f.reshape(-1, 3) for f in imgs])
        colors = np.unique(flat, axis=0)
        if len(colors) > 255:  # reserve one slot for the transparent index
            raise ValueError("encode_gif needs ≤255 distinct colors")
        bits = max(2, int(len(colors)).bit_length())
        size = 1 << bits
        ct = np.zeros((size, 3), dtype=np.uint8)
        ct[: len(colors)] = colors
        return ct, bits

    out = bytearray(b"GIF89a")
    gct, gbits = (None, 0) if local_palettes else palette_of(frames)
    packed = (0x80 | ((gbits - 1) & 7)) if gct is not None else 0
    out.extend(struct.pack("<HHBBB", w, h, packed, 0, 0))
    if gct is not None:
        out.extend(gct.tobytes())
    # mirror of the decoder's canvas state: background-color start (GCT
    # entry 0 — the LSD background byte written above), disposal applied
    # after each frame; deltas are computed against THIS, not the raw
    # previous frame, so disposal 2/3 change the masks and the round
    # trip proves the compositing
    bg_rgb = gct[0] if gct is not None else np.zeros(3, np.uint8)
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).astype(np.uint8).copy()
    for f_i, frame in enumerate(frames):
        ct, bits = (palette_of([frame]) if local_palettes else (gct, gbits))
        lut = {tuple(c): i for i, c in enumerate(ct)}
        idx = np.array(
            [lut[tuple(px)] for px in frame.reshape(-1, 3)], dtype=np.uint8
        ).reshape(h, w)
        t_index = None
        if transparent_runs:
            t_index = (1 << bits) - 1  # the reserved slack slot
            same = (frame == canvas).all(axis=2)
            idx = np.where(same, np.uint8(t_index), idx)
        if t_index is not None or disposals[f_i]:
            flags = (disposals[f_i] << 2) | (1 if t_index is not None else 0)
            out.extend(
                b"\x21\xf9\x04" + bytes((flags, 0, 0, t_index or 0)) + b"\x00"
            )
        if interlace:
            rows = []
            for start, step in _INTERLACE_PASSES:
                rows.extend(range(start, h, step))
            idx_out = idx[rows]
        else:
            idx_out = idx
        fpacked = (0x40 if interlace else 0) | (
            (0x80 | ((bits - 1) & 7)) if local_palettes else 0
        )
        out.extend(struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, fpacked))
        if local_palettes:
            out.extend(ct.tobytes())
        min_code_size = max(2, bits)
        out.append(min_code_size)
        lzw = _lzw_encode(min_code_size, idx_out.reshape(-1))
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out.extend(chunk)
        out.append(0)
        prev_canvas = canvas.copy()
        canvas = frame.astype(np.uint8).copy()
        if disposals[f_i] == 2:
            canvas[:] = bg_rgb
        elif disposals[f_i] == 3:
            canvas = prev_canvas
    out.append(0x3B)
    return bytes(out)
