"""FLAC decode — and a conformance encoder — in pure numpy + stdlib, no
codec library.

Implements the public FLAC format specification (the free lossless audio
codec): STREAMINFO metadata, byte-aligned frames with CRC-8-verified
headers and CRC-16-verified bodies, the UTF-8-style coded frame number,
all four subframe types (CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders
1-32 with quantized coefficients and arithmetic shift), Rice-coded
residuals in 2^k partitions (both 4- and 5-bit parameter methods, escape
partitions included), wasted-bits shifting, and the three stereo
decorrelation modes (left/side, right/side, mid/side — the side channel
carries one extra bit). The STREAMINFO MD5 of the decoded PCM is verified
when present, so a full-file decode carries its own integrity proof.

:func:`encode_flac` writes a spec-subset stream (16-bit, one or more
fixed-size frames, selectable subframe strategy / stereo mode / partition
order / escapes) so decode(encode(x)) is bit-exact — FLAC is lossless
with zero rounding latitude.

Cost posture: per-sample Python Rice decode, sized for thumbnail
fixtures and audit paths (the same posture as the JPEG/PNG/VP8L/GIF
decoders in this package). No audio codec exists in this environment
(ImageIO is image-only), so for FLAC payload columns this decoder IS the
route.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

#: frame-header sample rate table (code 0 defers to STREAMINFO; 12-14 read
#: explicit fields; 15 is invalid)
_RATE_TABLE = (
    None, 88200, 176400, 192000, 8000, 16000, 22050, 24000,
    32000, 44100, 48000, 96000,
)
#: frame-header sample size table (None ⇒ STREAMINFO / reserved)
_BPS_TABLE = (None, 8, 12, None, 16, 20, 24, None)

_FIXED_COEFFS = (
    (),
    (1,),
    (2, -1),
    (3, -3, 1),
    (4, -6, 4, -1),
)


def _crc_table(poly: int, width: int) -> "np.ndarray":
    table = np.zeros(256, dtype=np.uint32)
    top = 1 << (width - 1)
    mask = (1 << width) - 1
    for i in range(256):
        crc = i << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) if crc & top else (crc << 1)
        table[i] = crc & mask
    return table


_CRC8_TABLE = _crc_table(0x07, 8)
_CRC16_TABLE = _crc_table(0x8005, 16)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = int(_CRC8_TABLE[crc ^ b])
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ int(_CRC16_TABLE[(crc >> 8) ^ b])
    return crc


class _MsbReader:
    """MSB-first bit reader over a byte buffer (FLAC's packing order)."""

    def __init__(self, data: bytes, byte_pos: int = 0) -> None:
        self.data = data
        self.pos = byte_pos * 8

    def bits(self, n: int) -> int:
        if self.pos + n > len(self.data) * 8:
            raise ValueError("truncated FLAC bitstream")
        v = 0
        pos = self.pos
        for _ in range(n):
            v = (v << 1) | ((self.data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return v

    def signed(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway FLAC unary code")
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


def _read_coded_number(br: "_MsbReader") -> int:
    """The UTF-8-style variable-length frame/sample number (1-7 bytes)."""
    b0 = br.bits(8)
    if b0 < 0x80:
        return b0
    n_extra = 0
    mask = 0x40
    while b0 & mask:
        n_extra += 1
        mask >>= 1
    if n_extra == 0 or n_extra > 6:
        raise ValueError("invalid FLAC coded number")
    v = b0 & (mask - 1)
    for _ in range(n_extra):
        b = br.bits(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("invalid FLAC coded number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


def _read_residual(br: "_MsbReader", blocksize: int, order: int) -> list[int]:
    method = br.bits(2)
    if method > 1:
        raise ValueError("reserved FLAC residual method")
    plen = 4 + method  # rice parameter width
    escape = (1 << plen) - 1
    porder = br.bits(4)
    nparts = 1 << porder
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide the block size")
    out: list[int] = []
    for p in range(nparts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC partition shorter than predictor order")
        k = br.bits(plen)
        if k == escape:  # raw partition
            raw_bits = br.bits(5)
            for _ in range(n):
                out.append(br.signed(raw_bits) if raw_bits else 0)
            continue
        for _ in range(n):
            q = br.unary()
            u = (q << k) | br.bits(k)
            out.append((u >> 1) ^ -(u & 1))  # un-zigzag
    return out


def _decode_subframe(br: "_MsbReader", blocksize: int, bps: int) -> "np.ndarray":
    if br.bits(1):
        raise ValueError("FLAC subframe padding bit set")
    ftype = br.bits(6)
    wasted = 0
    if br.bits(1):
        wasted = 1 + br.unary()
    eff_bps = bps - wasted
    if ftype == 0:  # CONSTANT
        out = np.full(blocksize, br.signed(eff_bps), dtype=np.int64)
    elif ftype == 1:  # VERBATIM
        out = np.array([br.signed(eff_bps) for _ in range(blocksize)], dtype=np.int64)
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        warm = [br.signed(eff_bps) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        coefs = _FIXED_COEFFS[order]
        s = list(warm)
        for e in resid:
            pred = sum(c * s[-1 - j] for j, c in enumerate(coefs)) if order else 0
            s.append(pred + e)
        out = np.array(s, dtype=np.int64)
    elif ftype >= 32:  # LPC order 1-32
        order = ftype - 31
        warm = [br.signed(eff_bps) for _ in range(order)]
        prec = br.bits(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = br.signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [br.signed(prec) for _ in range(order)]
        resid = _read_residual(br, blocksize, order)
        s = list(warm)
        for e in resid:
            pred = sum(c * s[-1 - j] for j, c in enumerate(coefs)) >> shift
            s.append(pred + e)
        out = np.array(s, dtype=np.int64)
    else:
        raise ValueError(f"reserved FLAC subframe type {ftype}")
    return out << wasted


def decode_flac(payload: bytes) -> tuple[int, "np.ndarray"]:
    """FLAC → (sample_rate, int samples) — shape (n,) mono or (n, ch).
    Verifies every frame's header CRC-8 and body CRC-16, and the
    STREAMINFO MD5 of the decoded PCM when present (16-bit only)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata")
        header = payload[pos]
        (length,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise ValueError("truncated FLAC metadata block")
        if header & 0x7F == 0:  # STREAMINFO
            br = _MsbReader(body)
            br.bits(16); br.bits(16)  # min/max blocksize
            br.bits(24); br.bits(24)  # min/max framesize
            rate = br.bits(20)
            channels = br.bits(3) + 1
            bps = br.bits(5) + 1
            total = br.bits(36)
            md5 = body[18:34]
            info = (rate, channels, bps, total, md5)
        pos += 4 + length
        if header & 0x80:
            break
    if info is None:
        raise ValueError("FLAC missing STREAMINFO")
    rate, channels, bps, total, want_md5 = info
    chans: list[list[int]] = [[] for _ in range(channels)]
    while pos < len(payload):
        frame_start = pos
        br = _MsbReader(payload, pos)
        sync = br.bits(14)
        if sync != 0x3FFE:
            raise ValueError("bad FLAC frame sync")
        br.bits(1)  # reserved
        br.bits(1)  # blocking strategy
        bs_code = br.bits(4)
        rate_code = br.bits(4)
        chan_code = br.bits(4)
        bps_code = br.bits(3)
        br.bits(1)  # reserved
        _read_coded_number(br)
        if bs_code == 0:
            raise ValueError("reserved FLAC block size code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.bits(8) + 1
        elif bs_code == 7:
            blocksize = br.bits(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if rate_code == 12:
            br.bits(8)
        elif rate_code in (13, 14):
            br.bits(16)
        elif rate_code == 15:
            raise ValueError("invalid FLAC sample rate code")
        fbps = _BPS_TABLE[bps_code] or bps
        br.align()
        header_bytes = payload[frame_start : br.byte_pos()]
        if br.bits(8) != _crc8(header_bytes):
            raise ValueError("FLAC frame header CRC-8 mismatch")
        if chan_code <= 7:
            n_sub = chan_code + 1
            if n_sub != channels:
                raise ValueError("FLAC frame channel count != STREAMINFO")
            subs = [_decode_subframe(br, blocksize, fbps) for _ in range(n_sub)]
        elif chan_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("stereo decorrelation in a non-stereo stream")
            extra = (0, 1) if chan_code == 8 else ((1, 0) if chan_code == 9 else (0, 1))
            a = _decode_subframe(br, blocksize, fbps + extra[0])
            b = _decode_subframe(br, blocksize, fbps + extra[1])
            if chan_code == 8:  # left/side: side = left - right
                subs = [a, a - b]
            elif chan_code == 9:  # right/side: side = left - right
                subs = [b + a, b]
            else:  # mid/side
                lr_sum = (a << 1) | (b & 1)
                subs = [(lr_sum + b) >> 1, (lr_sum - b) >> 1]
        else:
            raise ValueError(f"reserved FLAC channel assignment {chan_code}")
        br.align()
        body_end = br.byte_pos()
        if br.bits(16) != _crc16(payload[frame_start:body_end]):
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = br.byte_pos()
        for c in range(channels):
            chans[c].extend(int(v) for v in subs[c])
    n = len(chans[0])
    if total and n != total:
        raise ValueError("decoded FLAC sample count != STREAMINFO total")
    out = (
        np.array(chans[0], dtype=np.int64)
        if channels == 1
        else np.stack([np.array(c, dtype=np.int64) for c in chans], axis=1)
    )
    if want_md5 != b"\x00" * 16 and bps == 16:
        # row-major reshape of (n, ch) interleaves channels, per the spec
        inter = out.reshape(-1)
        got = hashlib.md5(inter.astype("<i2").tobytes()).digest()
        if got != want_md5:
            raise ValueError("FLAC STREAMINFO MD5 mismatch")
    return rate, out


# --------------------------------------------------------------- encoder


class _MsbWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.out.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def signed(self, value: int, nbits: int) -> None:
        self.write(value & ((1 << nbits) - 1), nbits)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


def _write_coded_number(bw: "_MsbWriter", v: int) -> None:
    """UTF-8-style: k-byte form carries (7-k) + 6·(k-1) payload bits."""
    if v < 0x80:
        bw.write(v, 8)
        return
    for k in range(2, 8):
        if v < (1 << ((7 - k) + 6 * (k - 1))):
            break
    prefix = (0xFF << (8 - k)) & 0xFF
    first_bits = 7 - k
    bw.write(prefix | ((v >> (6 * (k - 1))) & ((1 << first_bits) - 1)), 8)
    for i in range(k - 2, -1, -1):
        bw.write(0x80 | ((v >> (6 * i)) & 0x3F), 8)


def _write_residual(
    bw: "_MsbWriter",
    resid: list[int],
    blocksize: int,
    order: int,
    porder: int,
    method: int,
    escape_first: bool,
) -> None:
    plen = 4 + method
    escape = (1 << plen) - 1
    bw.write(method, 2)
    bw.write(porder, 4)
    i = 0
    for p in range(1 << porder):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        part = resid[i : i + n]
        i += n
        if escape_first and p == 0:
            # raw width sized from the data: fixed orders 3-4 can push
            # residuals past 18 bits
            raw_bits = max(
                (1 + (abs(v) - (1 if v < 0 else 0)).bit_length() for v in part),
                default=1,
            )
            raw_bits = min(max(raw_bits, 2), 31)
            bw.write(escape, plen)
            bw.write(raw_bits, 5)
            for v in part:
                bw.signed(v, raw_bits)
            continue
        zig = [(v << 1) if v >= 0 else ((-v << 1) - 1) for v in part]
        best_k = 0
        if zig:
            mean = sum(zig) / len(zig)
            while (1 << (best_k + 1)) < mean + 1 and best_k < escape - 1:
                best_k += 1
        bw.write(best_k, plen)
        for u in zig:
            q = u >> best_k
            if q:
                bw.write(0, q)
            bw.write(1, 1)
            if best_k:
                bw.write(u & ((1 << best_k) - 1), best_k)


def _encode_subframe(
    bw: "_MsbWriter",
    s: list[int],
    bps: int,
    mode: str,
    porder: int,
    method: int,
    escape_first: bool,
) -> None:
    blocksize = len(s)
    if mode == "constant":
        if any(v != s[0] for v in s):
            raise ValueError("constant mode needs a constant block")
        bw.write(0, 1); bw.write(0, 6); bw.write(0, 1)
        bw.signed(s[0], bps)
        return
    if mode == "verbatim":
        bw.write(0, 1); bw.write(1, 6); bw.write(0, 1)
        for v in s:
            bw.signed(v, bps)
        return
    if mode.startswith("fixed"):
        order = int(mode[5:])
        coefs = _FIXED_COEFFS[order]
        bw.write(0, 1); bw.write(8 + order, 6); bw.write(0, 1)
        for v in s[:order]:
            bw.signed(v, bps)
        resid = [
            s[i] - sum(c * s[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, blocksize)
        ]
        _write_residual(bw, resid, blocksize, order, porder, method, escape_first)
        return
    if mode == "lpc":
        # order-2 quantized predictor 2·s[i-1] − 1·s[i-2] at shift 1
        order, prec, shift = 2, 5, 1
        coefs = [4, -2]  # (4·a − 2·b) >> 1 == 2a − b
        bw.write(0, 1); bw.write(32 + order - 1, 6); bw.write(0, 1)
        for v in s[:order]:
            bw.signed(v, bps)
        bw.write(prec - 1, 4)
        bw.signed(shift, 5)
        for c in coefs:
            bw.signed(c, prec)
        resid = [
            s[i] - ((coefs[0] * s[i - 1] + coefs[1] * s[i - 2]) >> shift)
            for i in range(order, blocksize)
        ]
        _write_residual(bw, resid, blocksize, order, porder, method, escape_first)
        return
    raise ValueError(f"unknown encode_flac mode {mode!r}")


def encode_flac(
    samples: "np.ndarray",
    mode: str = "fixed2",
    stereo: str = "independent",
    blocksize: int | None = None,
    partition_order: int = 0,
    method: int = 0,
    escape_first: bool = False,
) -> bytes:
    """int16 samples — shape (n,) mono or (n, 2) stereo — → FLAC payload.
    ``mode`` picks the subframe strategy (constant/verbatim/fixed0-4/lpc);
    ``stereo`` one of independent/left_side/right_side/mid_side;
    ``blocksize`` splits into multiple frames (must divide by
    2^partition_order); ``method`` selects the 4- or 5-bit Rice parameter
    form; ``escape_first`` codes each first partition raw (the escape
    path). The STREAMINFO MD5 is filled in, so the decoder's integrity
    checks are exercised on every round trip."""
    samples = np.asarray(samples, dtype=np.int64)
    channels = 1 if samples.ndim == 1 else samples.shape[1]
    n = len(samples)
    bs = blocksize or n
    if n % bs:
        raise ValueError("encode_flac needs blocksize | n")
    bps = 16
    md5 = hashlib.md5(samples.astype("<i2").tobytes()).digest()
    info = _MsbWriter()
    info.write(bs, 16); info.write(bs, 16)
    info.write(0, 24); info.write(0, 24)
    info.write(16000, 20)
    info.write(channels - 1, 3)
    info.write(bps - 1, 5)
    info.write(n, 36)
    info_body = bytes(info.out) + md5
    out = bytearray(b"fLaC")
    out.append(0x80)  # last metadata block, type 0
    out.extend(struct.pack(">I", len(info_body))[1:])
    out.extend(info_body)
    for f_i, start in enumerate(range(0, n, bs)):
        fw = _MsbWriter()
        fw.write(0x3FFE, 14)
        fw.write(0, 1)
        fw.write(0, 1)  # fixed blocksize strategy
        fw.write(7, 4)  # blocksize: explicit 16-bit field
        fw.write(0, 4)  # rate: from STREAMINFO
        if channels == 1 or stereo == "independent":
            fw.write(channels - 1, 4)
        else:
            fw.write({"left_side": 8, "right_side": 9, "mid_side": 10}[stereo], 4)
        fw.write(4, 3)  # 16-bit
        fw.write(0, 1)
        _write_coded_number(fw, f_i)
        fw.write(bs - 1, 16)
        fw.align()
        header = bytes(fw.out)
        fw.write(_crc8(header), 8)
        block = samples[start : start + bs]
        if channels == 1:
            chans = [(list(block), bps)]
        else:
            le, ri = list(block[:, 0]), list(block[:, 1])
            if stereo == "independent":
                chans = [(le, bps), (ri, bps)]
            elif stereo == "left_side":
                chans = [(le, bps), ([a - b for a, b in zip(le, ri)], bps + 1)]
            elif stereo == "right_side":
                chans = [([a - b for a, b in zip(le, ri)], bps + 1), (ri, bps)]
            else:  # mid_side
                chans = [
                    ([(a + b) >> 1 for a, b in zip(le, ri)], bps),
                    ([a - b for a, b in zip(le, ri)], bps + 1),
                ]
        for s, cbps in chans:
            _encode_subframe(
                fw, [int(v) for v in s], cbps, mode, partition_order, method,
                escape_first,
            )
        fw.align()
        body = bytes(fw.out)
        fw.write(_crc16(body), 16)
        out.extend(fw.out)
    return bytes(out)
