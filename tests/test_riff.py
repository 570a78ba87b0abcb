"""RIFF chunks have one reader and one writer (``operators/riff.py``), so
WAV, AVI and WebP follow one malformed-input rule: a chunk that runs past
the chunk holding it raises ``ValueError``, the walk stops at the RIFF
size or the buffer end, and chunks stay word-aligned."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from youbike_etl_pipeline_spark.operators.multimodal import (
    decode_avi_audio,
    decode_avi_mjpeg,
    decode_wav,
    encode_avi_mjpeg,
    encode_jpeg_lossless,
    encode_wav,
    md5_pixels,
    md5_samples,
)
from youbike_etl_pipeline_spark.operators.riff import (
    riff_chunk,
    riff_chunks,
    riff_file,
    riff_form,
    riff_list,
)
from youbike_etl_pipeline_spark.operators.vp8l import decode_webp, encode_webp_lossless


def test_chunks_are_word_aligned_and_lists_recurse_on_request():
    assert riff_chunk(b"abcd", b"xyz") == b"abcd\x03\x00\x00\x00xyz\x00"
    f = riff_file(
        b"TEST",
        riff_chunk(b"odd ", b"x"),
        riff_list(b"movi", riff_chunk(b"00dc", b"abc")),
        riff_list(b"skip", riff_chunk(b"00dc", b"zz")),
        riff_chunk(b"tail", b""),
    )
    assert riff_form(f) == b"TEST" and riff_form(b"JUNK" + f[4:]) is None
    assert list(riff_chunks(f, (b"movi",))) == [
        (b"odd ", b"x"),
        (b"LIST", b"movi"),
        (b"00dc", b"abc"),
        (b"LIST", b"skip"),
        (b"tail", b""),
    ]
    assert [t for t, _ in riff_chunks(f)] == [b"odd ", b"LIST", b"LIST", b"tail"]


def test_walk_bounds():
    f = riff_file(b"TEST", riff_chunk(b"one ", b"a"))
    # bytes past the declared RIFF size are not chunks
    assert list(riff_chunks(f + riff_chunk(b"junk", b"b"))) == [(b"one ", b"a")]
    # a missing final pad byte and fewer than 8 trailing bytes are ignored
    assert list(riff_chunks(f[:-1])) == [(b"one ", b"a")]
    assert list(riff_chunks(riff_file(b"TEST", b"1234567"))) == []
    # a chunk running past its list raises, as does one past the buffer
    bad_list = riff_file(b"TEST", riff_chunk(b"LIST", b"movi" + b"00dc" + struct.pack("<I", 9)))
    with pytest.raises(ValueError, match="truncated RIFF chunk"):
        list(riff_chunks(bad_list, (b"movi",)))
    with pytest.raises(ValueError, match="truncated RIFF chunk"):
        list(riff_chunks(riff_file(b"TEST", riff_chunk(b"big ", b"abcdef"))[:-3]))


def _avi() -> bytes:
    frames = [encode_jpeg_lossless(md5_pixels(5 + i, 8, 6)) for i in range(2)]
    return encode_avi_mjpeg(frames, 8, 6, audio=md5_samples(6, 64))


@pytest.mark.parametrize(
    "decode,payload",
    [
        pytest.param(decode_wav, encode_wav(md5_samples(1, 64)), id="wav"),
        pytest.param(decode_avi_mjpeg, _avi(), id="avi-video"),
        pytest.param(decode_avi_audio, _avi(), id="avi-audio"),
        pytest.param(decode_webp, encode_webp_lossless(md5_pixels(2, 9, 7)), id="webp"),
    ],
)
def test_every_reader_follows_the_walkers_truncation_rule(decode, payload):
    """A file cut inside its last chunk raises the walker's ValueError in
    every reader (``decode_wav`` used to slice a cut ``data`` chunk
    short and decode it)."""
    decode(payload)
    with pytest.raises(ValueError, match="truncated RIFF chunk"):
        decode(payload[:-4])


def test_readers_name_a_file_without_chunks():
    with pytest.raises(ValueError, match="holds no chunk"):
        decode_webp(b"RIFF\x04\x00\x00\x00WEBP")
    with pytest.raises(ValueError, match="missing fmt/data"):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")


def test_avi_audio_rewrap_keeps_odd_sized_chunks_aligned():
    """The AVI-to-WAVE re-wrap pads odd chunks like every writer: an odd
    ``strf`` (here a 16-byte WAVEFORMATEX plus one byte) used to shift
    the WAVE walk off the ``data`` chunk."""
    strf = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8) + b"\x00"
    strh = b"auds" + bytes(52)
    data = bytes(range(101, 139, 2))  # 19 unsigned 8-bit samples
    avi = riff_file(
        b"AVI ",
        riff_list(b"hdrl", riff_list(b"strl", riff_chunk(b"strh", strh), riff_chunk(b"strf", strf))),
        riff_list(b"movi", riff_chunk(b"00wb", data[:7]), riff_chunk(b"00wb", data[7:])),
    )
    rate, x = decode_avi_audio(avi)
    want = ((np.frombuffer(data, np.uint8).astype(np.int16) - 128) * 256).astype(np.int16)
    assert rate == 8000 and np.array_equal(x, want)
