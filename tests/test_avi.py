"""RIFF/AVI MJPEG container conformance: the container walk + per-frame
JPEG decode must reproduce every frame bit-exactly (frames are lossless
JPEG, zero rounding latitude), and malformed/foreign-codec containers must
fail with the idiomatic error class, never IndexError."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from youbike_etl_pipeline_spark.operators.multimodal import (
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    encode_jpeg_lossless,
    md5_pixels,
)


def _sample_avi(n_frames: int = 4, w: int = 8, h: int = 6) -> tuple[bytes, list]:
    px = [md5_pixels(100 + f, w, h) for f in range(n_frames)]
    avi = encode_avi_mjpeg(
        [encode_jpeg_lossless(p, predictor=1 + f % 7) for f, p in enumerate(px)],
        w,
        h,
    )
    return avi, px


def test_roundtrip_bit_exact():
    avi, px = _sample_avi()
    out = decode_avi_mjpeg(avi)
    assert len(out) == len(px)
    for a, b in zip(out, px):
        assert np.array_equal(a, b)


def test_single_frame_and_odd_sized_chunks():
    """RIFF pads odd-length chunks; lossless JPEG payloads of odd length
    must round trip through the padding."""
    for f in range(5):
        img = md5_pixels(200 + f, 7, 5)  # odd dims → odd-ish payload sizes
        avi = encode_avi_mjpeg([encode_jpeg_lossless(img)], 7, 5)
        out = decode_avi_mjpeg(avi)
        assert len(out) == 1 and np.array_equal(out[0], img)


def test_error_paths():
    avi, px = _sample_avi()
    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")
    # truncation fuzz: every cut either raises ValueError /
    # NotImplementedError or returns a bit-exact strict PREFIX of the
    # frames (a cut on a chunk boundary keeps the intact frames —
    # streaming-tolerant, but never IndexError and never wrong pixels)
    for cut in range(12, len(avi) - 1, 13):
        try:
            out = decode_avi_mjpeg(avi[:cut])
        except (ValueError, NotImplementedError):
            continue
        assert len(out) < len(px)
        for a, b in zip(out, px):
            assert np.array_equal(a, b)


def test_non_jpeg_stream_gate():
    """A '00dc' chunk that is not JPEG-coded names the limitation."""
    raw = b"\x00" * 10
    avi = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(raw))
        + b"AVI "
        + b"00dc"
        + struct.pack("<I", len(raw))
        + raw
    )
    with pytest.raises(NotImplementedError, match="MJPEG"):
        decode_avi_mjpeg(avi)


def test_spark_fanout_matches_local(spark):
    """Distributed decode == local decode: the mapInPandas fan-out yields
    one row per frame with the exact per-channel sums."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_avi_payloads,
        decode_video_channel_sums,
    )

    df = spark.range(0, 40, 10).withColumnRenamed("id", "doc_id")
    rows = decode_video_channel_sums(attach_avi_payloads(df)).collect()
    assert len(rows) == 4 * 4
    by_key = {(r["doc_id"], r["frame_idx"]): r for r in rows}
    for did in range(0, 40, 10):
        for f in range(4):
            want = md5_pixels(did * 16 + f, 8, 6).astype(np.int64).sum(axis=(0, 1))
            r = by_key[(did, f)]
            assert (r["r_sum"], r["g_sum"], r["b_sum"]) == tuple(want), (did, f)


def test_spark_fanout_skips_null_payload(spark):
    """A NULL payload yields no frames, like every sibling decode stage,
    instead of failing the job on ``bytes(None)``."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_avi_payloads,
        decode_video_channel_sums,
    )

    videos = attach_avi_payloads(spark.range(0, 3).withColumnRenamed("id", "doc_id"))
    with_null = videos.unionByName(
        spark.sql("SELECT CAST(9 AS BIGINT) AS doc_id, CAST(NULL AS BINARY) AS payload")
    )
    want = sorted(decode_video_channel_sums(videos).collect())
    assert len(want) == 3 * 4
    assert sorted(decode_video_channel_sums(with_null).collect()) == want


def test_single_byte_corruption_fuzz():
    """Round-8 hardening: bit flips anywhere in the container OR the
    embedded JPEG frames must raise the documented types or decode."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        encode_jpeg_lossless,
        md5_pixels,
    )

    frames = [
        encode_jpeg_lossless(md5_pixels(24 + i, 16, 12), predictor=1)
        for i in range(2)
    ]
    payload = encode_avi_mjpeg(frames, 16, 12)
    for i in range(0, len(payload), 2):
        corrupted = bytearray(payload)
        corrupted[i] ^= 0x01 if i % 4 else 0x80
        try:
            decode_avi_mjpeg(bytes(corrupted))
        except (ValueError, NotImplementedError):
            pass


def test_audio_demux_roundtrip_and_gates():
    """Round-8 A/V demux: the audio track survives muxing bit-exactly,
    the strf->WAV shell inherits every WAV coding, and containers
    without audio raise."""
    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_avi_audio,
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        encode_jpeg_lossless,
        md5_pixels,
        md5_samples,
    )

    frames = [
        encode_jpeg_lossless(md5_pixels(90 + i, 16, 12), predictor=1)
        for i in range(3)
    ]
    x = md5_samples(91, 300)
    payload = encode_avi_mjpeg(frames, 16, 12, audio=x, audio_rate=22050)
    rate, back = decode_avi_audio(payload)
    assert rate == 22050 and np.array_equal(back, x)
    assert len(decode_avi_mjpeg(payload)) == 3  # video side unaffected
    with pytest.raises(ValueError, match="no audio stream"):
        decode_avi_audio(encode_avi_mjpeg(frames, 16, 12))
    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi_audio(b"RIFF\x04\x00\x00\x00WAVE")
    # audio=None output is byte-identical to the pre-r8 encoder
    import hashlib

    assert (
        hashlib.md5(encode_avi_mjpeg(frames, 16, 12)).hexdigest()
        == "841adbe70d7cf7d18a4c4b96656624cb"
    )


def test_audio_demux_spark_matches_local(spark):
    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_avi_av_payloads,
        decode_av_features,
        md5_samples,
    )

    df = spark.range(0, 50, 10).withColumnRenamed("id", "doc_id")
    rows = decode_av_features(attach_avi_av_payloads(df)).collect()
    assert len(rows) == 5
    for r in rows:
        x = md5_samples(r["doc_id"], 256).astype(np.int64)
        assert r["n_frames"] == 2
        assert r["n_samples"] == 256
        assert r["peak"] == int(np.abs(x).max())
        assert r["zero_crossings"] == int(((x[:-1] * x[1:]) < 0).sum())


def test_audio_demux_corruption_fuzz():
    """Bit flips across the muxed container (headers, video chunks,
    audio chunks) must raise typed errors or decode."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        decode_avi_audio,
        encode_avi_mjpeg,
        encode_jpeg_lossless,
        md5_pixels,
        md5_samples,
    )

    payload = encode_avi_mjpeg(
        [encode_jpeg_lossless(md5_pixels(92, 8, 6), predictor=1)],
        8, 6, audio=md5_samples(93, 64),
    )
    for i in range(len(payload)):
        corrupted = bytearray(payload)
        corrupted[i] ^= 0x01 if i % 2 else 0x80
        try:
            decode_avi_audio(bytes(corrupted))
        except (ValueError, NotImplementedError):
            pass
