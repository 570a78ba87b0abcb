"""WARC (ISO 28500) reader conformance: round trips through the
Common Crawl per-record-gzip layout and plain concatenation, header
parsing, HTTP payload extraction (multibyte UTF-8 intact), truncation
and corruption behavior."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from youbike_etl_pipeline_spark.operators.warc import (
    encode_warc,
    http_response_body,
    parse_warc,
    warc_type,
)


DOCS = [
    (0, "plain ascii body".encode()),
    (7, "中文內容 mixed with ascii and café accents".encode()),
    (13, b""),  # empty body
    (20, ("x" * 5000).encode()),  # spans several TCP-ish chunks
]


@pytest.mark.parametrize("gz", [True, False], ids=["gzip-members", "plain"])
def test_roundtrip_archive(gz):
    payload = encode_warc(DOCS, per_record_gzip=gz)
    records = parse_warc(payload)
    assert len(records) == 1 + 2 * len(DOCS)
    assert warc_type(records[0]) == "warcinfo"
    responses = [r for r in records if warc_type(r) == "response"]
    assert len(responses) == len(DOCS)
    for (did, body), rec in zip(DOCS, responses):
        status, got = http_response_body(rec)
        assert status == 200 and got == body, did
        assert rec["headers"]["WARC-Target-URI"].endswith(f"/doc/{did}")
        assert rec["version"] == "WARC/1.0"


def test_requests_parse_but_are_not_http_responses():
    records = parse_warc(encode_warc(DOCS[:1]))
    req = [r for r in records if warc_type(r) == "request"][0]
    with pytest.raises(ValueError, match="not an HTTP message"):
        http_response_body(req)


def test_mixed_member_boundaries_preserved():
    """Gzip members must split exactly at record boundaries — parsing a
    PREFIX of members yields exactly those records (the property crawl
    splitters rely on)."""
    import zlib

    payload = encode_warc(DOCS, per_record_gzip=True)
    # walk member boundaries
    ends, rest, off = [], payload, 0
    while rest:
        d = zlib.decompressobj(wbits=47)
        d.decompress(rest)
        d.flush()
        consumed = len(rest) - len(d.unused_data)
        off += consumed
        ends.append(off)
        rest = d.unused_data
    assert len(ends) == 1 + 2 * len(DOCS)
    assert len(parse_warc(payload[: ends[2]])) == 3  # warcinfo + first pair


def test_error_paths_and_truncation():
    with pytest.raises(ValueError, match="not a WARC"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(ValueError, match="empty WARC"):
        parse_warc(b"\r\n\r\n")
    plain = encode_warc(DOCS[:2], per_record_gzip=False)
    for cut in range(10, len(plain) - 1, 23):
        try:
            records = parse_warc(plain[:cut])
            # a cut landing exactly on a record boundary legally yields
            # the complete prefix records
            assert all("block" in r for r in records)
        except ValueError:
            pass
    gz = encode_warc(DOCS[:2], per_record_gzip=True)
    for cut in range(10, len(gz) - 1, 17):
        with pytest.raises(ValueError):
            parse_warc(gz[:cut])


def test_single_byte_corruption_fuzz():
    for payload in (
        encode_warc(DOCS[:2], per_record_gzip=True),
        encode_warc(DOCS[:2], per_record_gzip=False),
    ):
        for i in range(len(payload)):
            corrupted = bytearray(payload)
            corrupted[i] ^= 0x01 if i % 2 else 0x80
            try:
                records = parse_warc(bytes(corrupted))
                for r in records:
                    if warc_type(r) == "response":
                        try:
                            http_response_body(r)
                        except ValueError:
                            pass
            except (ValueError, NotImplementedError):
                pass


def test_spark_ingest_matches_local(spark):
    import hashlib

    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_warc_payloads,
        parse_warc_features,
    )

    rows = [
        (0, "hello warc"),
        (10, "plain-layout doc"),  # id%20==10 -> plain archive
        (20, "中文 content"),
        (30, None),  # NULL text -> empty body
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in parse_warc_features(attach_warc_payloads(df)).collect()}
    assert len(got) == 4
    for did, text in rows:
        body = ("" if text is None else text).encode()
        r = got[did]
        assert r["n_records"] == 3 and r["n_responses"] == 1
        assert r["status"] == 200
        assert r["body_bytes"] == len(body)
        assert r["body_md5"] == hashlib.md5(body).hexdigest()


# --------------------------------------------- WebDataset tar shards


def test_webdataset_spark_ingest_matches_local(spark):
    import hashlib

    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_webdataset_payloads,
        md5_pixels,
        parse_webdataset_features,
    )

    rows = [(0, "a caption"), (10, "中文 caption"), (20, None), (30, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in parse_webdataset_features(
            attach_webdataset_payloads(df)
        ).collect()
    }
    assert len(got) == 4
    for did, text in rows:
        cap = ("" if text is None else text).encode()
        r = got[did]
        assert r["n_members"] == 3
        assert (r["width"], r["height"]) == (16, 12)
        assert r["pixel_sum"] == int(
            md5_pixels(did, 16, 12).astype("int64").sum()
        )
        assert r["caption_bytes"] == len(cap)
        assert r["caption_md5"] == hashlib.md5(cap).hexdigest()
        assert r["label"] == did % 10


def test_webdataset_shard_bytes_deterministic_and_malformed_raises(spark):
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_webdataset_payloads,
        parse_webdataset_features,
    )

    df = spark.createDataFrame([(5, "x")], "doc_id long, text string")
    a = bytes(attach_webdataset_payloads(df).collect()[0]["payload"])
    b = bytes(attach_webdataset_payloads(df).collect()[0]["payload"])
    assert a == b  # mtime pinned -> reproducible shards
    bad = spark.createDataFrame([(1, bytearray(b"not a tar at all" * 40))],
                                "doc_id long, payload binary")
    with pytest.raises(Exception, match="malformed WebDataset|TarError|truncated"):
        parse_warc_features = parse_webdataset_features(bad).collect()


def test_production_binaryfile_route(spark, tmpdir):
    """The fixture attaches archives in-flight; production reads shards
    from object storage via Spark's binaryFile source. Drive that exact
    route: write .warc.gz / .tar shards to disk, read them back with
    format('binaryFile'), and run the same parse operators on the
    (path, content) rows."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from youbike_etl_pipeline_spark.operators.multimodal import (
        parse_warc_features,
        parse_webdataset_features,
    )
    from youbike_etl_pipeline_spark.operators.warc import encode_warc

    wdir = tmpdir.mkdir("warc_shards")
    for did, body in DOCS[:3]:
        with open(os.path.join(str(wdir), f"shard-{did:05d}.warc.gz"), "wb") as fh:
            fh.write(encode_warc([(did, body)], per_record_gzip=True))
    bindf = (
        spark.read.format("binaryFile")
        .load(str(wdir))
        .select(
            F.regexp_extract(F.col("path"), r"shard-(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    got = {r["doc_id"]: r for r in parse_warc_features(bindf).collect()}
    assert len(got) == 3
    for did, body in DOCS[:3]:
        assert got[did]["body_md5"] == hashlib.md5(body).hexdigest()
        assert got[did]["n_records"] == 3

    # WebDataset: tar shards on disk through the same source
    import io
    import tarfile

    from youbike_etl_pipeline_spark.operators.multimodal import (
        encode_png,
        md5_pixels,
    )

    tdir = tmpdir.mkdir("wds_shards")
    for did in (3, 4):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, data in (
                (f"{did:09d}.png", encode_png(md5_pixels(did, 16, 12))),
                (f"{did:09d}.txt", f"caption {did}".encode()),
                (f"{did:09d}.cls", str(did % 10).encode()),
            ):
                ti = tarfile.TarInfo(name)
                ti.size = len(data)
                ti.mtime = 0
                tf.addfile(ti, io.BytesIO(data))
        with open(os.path.join(str(tdir), f"shard-{did:05d}.tar"), "wb") as fh:
            fh.write(buf.getvalue())
    bindf2 = (
        spark.read.format("binaryFile")
        .load(str(tdir))
        .select(
            F.regexp_extract(F.col("path"), r"shard-(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
    )
    rows = {r["doc_id"]: r for r in parse_webdataset_features(bindf2).collect()}
    assert len(rows) == 2
    for did in (3, 4):
        assert rows[did]["pixel_sum"] == int(
            md5_pixels(did, 16, 12).astype("int64").sum()
        )
        assert rows[did]["caption_md5"] == hashlib.md5(
            f"caption {did}".encode()
        ).hexdigest()


def test_round8_review_gzip_bomb_and_folded_headers():
    """Review findings: (1) a gzip bomb shard must be refused without
    materializing the expansion (the PNG bounded-inflate posture); (2)
    ISO 28500 header folding (leading-whitespace continuation lines)
    must extend the previous field instead of raising."""
    import zlib

    from youbike_etl_pipeline_spark.operators import warc
    from youbike_etl_pipeline_spark.operators.warc import _gunzip_members

    co = zlib.compressobj(9, zlib.DEFLATED, 31)
    bomb = co.compress(b"\x00" * 50_000_000) + co.flush()
    assert len(bomb) < 100_000  # ~1000:1
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(warc, "_MAX_ARCHIVE_BYTES", 10_000_000)
        with pytest.raises(ValueError, match="expands past"):
            _gunzip_members(bomb)
        # under the cap it still decompresses fully
        mp.setattr(warc, "_MAX_ARCHIVE_BYTES", 60_000_000)
        assert len(_gunzip_members(bomb)[0]) == 50_000_000

    body = b"folded-target body"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://example.com/a\r\n"
        b"\t/very/long/path?q=1\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )
    records = parse_warc(rec)
    assert len(records) == 1
    assert (
        records[0]["headers"]["WARC-Target-URI"]
        == "http://example.com/a /very/long/path?q=1"
    )
    assert records[0]["block"] == body
    # a folded line with no preceding header is still malformed
    with pytest.raises(ValueError, match="malformed WARC header"):
        parse_warc(b"WARC/1.0\r\n fold-first\r\nContent-Length: 0\r\n\r\n\r\n\r\n")


def test_round9_advisor_eof_separator_prefix_only():
    """A record separator truncated at EOF is tolerated only when the
    remainder is a PREFIX of the CRLF pair — arbitrary 1-3 trailing
    bytes previously parsed silently (round-9 advisor)."""
    body = b"tail-check body"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body
    )
    # truncated separator prefixes are tolerated (including none at all)
    for tail in (b"", b"\r", b"\r\n", b"\r\n\r", b"\r\n\r\n"):
        records = parse_warc(rec + tail)
        assert len(records) == 1 and records[0]["block"] == body
    # anything else in the final 1-3 bytes is structural corruption
    for tail in (b"XX", b"\r\nX", b"\n", b"\r\r", b"\r\n\rX"):
        with pytest.raises(ValueError, match="separator missing"):
            parse_warc(rec + tail)


def test_round9_url_canonicalization():
    """RFC 3986 §6 normalization: case, default ports, fragments, dot
    segments, stable query sort — plus idempotence and the fixture's
    expected canonical forms (the mm30 oracle constants)."""
    from youbike_etl_pipeline_spark.operators.warc import (
        _remove_dot_segments,
        canonicalize_url,
        messy_fixture_url,
        url_host,
    )

    expected = {
        0: ("http://example.com/doc/{d}?a=1&b=2", "example.com", True),
        1: ("https://www.example.org/doc/{d}/", "www.example.org", True),
        2: ("http://cdn.example.net/doc/{d}?y=8&z=9&z=1", "cdn.example.net", False),
        3: ("http://example.com:8080/doc/{d}", "example.com", True),
        4: ("https://example.com/doc/{d}", "example.com", True),
    }
    for r, (tmpl, host, changed) in expected.items():
        for d in (r * 10, r * 10 + 50, r * 10 + 1000):
            raw = messy_fixture_url(d)
            canon = canonicalize_url(raw)
            assert canon == tmpl.format(d=d), (d, raw, canon)
            assert url_host(canon) == host
            assert (canon != raw) == changed
            assert canonicalize_url(canon) == canon  # idempotent
    # dot-segment table (RFC 3986 §5.2.4)
    for p, want in [
        ("/a/../b/./c", "/b/c"),
        ("/a/..", "/"),
        ("/../a", "/a"),
        ("/a/b/../../c", "/c"),
        ("/a/.", "/a/"),
        ("a/./b", "a/b"),
        ("..", ""),
        ("../a", "a"),
        ("/a//b", "/a//b"),
    ]:
        assert _remove_dot_segments(p) == want, p
    # query sort is by key only and STABLE across duplicate keys
    assert canonicalize_url("http://h/p?b=2&a=1&b=1") == "http://h/p?a=1&b=2&b=1"
    # empty path normalizes to '/'
    assert canonicalize_url("HTTP://H?x=1") == "http://h/?x=1"


def test_round9_encode_warc_uris_default_bytes_pinned():
    """Adding the ``uris`` override must leave the default path's bytes
    identical (the hash-pin discipline for every fixture encoder)."""
    docs = [(10, b"alpha"), (20, b"beta")]
    assert encode_warc(docs) == encode_warc(docs, uris=None)
    custom = encode_warc(docs, uris=["http://a/1", "http://b/2"])
    assert custom != encode_warc(docs)
    recs = parse_warc(custom)
    uris = [
        v
        for r in recs
        for k, v in r["headers"].items()
        if k.lower() == "warc-target-uri"
    ]
    assert uris == ["http://a/1", "http://a/1", "http://b/2", "http://b/2"]


def test_round9_webdataset_tar_corruption_contract(spark):
    """The tar walk's corruption contract (round-9 hardening, the WARC
    bomb-cap discipline applied to the other container): non-file
    members are skipped (a dir entry previously crashed AttributeError),
    a header size field pointing past EOF raises a typed error instead
    of reading short silently, and a single-byte header corruption sweep
    raises only ValueError or parses clean."""
    import io
    import tarfile

    import numpy as np

    from youbike_etl_pipeline_spark.operators.multimodal import (
        encode_png,
        md5_pixels,
        parse_webdataset_features,
        read_webdataset_members,
    )

    def shard(entries, dir_first=False):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            if dir_first:
                d = tarfile.TarInfo("samples/")
                d.type = tarfile.DIRTYPE
                d.mtime = 0
                tf.addfile(d)
            for name, data in entries:
                ti = tarfile.TarInfo(name)
                ti.size = len(data)
                ti.mtime = 0
                tf.addfile(ti, io.BytesIO(data))
        return buf.getvalue()

    entries = (
        ("000000007.png", encode_png(md5_pixels(7, 16, 12))),
        ("000000007.txt", b"caption 7"),
        ("000000007.cls", b"7"),
    )

    # dir member: skipped by the walk AND by the full Spark path
    withdir = shard(entries, dir_first=True)
    assert set(read_webdataset_members(withdir)) == {n for n, _ in entries}
    df = spark.createDataFrame(
        [(7, bytearray(withdir))], "doc_id long, payload binary"
    )
    rows = parse_webdataset_features(df).collect()
    assert len(rows) == 1 and rows[0]["n_members"] == 3
    assert rows[0]["pixel_sum"] == int(
        md5_pixels(7, 16, 12).astype(np.int64).sum()
    )

    # size field past EOF -> typed error, not silent short read
    good = bytearray(shard(entries))
    hdr = good.find(b"000000007.txt")
    bad = bytearray(good)
    # size field lives at offset 124 of the member header, 12 octal bytes
    bad[hdr + 124 : hdr + 124 + 12] = b"77777777777\x00"
    # tarfile re-validates the header checksum; recompute it (offset 148)
    blk = bad[hdr : hdr + 512]
    blk[148:156] = b" " * 8
    bad[hdr + 148 : hdr + 156] = (f"{sum(blk):06o}\0 ").encode()
    with pytest.raises(ValueError, match="WebDataset"):
        read_webdataset_members(bytes(bad))

    # archive truncated inside a member's data blocks -> the length
    # guard raises (stdlib tarfile returns the short read silently);
    # truncation inside a HEADER is treated as end-of-archive by
    # tarfile semantics — the members before it still parse
    png_data_start = good.find(b"000000007.png") + 512
    with pytest.raises(ValueError, match="WebDataset"):
        read_webdataset_members(bytes(good[: png_data_start + 50]))
    assert set(read_webdataset_members(bytes(good[: hdr + 100]))) == {
        "000000007.png"
    }

    # single-byte corruption sweep over the whole shard: typed errors or
    # clean parse only (tar data blocks have no CRC, so silent member
    # changes are acceptable; structural exceptions are not)
    for i in range(0, len(good), 13):
        c = bytearray(good)
        c[i] ^= 0x80
        try:
            read_webdataset_members(bytes(c))
        except ValueError:
            pass


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


@pytest.mark.skipif(not HAVE_HYPOTHESIS, reason="hypothesis not installed")
@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    st.text(alphabet="aB.c-9", min_size=1, max_size=12),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.lists(
        st.sampled_from(["doc", ".", "..", "a", "b9", ""]), max_size=5
    ),
    st.lists(
        st.tuples(st.sampled_from("abz"), st.sampled_from("019")),
        max_size=4,
    ),
    st.sampled_from(["", "#frag", "#a/b?c"]),
)
def test_canonicalize_url_properties(scheme, host, port, segs, params, frag):
    """Idempotence + invariants over random URL shapes: canonical output
    is fixed-point, fragment-free, lowercase-host, default-port-free,
    dot-segment-free, with query keys in stable sorted order."""
    from youbike_etl_pipeline_spark.operators.warc import canonicalize_url

    url = (
        scheme + "://" + host + port + "/" + "/".join(segs)
        + ("?" + "&".join(f"{k}={v}" for k, v in params) if params else "")
        + frag
    )
    c = canonicalize_url(url)
    assert canonicalize_url(c) == c
    assert "#" not in c
    scheme_c, rest = c.split("://", 1)
    assert scheme_c == scheme.lower()
    netloc, _, path_q = rest.partition("/")
    # dot segments are resolved in the PATH (the netloc may legally be a
    # degenerate '.' host — hypothesis found the string-level check wrong)
    path = "/" + path_q.split("?", 1)[0]
    assert "/./" not in path and not path.endswith("/.")
    assert "/../" not in path and not path.endswith("/..")
    assert netloc == netloc.lower()
    if scheme.lower() == "http":
        assert not netloc.endswith(":80")
    if scheme.lower() == "https":
        assert not netloc.endswith(":443")
    if "?" in c:
        keys = [kv.split("=", 1)[0] for kv in c.split("?", 1)[1].split("&")]
        assert keys == sorted(keys)


# ---------------------------------------------------------- round 10:
# HTTP transfer decoding (chunked / gzip / deflate), the as-served shape


def test_round10_dechunk_roundtrip_and_corners():
    from youbike_etl_pipeline_spark.operators.warc import (
        dechunk_http_body,
        encode_http_payload,
    )

    body = bytes(range(256)) * 5
    wire, extra = encode_http_payload(body, "chunked")
    assert extra == [("Transfer-Encoding", "chunked")]
    assert dechunk_http_body(wire) == body
    # empty body: just the last-chunk + empty trailer
    assert dechunk_http_body(b"0\r\n\r\n") == b""
    # chunk extensions and trailer fields are ignored
    assert (
        dechunk_http_body(b"3;x=1\r\nabc\r\n0\r\nT: v\r\nAnother: w\r\n\r\n")
        == b"abc"
    )
    # uppercase hex sizes are legal
    assert dechunk_http_body(b"A\r\n0123456789\r\n0\r\n\r\n") == b"0123456789"


def test_round10_dechunk_corruption_typed():
    import pytest

    from youbike_etl_pipeline_spark.operators.warc import dechunk_http_body

    cases = [
        (b"3\r\nab", "truncated HTTP chunk data"),
        (b"zz\r\nabc\r\n0\r\n\r\n", "malformed HTTP chunk size"),
        (b"-3\r\nabc\r\n0\r\n\r\n", "malformed HTTP chunk size"),
        (b"\r\nabc\r\n0\r\n\r\n", "malformed HTTP chunk size"),
        (b"3\r\nabcXX0\r\n\r\n", "missing its CRLF"),
        (b"3\r\nabc\r\n0\r\n", "truncated HTTP chunk trailer"),
        (b"3\r\nabc\r\n0\r\nnocolon\r\n\r\n", "malformed HTTP trailer"),
        (b"3\r\nabc\r\n0\r\n\r\nextra", "bytes after the HTTP last-chunk"),
        (b"3", "truncated HTTP chunk-size line"),
    ]
    for wire, msg in cases:
        with pytest.raises(ValueError, match=msg):
            dechunk_http_body(wire)


def test_round10_inflate_http_body_gzip_deflate_raw_retry():
    import pytest
    import zlib

    from youbike_etl_pipeline_spark.operators.warc import inflate_http_body

    body = b"the quick brown fox " * 100
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    gz = co.compress(body) + co.flush()
    assert inflate_http_body(gz, "gzip") == body
    assert inflate_http_body(gz, "x-gzip") == body
    # deflate: zlib-wrapped (the spec) AND raw (the notorious servers)
    assert inflate_http_body(zlib.compress(body), "deflate") == body
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    assert inflate_http_body(co.compress(body) + co.flush(), "deflate") == body
    # truncation and trailing garbage are typed
    with pytest.raises(ValueError, match="truncated gzip"):
        inflate_http_body(gz[:-5], "gzip")
    with pytest.raises(ValueError, match="trailing bytes"):
        inflate_http_body(gz + b"junk", "gzip")
    with pytest.raises(ValueError, match="corrupt gzip"):
        inflate_http_body(b"not gzip at all", "gzip")
    with pytest.raises(ValueError, match="unsupported HTTP content-coding"):
        inflate_http_body(gz, "br")


def test_round10_inflate_bomb_cap():
    import pytest
    import zlib

    from youbike_etl_pipeline_spark.operators.warc import inflate_http_body

    bomb = zlib.compress(b"\x00" * (1 << 20), 9)  # ~1 KB → 1 MB
    with pytest.raises(ValueError, match="expands past"):
        inflate_http_body(bomb, "deflate", max_bytes=1 << 16)
    # zero/one caps never mean "unlimited" (the zlib max_length=0 trap)
    with pytest.raises(ValueError, match="expands past"):
        inflate_http_body(bomb, "deflate", max_bytes=1)


def test_round10_http_decode_body_removal_order():
    import pytest
    import zlib

    from youbike_etl_pipeline_spark.operators.warc import (
        encode_http_payload,
        http_decode_body,
    )

    body = b"<html><body>hello transfer</body></html>"
    for mode in ("identity", "chunked", "gzip", "deflate", "gzip+chunked"):
        wire, extra = encode_http_payload(body, mode)
        headers = {k.lower(): v for k, v in extra}
        assert http_decode_body(headers, wire) == body, mode
    # identity tokens are no-ops; unknown codings are typed errors
    assert http_decode_body({"transfer-encoding": "identity"}, body) == body
    with pytest.raises(ValueError, match="unsupported HTTP transfer-coding"):
        http_decode_body({"transfer-encoding": "rot13"}, body)
    with pytest.raises(ValueError, match="unsupported HTTP content-coding"):
        http_decode_body({"content-encoding": "br"}, body)
    # Transfer-Encoding: gzip, chunked (listed in application order)
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    gz = co.compress(body) + co.flush()
    chunked_gz, _ = encode_http_payload(gz, "chunked")
    assert (
        http_decode_body({"transfer-encoding": "gzip, chunked"}, chunked_gz)
        == body
    )


def test_round10_encode_warc_transfer_modes_end_to_end():
    """Every serving shape round-trips through the full WARC → HTTP →
    decode chain, and chunked messages carry no Content-Length."""
    from youbike_etl_pipeline_spark.operators.warc import (
        encode_warc,
        http_decode_body,
        http_response_message,
        parse_warc,
        warc_type,
    )

    body = ("<html><body>" + "page text " * 50 + "</body></html>").encode()
    for mode in ("identity", "chunked", "gzip", "deflate", "gzip+chunked"):
        archive = encode_warc([(7, body)], transfer_modes=[mode])
        resp = [
            r for r in parse_warc(archive) if warc_type(r) == "response"
        ][0]
        status, headers, wire = http_response_message(resp)
        assert status == 200
        if "chunked" in headers.get("transfer-encoding", ""):
            assert "content-length" not in headers
        else:
            assert int(headers["content-length"]) == len(wire)
        assert http_decode_body(headers, wire) == body, mode


def test_round10_encode_warc_default_bytes_still_pinned():
    """transfer_modes=None keeps the default path byte-identical (the
    hash-pin discipline — graded fixtures must not drift)."""
    from youbike_etl_pipeline_spark.operators.warc import encode_warc

    a = encode_warc([(3, b"hello")], per_record_gzip=False)
    b = encode_warc(
        [(3, b"hello")], per_record_gzip=False, transfer_modes=["identity"]
    )
    assert a == b


def test_round10_advisor_canonicalize_url_percent_normalization():
    import pytest

    from youbike_etl_pipeline_spark.operators.warc import canonicalize_url

    # unreserved octets decode; others keep UPPERCASED escapes
    assert (
        canonicalize_url("http://h/doc/%7euser")
        == canonicalize_url("http://h/doc/~user")
        == "http://h/doc/~user"
    )
    assert canonicalize_url("http://h/a%2fb") == "http://h/a%2Fb"
    assert canonicalize_url("http://h/p?x=%41%3d") == "http://h/p?x=A%3D"
    # invalid escapes pass through untouched
    assert canonicalize_url("http://h/a%zz%2") == "http://h/a%zz%2"
    # %2E decodes to '.' and THEN dot-segment removal applies (§6.2.2)
    assert canonicalize_url("http://h/a/%2E%2E/b") == "http://h/b"
    # malformed port: typed error with URL context, not a bare raise
    with pytest.raises(ValueError, match="malformed URL"):
        canonicalize_url("http://h:abc/x")


def test_round10_advisor_charset_fallback_valueerror(spark):
    """Unknown charset tokens and undecodable bytes surface as the codec
    family's ValueError, not LookupError/UnicodeDecodeError leaking out
    of the Arrow batch."""
    import pytest

    from youbike_etl_pipeline_spark.operators.multimodal import (
        extract_html_features,
    )
    from youbike_etl_pipeline_spark.operators.warc import encode_warc

    archive = encode_warc(
        [(5, b"<html><body>x</body></html>")],
        per_record_gzip=False,
        content_types=["text/html; charset=junk-charset"],
    )
    df = spark.createDataFrame([(5, bytearray(archive))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="undecodable crawl payload"):
        extract_html_features(df, honor_charset=True).collect()
    bad_utf8 = encode_warc(
        [(6, b"<html><body>\xff\xfe\xff</body></html>")],
        per_record_gzip=False,
        content_types=["text/html; charset=utf-8"],
    )
    df = spark.createDataFrame([(6, bytearray(bad_utf8))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="undecodable crawl payload"):
        extract_html_features(df, honor_charset=True).collect()


def test_round10_http_status_frontier_features(spark):
    """Redirect resolution + canonicalization + Retry-After + keep
    across the five status shapes; relative Locations resolve against
    the WARC-Target-URI."""
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_status_warc_payloads,
        http_status_features,
    )

    df = spark.createDataFrame(
        [(0,), (10,), (20,), (30,), (40,)], "doc_id long"
    )
    rows = {
        r["doc_id"]: r
        for r in http_status_features(
            attach_status_warc_payloads(df)
        ).collect()
    }
    assert rows[0]["status"] == 200 and rows[0]["keep"] is True
    assert rows[0]["location"] is None and rows[0]["retry_after"] is None
    # messy absolute Location canonicalizes like mm30's dedup keys
    assert rows[10]["status"] == 301 and rows[10]["keep"] is False
    assert rows[10]["location"] == "http://example.com/doc/10?a=1&b=2"
    # root-relative Location resolves against the target URI
    assert rows[20]["status"] == 302
    assert rows[20]["location"] == "http://example.com/doc/20/new"
    assert rows[30]["status"] == 404 and rows[30]["location"] is None
    assert rows[40]["status"] == 503 and rows[40]["retry_after"] == 120


def test_round10_encode_http_response_and_override_pin():
    """encode_http_response builds parseable non-200 messages, and
    http_messages=None keeps encode_warc's default bytes pinned."""
    from youbike_etl_pipeline_spark.operators.warc import (
        encode_http_response,
        encode_warc,
        http_response_message,
        parse_warc,
        warc_type,
    )

    msg = encode_http_response(
        301, "Moved Permanently", [("Location", "/x")], b"gone"
    )
    archive = encode_warc([(9, b"ignored")], http_messages=[msg])
    resp = [r for r in parse_warc(archive) if warc_type(r) == "response"][0]
    status, headers, body = http_response_message(resp)
    assert (status, headers["location"], body) == (301, "/x", b"gone")
    a = encode_warc([(3, b"hello")], per_record_gzip=False)
    b = encode_warc([(3, b"hello")], per_record_gzip=False, http_messages=[None])
    assert a == b


def test_round10_encode_wet_roundtrip():
    """WET conversion records round-trip byte-exactly in both archive
    layouts, carry WARC-Refers-To linkage to the source response id,
    and tolerate empty/None text."""
    from youbike_etl_pipeline_spark.operators.warc import (
        encode_wet,
        parse_warc,
        warc_type,
    )

    docs = [(7, "extracted text\nsecond line"), (17, ""), (27, None)]
    for gzipped in (True, False):
        recs = [
            r
            for r in parse_warc(encode_wet(docs, per_record_gzip=gzipped))
            if warc_type(r) == "conversion"
        ]
        assert [r["block"].decode() for r in recs] == [
            "extracted text\nsecond line", "", "",
        ]
        refers = [
            v
            for r in recs
            for k, v in r["headers"].items()
            if k.lower() == "warc-refers-to"
        ]
        assert refers[0] == "<urn:uuid:00000007-0000-0000-0000-000000000002>"
        cts = [
            v
            for r in recs
            for k, v in r["headers"].items()
            if k.lower() == "content-type"
        ]
        assert cts == ["text/plain; charset=utf-8"] * 3
    # multibyte text survives the container byte-exactly
    recs = parse_warc(encode_wet([(1, "中文 café \U0001F600")]))
    conv = [r for r in recs if warc_type(r) == "conversion"][0]
    assert conv["block"].decode("utf-8") == "中文 café \U0001F600"


def test_round10_transfer_corruption_fuzz():
    """The r8 codec discipline applied to the HTTP transfer decoders:
    every single-bit corruption of a chunked / gzipped / deflated /
    gzip+chunked wire body either still decodes (bit landed in a
    chunk-extension/trailer byte the parser ignores, or zlib absorbed
    it) or raises a typed ValueError — never an untyped exception."""
    from youbike_etl_pipeline_spark.operators.warc import (
        encode_http_payload,
        http_decode_body,
    )

    body = (b"crawl payload body " * 7)[:128]
    for mode in ("chunked", "gzip", "deflate", "gzip+chunked"):
        wire, extra = encode_http_payload(body, mode)
        headers = {k.lower(): v for k, v in extra}
        decoded_ok = 0
        for pos in range(len(wire)):
            for bit in (0x01, 0x80):
                bad = bytearray(wire)
                bad[pos] ^= bit
                try:
                    out = http_decode_body(headers, bytes(bad))
                    decoded_ok += 1
                    assert isinstance(out, bytes)
                except ValueError:
                    pass  # the contract: typed, never Unicode/zlib/etc
        # sanity: the fuzz actually exercised both outcomes
        assert decoded_ok < 2 * len(wire), mode
    # truncation at every length is also typed
    wire, extra = encode_http_payload(body, "gzip+chunked")
    headers = {k.lower(): v for k, v in extra}
    for cut in range(len(wire)):
        try:
            http_decode_body(headers, wire[:cut])
        except ValueError:
            pass


def test_round10_wet_corruption_fuzz():
    """Single-bit corruption and truncation of a WET archive raise only
    typed ValueError (the parse_warc contract) or parse to records."""
    from youbike_etl_pipeline_spark.operators.warc import (
        encode_wet,
        parse_warc,
    )

    wet = encode_wet([(5, "text body for fuzzing")], per_record_gzip=True)
    for pos in range(len(wet)):
        bad = bytearray(wet)
        bad[pos] ^= 0x40
        try:
            parse_warc(bytes(bad))
        except ValueError:
            pass
    for cut in range(len(wet)):
        try:
            parse_warc(wet[:cut])
        except ValueError:
            pass


if HAVE_HYPOTHESIS:

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=600))
    def test_round10_transfer_roundtrip_property(body):
        """decode(encode(body)) == body for every mode over arbitrary
        octet bodies (no text assumption — crawl payloads are bytes)."""
        from youbike_etl_pipeline_spark.operators.warc import (
            encode_http_payload,
            http_decode_body,
        )

        for mode in ("identity", "chunked", "gzip", "deflate", "gzip+chunked"):
            wire, extra = encode_http_payload(body, mode)
            headers = {k.lower(): v for k, v in extra}
            assert http_decode_body(headers, wire) == body, mode

    @settings(max_examples=100, deadline=None)
    @given(
        st.binary(min_size=0, max_size=300),
        st.lists(st.integers(min_value=1, max_value=64), min_size=1, max_size=8),
    )
    def test_round10_dechunk_arbitrary_chunking_property(body, sizes):
        """ANY chunking of a body dechunks to the body — chunk boundary
        placement is a server choice the decoder must be blind to."""
        from youbike_etl_pipeline_spark.operators.warc import (
            dechunk_http_body,
        )

        out = bytearray()
        pos = 0
        i = 0
        while pos < len(body):
            n = min(sizes[i % len(sizes)], len(body) - pos)
            out += b"%x\r\n" % n + body[pos : pos + n] + b"\r\n"
            pos += n
            i += 1
        out += b"0\r\n\r\n"
        assert dechunk_http_body(bytes(out)) == body


def test_round10_crawl_admission_chain(spark):
    """The joint robots x status x extraction decision from one segment
    archive: v_r=2 (anchored Disallow) refuses regardless of status;
    v_s!=0 refuses regardless of robots; only allowed 200 pages carry
    an extraction md5."""
    import hashlib

    from youbike_etl_pipeline_spark.operators.html import (
        expected_extraction,
    )
    from youbike_etl_pipeline_spark.operators.multimodal import (
        attach_crawl_segment_payloads,
        crawl_admission_features,
    )

    # did 0: vr0 allow + vs0 200 -> admitted; did 10: vr1 allow('1%')
    # + vs1 301 -> refused by status; did 20: vr2 disallow + vs2 302;
    # did 50: vr1 disallow('5..') + vs0 200 -> refused by robots;
    # did 100: vr2 disallow + vs0 200 -> robots refusal with a 200 page
    df = spark.createDataFrame(
        [(0, "alpha beta"), (10, "x"), (20, "y"), (50, "z"), (100, "w")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in crawl_admission_features(
            attach_crawl_segment_payloads(df)
        ).collect()
    }
    r0 = rows[0]
    assert (r0["allowed"], r0["status"], r0["admitted"]) == (True, 200, True)
    exp = expected_extraction(0, "alpha beta")["text"]
    assert r0["text_md5"] == hashlib.md5(exp.encode()).hexdigest()
    assert (rows[10]["allowed"], rows[10]["status"], rows[10]["admitted"]) == (
        True, 301, False,
    )
    assert rows[10]["text_md5"] is None
    assert rows[20]["allowed"] is False and rows[20]["admitted"] is False
    assert (rows[50]["allowed"], rows[50]["status"], rows[50]["admitted"]) == (
        False, 200, False,
    )
    assert (rows[100]["allowed"], rows[100]["status"]) == (False, 200)
    assert rows[100]["text_md5"] is None


def test_round10_surt_key_table():
    from youbike_etl_pipeline_spark.operators.warc import surt_key

    assert (
        surt_key("HTTP://Example.COM:80/doc/1?b=2&a=1#f")
        == "com,example)/doc/1?a=1&b=2"
    )
    assert surt_key("https://WWW.Example.Org:443/doc/2/") == (
        "org,example,www)/doc/2/"
    )
    assert surt_key("http://example.com:8080/x") == "com,example:8080)/x"
    assert surt_key("HTTPS://example.com/a/../doc/./3") == "com,example)/doc/3"
    # scheme-insensitive: http and https of one page share a key
    assert surt_key("http://h.co/p") == surt_key("https://h.co/p")


def test_round10_warc_record_spans_both_layouts():
    """Spans align 1:1 with parse_warc records and every sliced span
    re-parses standalone to EXACTLY that record — the range-fetch
    property CDX indexes exist for."""
    from youbike_etl_pipeline_spark.operators.warc import (
        encode_warc,
        parse_warc,
        walk_warc,
    )

    docs = [(1, b"alpha body"), (2, b"beta body two")]
    for gzipped in (True, False):
        raw = encode_warc(docs, per_record_gzip=gzipped)
        records, spans = walk_warc(raw)
        assert len(spans) == len(records) == 5  # warcinfo + 2x(req+resp)
        assert spans[0][0] == 0
        for (off, ln), rec in zip(spans, records):
            sliced = parse_warc(raw[off : off + ln])
            assert len(sliced) == 1
            assert sliced[0] == rec
        # spans tile the archive with no gaps or overlaps
        pos = 0
        for off, ln in spans:
            assert off == pos
            pos += ln
        assert pos == len(raw)


def test_round10_warc_record_spans_corruption_typed():
    import pytest

    from youbike_etl_pipeline_spark.operators.warc import (
        encode_warc,
        walk_warc,
    )

    raw = encode_warc([(1, b"x")], per_record_gzip=False)
    with pytest.raises(ValueError, match="truncated"):
        walk_warc(raw[: len(raw) // 2])
    gz = encode_warc([(1, b"x")], per_record_gzip=True)
    with pytest.raises(ValueError, match="corrupt|truncated"):
        walk_warc(gz[: len(gz) // 2])
    with pytest.raises(ValueError, match="empty WARC archive"):
        walk_warc(b"")


def test_warc_records_and_spans_reject_the_same_inputs(monkeypatch):
    """Records and spans come from one walk (``walk_warc``), so they fail on
    the same archives — including gzip members that hold no WARC record and
    a member that inflates past the archive cap, both of which the old
    span walker accepted."""
    from youbike_etl_pipeline_spark.operators import warc

    rec = encode_warc([(1, b"x")], per_record_gzip=False)
    monkeypatch.setattr(warc, "_MAX_ARCHIVE_BYTES", 1_000_000)
    bad = {
        "not a WARC record": warc.gzip_member(b"not a warc\r\n\r\n"),
        "expands past": warc.gzip_member(b"\x00" * 2_000_000),
        "malformed WARC header": rec.replace(b"WARC-Type: warcinfo", b"WARC-Type warcinfo"),
        # the warcinfo block is 38 bytes; one fewer misses the separator
        "separator missing": rec.replace(b"Content-Length: 38", b"Content-Length: 37", 1),
    }
    for match, payload in bad.items():
        with pytest.raises(ValueError, match=match):
            warc.walk_warc(payload)
        with pytest.raises(ValueError, match=match):
            parse_warc(payload)


def test_cdx_row_inflates_each_archive_once(monkeypatch):
    """mm39 takes its records and spans from one walk: one inflate of the
    archive, plus the audited re-parse of the sliced span. An archive whose
    gzip members do not hold one record each still gives the mismatch row."""
    from youbike_etl_pipeline_spark.operators import warc
    from youbike_etl_pipeline_spark.operators.multimodal import _cdx_row

    raw = encode_warc([(3, b"page body")], per_record_gzip=True)
    _, spans = warc.walk_warc(raw)  # warcinfo, request, response
    calls = []
    inflate = warc._gunzip_members

    def counted(payload):
        calls.append(len(payload))
        return inflate(payload)

    monkeypatch.setattr(warc, "_gunzip_members", counted)
    [(did, surt, digest, mime, ok)] = _cdx_row(3, raw)
    assert (did, surt, mime, ok) == (3, "com,example)/doc/3", "text/plain", True)
    assert digest == hashlib.md5(b"page body").hexdigest()
    assert calls == [len(raw), spans[2][1]]
    calls.clear()
    # plain archives inflate nothing
    assert _cdx_row(3, encode_warc([(3, b"page body")], per_record_gzip=False))[0][4]
    assert calls == []
    # one member holding all three records: spans and records do not align
    merged = warc.gzip_member(encode_warc([(3, b"page body")], per_record_gzip=False))
    assert _cdx_row(3, merged) == [(3, None, None, None, False)]
    assert calls == [len(merged)]


def test_gzip_members_larger_than_one_feed_walk_whole():
    """The member walk hands the inflater bounded pieces (so the leftover
    copy at each member end stays small); a member spanning several pieces
    still inflates whole, its span ends exactly at the next member, and a
    cut inside it is a truncation."""
    from youbike_etl_pipeline_spark.operators import warc

    big = np.random.default_rng(0).integers(0, 256, 3 * warc._MEMBER_FEED, np.uint8).tobytes()
    raw = encode_warc([(1, big), (2, b"small")], per_record_gzip=True)
    records, spans = warc.walk_warc(raw)
    assert http_response_body(records[2])[1] == big
    assert max(ln for _, ln in spans) > 2 * warc._MEMBER_FEED
    for (off, ln), rec in zip(spans, records):
        assert parse_warc(raw[off : off + ln]) == [rec]
    off, ln = spans[2]
    with pytest.raises(ValueError, match="truncated WARC gzip member"):
        warc.walk_warc(raw[: off + ln - 10])
