"""WARC (Web ARChive, ISO 28500) reader — and a conformance writer — in
pure stdlib, no warcio dependency.

WARC is the Common Crawl container: a concatenation of records, each a
``WARC/1.x`` version line, CRLF-terminated named headers, a CRLF CRLF
separator, ``Content-Length`` octets of block, and a CRLF CRLF record
separator. Crawl archives gzip each record as its OWN gzip member so
readers can split archives without decompressing them end-to-end — this
module handles both that per-record-member layout and plain concatenation.

Each wire format here has one owner: :func:`walk_warc` reads archives
(records and their byte spans, one bomb-capped inflate),
:func:`warc_record` and :func:`warc_file` write them,
:func:`gzip_member` writes every gzip member, :func:`encode_http_response`
builds every HTTP message head and :func:`split_http_message` splits
every one. Response records carry an HTTP/1.1 message in the block;
:func:`http_response_body` splits the status line / headers from the body
so a text pipeline gets the payload octets. The writers emit records with
deterministic ids, so decode(encode(...)) is exact and oracle-checkable
against the source text.

Cost posture: header parsing is per-record Python over small records,
linear in archive bytes, run inside the same shuffle-free Arrow-batched
``mapInPandas`` as the codec family; at 100 TB each WARC file is one
input split and records never cross files, so the parse parallelizes
embarrassingly across executors.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterable


#: Expansion ceiling for one archive's decompressed bytes. Same
#: decompression-bomb posture as the PNG bounded inflate: a ~50 KB gzip
#: member can legally expand ~1000:1, so a few-KB bomb shard could
#: otherwise allocate executor memory without bound. Crawl WARC files
#: are ~1 GiB decompressed; the cap is generous headroom, not a format
#: limit.
_MAX_ARCHIVE_BYTES = 4 << 30


#: Compressed bytes handed to the inflater per call while walking gzip
#: members. The input left over past a member's end is copied, so handing
#: over the whole rest of the archive would copy it once per member
#: (quadratic in the archive size).
_MEMBER_FEED = 1 << 16


def _inflate_capped(out: bytearray, d, data: bytes, max_bytes: int, label: str) -> None:
    """Append ``data`` decompressed through ``d`` to ``out``, refusing to
    let ``out`` grow past ``max_bytes`` (decompression-bomb guard — the
    overflow is detected incrementally, never materialized). ``data`` may
    be one piece of the stream: feed the next while ``d.eof`` is false.
    ``label`` names the input in the ``ValueError``; ``zlib.error``
    propagates."""
    while True:
        out.extend(d.decompress(data, max(1, max_bytes - len(out))))
        data = d.unconsumed_tail
        if len(out) > max_bytes or (len(out) == max_bytes and not d.eof):
            raise ValueError(f"{label} expands past {max_bytes} bytes")
        if not data:
            return


def _gunzip_members(payload: bytes) -> "tuple[bytes, list[tuple[int, int]]]":
    """Decompress a concatenation of gzip members (the Common Crawl
    per-record layout) into one plain buffer → (buffer, each member's
    ``(offset, length)`` in ``payload``), refusing archives that expand
    past :data:`_MAX_ARCHIVE_BYTES` (:func:`_inflate_capped`)."""
    out = bytearray()
    members: list[tuple[int, int]] = []
    view = memoryview(payload)
    pos = 0
    while pos < len(payload):
        start = pos
        d = zlib.decompressobj(wbits=47)  # gzip or zlib header
        while not d.eof:
            if pos == len(payload):
                raise ValueError("truncated WARC gzip member")
            piece = view[pos : pos + _MEMBER_FEED]
            try:
                _inflate_capped(out, d, piece, _MAX_ARCHIVE_BYTES, "WARC archive")
            except zlib.error as ex:
                raise ValueError(f"WARC gzip member corrupt: {ex}")
            pos += len(piece) - len(d.unused_data)
        members.append((start, pos - start))
    return bytes(out), members


def walk_warc(payload: bytes) -> "tuple[list[dict], list[tuple[int, int]]]":
    """The one WARC reader: archive → ``(records, spans)`` in one pass.

    Records are ``{"version", "headers" (dict, original-case keys),
    "block" (bytes)}``, from plain or gzip (single- or
    per-record-member) archives. Spans are ``(offset, length)`` INTO the
    original archive bytes — the CDX index payload that makes a 100 TB
    archive store range-addressable (fetch one record with a ranged
    read, no full scan): gzip-member boundaries for gzip archives (the
    Common Crawl layout, one record per member, so the spans align 1:1
    with the records and each sliced span re-parses standalone to
    exactly its record), record boundaries for plain archives.

    Raises ``ValueError`` on corrupt or truncated gzip members, an
    archive inflating past :data:`_MAX_ARCHIVE_BYTES`, malformed version
    lines, headers, content lengths, truncated blocks or a missing
    record separator — the same inputs fail for records and spans."""
    members = None
    if payload[:2] == b"\x1f\x8b":
        payload, members = _gunzip_members(payload)
    records: list[dict] = []
    spans: list[tuple[int, int]] = []
    pos = 0
    n = len(payload)
    while pos < n:
        # tolerate the inter-record CRLFs
        while pos < n and payload[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        start = pos
        eol = payload.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("truncated WARC version line")
        version = payload[pos:eol].decode("ascii", "replace")
        if not version.startswith("WARC/"):
            raise ValueError(f"not a WARC record at offset {pos}: {version[:20]!r}")
        pos = eol + 2
        headers: dict[str, str] = {}
        last_key: str | None = None
        while True:
            eol = payload.find(b"\r\n", pos)
            if eol < 0:
                raise ValueError("truncated WARC header block")
            line = payload[pos:eol]
            pos = eol + 2
            if not line:
                break
            if line[:1] in (b" ", b"\t") and last_key is not None:
                # ISO 28500 header folding: a leading-whitespace line
                # continues the previous field's value
                headers[last_key] += " " + line.decode("utf-8", "replace").strip()
                continue
            if b":" not in line:
                raise ValueError(f"malformed WARC header line {line[:40]!r}")
            k, v = line.split(b":", 1)
            last_key = k.decode("ascii", "replace").strip()
            headers[last_key] = v.decode("utf-8", "replace").strip()
        lengths = [v for k, v in headers.items() if k.lower() == "content-length"]
        if not lengths or not lengths[0].isdigit():
            raise ValueError("WARC record missing a numeric Content-Length")
        length = int(lengths[0])
        if pos + length > n:
            raise ValueError("truncated WARC record block")
        block = payload[pos : pos + length]
        pos += length
        tail = payload[pos : pos + 4]
        if tail != b"\r\n\r\n":
            # spec: two CRLFs terminate the record; a separator TRUNCATED
            # at EOF is tolerated (the remainder must be a prefix of the
            # CRLF pair — arbitrary 1-3 trailing bytes are not a
            # separator), anything else is corruption
            if pos + 4 <= n or not b"\r\n\r\n".startswith(tail):
                raise ValueError("WARC record separator missing")
        pos += 4
        records.append({"version": version, "headers": headers, "block": block})
        spans.append((start, min(pos, n) - start))
    if not records:
        raise ValueError("empty WARC archive")
    return records, spans if members is None else members


def parse_warc(payload: bytes) -> list[dict]:
    """WARC archive → list of records (:func:`walk_warc`)."""
    return walk_warc(payload)[0]


def warc_header(record: dict, name: str, default: "str | None" = "") -> "str | None":
    """One WARC record header by case-insensitive ``name`` (the first
    match), or ``default`` when the record does not carry it."""
    name = name.lower()
    return next((v for k, v in record["headers"].items() if k.lower() == name), default)


def warc_type(record: dict) -> str:
    return warc_header(record, "warc-type")


def first_response(records: "list[dict]") -> "dict | None":
    """The archive's first ``response`` record, or None."""
    return next((r for r in records if warc_type(r) == "response"), None)


def target_responses(payload: bytes) -> "list[tuple[str, dict]]":
    """``(WARC-Target-URI, record)`` of each response record of an
    archive, in archive order."""
    return [
        (warc_header(r, "warc-target-uri"), r)
        for r in parse_warc(payload)
        if warc_type(r) == "response"
    ]


def split_http_message(block: bytes) -> "tuple[bytes, bytes] | None":
    """An HTTP message → ``(head, body)`` split at its first CRLF CRLF;
    None when it has no header/body separator."""
    sep = block.find(b"\r\n\r\n")
    return None if sep < 0 else (block[:sep], block[sep + 4 :])


def http_response_body(record: dict) -> tuple[int, bytes]:
    """Split a response record's HTTP/1.1 message → (status, body bytes).
    Raises ``ValueError`` when the block is not an HTTP response."""
    block = record["block"]
    parts = split_http_message(block)
    if parts is None or not block.startswith(b"HTTP/"):
        raise ValueError("WARC response block is not an HTTP message")
    status_line = parts[0].split(b"\r\n", 1)[0].split(b" ")
    if len(status_line) < 2 or not status_line[1].isdigit():
        raise ValueError("malformed HTTP status line in WARC response")
    return int(status_line[1]), parts[1]


def http_response_message(record: dict) -> tuple[int, dict, bytes]:
    """Split a response record's HTTP/1.1 message → (status, header dict,
    body bytes). Header names are lowercased; folded continuation lines
    extend the previous field (RFC 7230 obs-fold)."""
    status, body = http_response_body(record)
    head = split_http_message(record["block"])[0]
    headers: dict[str, str] = {}
    last: str | None = None
    for line in head.split(b"\r\n")[1:]:
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.decode("latin-1").strip()
            continue
        if b":" not in line:
            raise ValueError(f"malformed HTTP header line {line[:40]!r}")
        k, v = line.split(b":", 1)
        last = k.decode("latin-1").strip().lower()
        headers[last] = v.decode("latin-1").strip()
    return status, headers, body


#: Expansion ceiling for ONE HTTP message body's content/transfer
#: decoding — same decompression-bomb posture as ``_gunzip_members``
#: but sized for a single page, not a whole archive.
_MAX_HTTP_BODY_BYTES = 1 << 28


def dechunk_http_body(body: bytes) -> bytes:
    """RFC 7230 §4.1 chunked transfer decoding: each chunk is a hex
    size line (optionally carrying ``;name=value`` chunk extensions,
    which are ignored), CRLF, ``size`` octets of data, CRLF; a zero-size
    chunk ends the data, followed by zero or more trailer fields and a
    final CRLF. WARC blocks carry the COMPLETE message as served, so
    bytes after the terminating CRLF are corruption, as is any
    truncation — both raise ``ValueError`` (the module's contract)."""
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("truncated HTTP chunk-size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        if not size_tok or any(
            c not in b"0123456789abcdefABCDEF" for c in size_tok
        ):
            raise ValueError(f"malformed HTTP chunk size {size_tok[:16]!r}")
        size = int(size_tok, 16)
        pos = eol + 2
        if size == 0:
            break
        if len(out) + size > _MAX_HTTP_BODY_BYTES:
            raise ValueError(
                f"chunked HTTP body expands past {_MAX_HTTP_BODY_BYTES} bytes"
            )
        if pos + size + 2 > n:
            raise ValueError("truncated HTTP chunk data")
        out.extend(body[pos : pos + size])
        if body[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("HTTP chunk data missing its CRLF terminator")
        pos += size + 2
    while True:  # trailer section (RFC 7230 §4.1.2): fields then CRLF
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("truncated HTTP chunk trailer section")
        line = body[pos:eol]
        pos = eol + 2
        if not line:
            break
        if b":" not in line:
            raise ValueError(f"malformed HTTP trailer field {line[:40]!r}")
    if pos != n:
        raise ValueError("bytes after the HTTP last-chunk terminator")
    return bytes(out)


def inflate_http_body(
    body: bytes, coding: str, max_bytes: int = _MAX_HTTP_BODY_BYTES
) -> bytes:
    """Remove one ``gzip``/``x-gzip``/``deflate`` content- or
    transfer-coding (RFC 9110 §8.4.1). ``deflate`` means zlib-wrapped
    on the wire, but a notorious population of servers sends RAW
    deflate — both are accepted (zlib first, raw retry), matching what
    every production crawl client does. Decompression is bomb-capped
    (:func:`_inflate_capped`); truncated streams and
    trailing garbage raise ``ValueError``."""
    if coding in ("gzip", "x-gzip"):
        attempts: tuple[int, ...] = (31,)
    elif coding == "deflate":
        attempts = (15, -15)
    else:
        raise ValueError(f"unsupported HTTP content-coding {coding!r}")
    last_error: Exception | None = None
    for wbits in attempts:
        d = zlib.decompressobj(wbits=wbits)
        out = bytearray()
        try:
            _inflate_capped(out, d, body, max_bytes, "HTTP body")
        except zlib.error as ex:
            last_error = ex
            continue
        if not d.eof:
            raise ValueError(f"truncated {coding} HTTP body")
        if d.unused_data:
            raise ValueError(f"trailing bytes after {coding} HTTP body")
        return bytes(out)
    raise ValueError(f"corrupt {coding} HTTP body: {last_error}")


def http_decode_body(headers: dict, body: bytes) -> bytes:
    """Undo ``Transfer-Encoding`` then ``Content-Encoding`` (RFC 7230
    §3.3.1: transfer codings are applied by the sender LAST, so the
    receiver removes them first; within each header the codings are
    listed in application order, so removal walks the list right to
    left). Common Crawl stores responses AS SERVED, so both are
    everyday inputs. ``headers`` is the lowercased-name dict
    :func:`http_response_message` returns; identity codings are
    no-ops; anything unrecognized raises ``ValueError``."""

    def codings(name: str) -> list[str]:
        return [
            t.strip().lower()
            for t in headers.get(name, "").split(",")
            if t.strip()
        ]

    for coding in reversed(codings("transfer-encoding")):
        if coding == "identity":
            continue
        if coding == "chunked":
            body = dechunk_http_body(body)
        elif coding in ("gzip", "x-gzip", "deflate"):
            body = inflate_http_body(body, coding)
        else:
            raise ValueError(f"unsupported HTTP transfer-coding {coding!r}")
    for coding in reversed(codings("content-encoding")):
        if coding == "identity":
            continue
        if coding in ("gzip", "x-gzip", "deflate"):
            body = inflate_http_body(body, coding)
        else:
            raise ValueError(f"unsupported HTTP content-coding {coding!r}")
    return body


def encode_http_payload(
    body: bytes, mode: str = "identity"
) -> "tuple[bytes, list[tuple[str, str]]]":
    """Apply a serving shape to an HTTP response body → ``(wire bytes,
    extra header fields)``. Modes (the mm34 fixture rotation — each is
    a shape real crawl archives contain):

    - ``identity`` — as-is (plus nothing; Content-Length is emitted by
      the caller for non-chunked bodies),
    - ``chunked`` — ``Transfer-Encoding: chunked`` with deterministic
      uneven chunk sizes, a chunk extension on the first chunk, and a
      trailer field (both must be ignored by the decoder),
    - ``gzip`` / ``deflate`` — ``Content-Encoding`` (deflate is
      zlib-wrapped, the spec shape),
    - ``gzip+chunked`` — gzip content-coding SERVED chunked, the
      everyday combination (removal order matters: dechunk first)."""
    if mode == "identity":
        return body, []

    def chunked(data: bytes) -> bytes:
        sizes = (7, 1, 64, 256)
        out = bytearray()
        pos = 0
        first = True
        while pos < len(data):
            size = min(sizes[pos % len(sizes)], len(data) - pos)
            ext = b";fixture=1" if first else b""
            out.extend(b"%x" % size + ext + b"\r\n")
            out.extend(data[pos : pos + size])
            out.extend(b"\r\n")
            pos += size
            first = False
        out.extend(b"0\r\nX-Fixture-Trailer: 1\r\n\r\n")
        return bytes(out)

    if mode == "chunked":
        return chunked(body), [("Transfer-Encoding", "chunked")]
    if mode == "gzip":
        return gzip_member(body), [("Content-Encoding", "gzip")]
    if mode == "deflate":
        return zlib.compress(body, 6), [("Content-Encoding", "deflate")]
    if mode == "gzip+chunked":
        return chunked(gzip_member(body)), [
            ("Content-Encoding", "gzip"),
            ("Transfer-Encoding", "chunked"),
        ]
    raise ValueError(f"unknown HTTP payload mode {mode!r}")


def http_charset(headers: dict, body: bytes) -> str:
    """Charset resolution the way crawl pipelines actually do it:
    the Content-Type ``charset=`` parameter wins, then a Unicode BOM,
    then the default. Returns a Python codec name."""
    ct = headers.get("content-type", "")
    for part in ct.split(";")[1:]:
        k, _, v = part.strip().partition("=")
        if k.strip().lower() == "charset" and v:
            return v.strip().strip('"').lower()
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    return "utf-8"


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 dot-segment removal (``/a/../b/./c`` → ``/b/c``),
    the path half of URL canonicalization."""
    if not path:
        return path
    absolute = path.startswith("/")
    segs = path.split("/")
    out: list[str] = []
    for seg in segs:
        if seg == ".":
            continue
        if seg == "..":
            # un-resolvable leading ".." segments are removed (RFC 3986
            # §5.2.4 rules A/D), same as the absolute-root case
            if out and out[-1] != "":
                out.pop()
            continue
        out.append(seg)
    if segs[-1] in (".", "..") and (not out or out[-1] != ""):
        out.append("")  # trailing dot segments denote a directory
    res = "/".join(out)
    if absolute and not res.startswith("/"):
        res = "/" + res
    return res


#: RFC 3986 §2.3 unreserved characters — percent-encoded octets in this
#: set decode during normalization; everything else keeps its escape
#: (with uppercased hex digits, §6.2.2.1).
_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = None  # compiled lazily; urllib import is already deferred


def _normalize_pct(s: str) -> str:
    """RFC 3986 §6.2.2.1/§6.2.2.2 percent-encoding normalization:
    uppercase the hex digits of every valid ``%XX`` triplet and decode
    the ones that encode unreserved characters (``%7E`` → ``~``), so
    ``/doc/%7euser`` and ``/doc/~user`` canonicalize to the same dedup
    key. Invalid escapes (``%zz``, a trailing ``%``) pass through
    untouched — real crawl URLs carry them and they are not octets."""
    global _PCT_RE
    if _PCT_RE is None:
        import re

        _PCT_RE = re.compile("%([0-9a-fA-F]{2})")

    def sub(m: "object") -> str:
        octet = int(m.group(1), 16)
        ch = chr(octet)
        if octet < 128 and ch in _UNRESERVED:
            return ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(sub, s)


def canonicalize_url(url: str) -> str:
    """RFC 3986 §6 URL normalization, the CCNet-style crawl dedup key:
    lowercase scheme + host, drop the scheme's default port (80/443),
    drop the fragment, normalize percent-encoding (uppercase ``%XX``
    hex, decode unreserved octets — :func:`_normalize_pct`), resolve
    dot segments, empty path → ``/``, and STABLE-sort query parameters
    by key (duplicate keys keep their relative order, so
    ``?z=9&y=8&z=1`` → ``?y=8&z=9&z=1``). A malformed authority (e.g.
    a non-numeric port) raises ``ValueError`` naming the URL — the
    module's corrupt-input contract."""
    from urllib.parse import urlsplit, urlunsplit

    try:
        p = urlsplit(url.strip())
        port = p.port  # property access parses (and may reject) the port
    except ValueError as ex:
        raise ValueError(f"malformed URL {url!r}: {ex}")
    scheme = p.scheme.lower()
    host = (p.hostname or "").lower()
    default = {"http": 80, "https": 443}.get(scheme)
    netloc = host
    if port is not None and port != default:
        netloc = f"{host}:{port}"
    path = _remove_dot_segments(_normalize_pct(p.path)) or "/"
    query = (
        "&".join(
            sorted(
                _normalize_pct(p.query).split("&"),
                key=lambda kv: kv.split("=", 1)[0],
            )
        )
        if p.query
        else ""
    )
    return urlunsplit((scheme, netloc, path, query, ""))


def url_host(url: str) -> str:
    """Lowercased hostname without port — the host-level grouping key."""
    from urllib.parse import urlsplit

    return (urlsplit(url.strip()).hostname or "").lower()


def surt_key(url: str) -> str:
    """SURT (Sort-friendly URI Reordering Transform) of a URL — the
    public key format crawl indexes (CDX) sort by (pywb/OpenWayback
    convention): canonicalize (:func:`canonicalize_url`), then reverse
    the host labels comma-joined so one host's URLs sort contiguously,
    append a non-default port as ``:port``, then ``)`` and the
    canonical path + ``?`` + sorted query. The scheme is dropped —
    http/https variants of one page share a key.

    ``HTTP://Example.COM:80/doc/1?b=2&a=1#f`` →
    ``com,example)/doc/1?a=1&b=2``."""
    from urllib.parse import urlsplit

    p = urlsplit(canonicalize_url(url))
    host = ",".join(reversed((p.hostname or "").split(".")))
    if p.port is not None:
        host += f":{p.port}"
    return host + ")" + p.path + (("?" + p.query) if p.query else "")


def messy_fixture_url(doc_id: int) -> str:
    """Deterministic non-canonical URL per document (rotated
    ``(doc_id // 10) % 5``): uppercase scheme/host + default port +
    unsorted query + fragment; default https port + trailing slash;
    an ALREADY-canonical URL with duplicate query keys (sort stability
    must leave it unchanged); a non-default port + fragment; and dot
    segments. The mm30 oracle re-derives each expected canonical form
    as a constant of the doc id."""
    r = (doc_id // 10) % 5
    if r == 0:
        return f"HTTP://Example.COM:80/doc/{doc_id}?b=2&a=1#frag"
    if r == 1:
        return f"https://WWW.Example.Org:443/doc/{doc_id}/"
    if r == 2:
        return f"http://cdn.example.net/doc/{doc_id}?y=8&z=9&z=1"
    if r == 3:
        return f"http://example.com:8080/doc/{doc_id}#sec-2"
    return f"HTTPS://example.com/a/../doc/./{doc_id}"


#: The WARC-Date of every record the writers emit (deterministic output).
WARC_DATE = "2024-01-01T00:00:00Z"


def gzip_member(data: bytes) -> bytes:
    """``data`` as one gzip member (deflate level 6, zero mtime): each
    record of a per-record-gzip archive and each gzip-coded HTTP body."""
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(data) + co.flush()


def warc_record(rtype: str, extra: "dict[str, str]", block: bytes, rid: str) -> bytes:
    """One WARC/1.0 record: the version line, ``WARC-Type``,
    ``WARC-Record-ID`` (``<urn:uuid:rid>``), ``WARC-Date``, the ``extra``
    fields in order, ``Content-Length``, CRLF CRLF, the block and the
    record separator."""
    head = [
        b"WARC/1.0",
        b"WARC-Type: " + rtype.encode(),
        b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">",
        b"WARC-Date: " + WARC_DATE.encode(),
        *(f"{k}: {v}".encode() for k, v in extra.items()),
        b"Content-Length: " + str(len(block)).encode(),
    ]
    return b"\r\n".join(head) + b"\r\n\r\n" + block + b"\r\n\r\n"


def warc_file(
    software: str, info_id: str, records: "Iterable[bytes]", per_record_gzip: bool
) -> bytes:
    """A WARC archive: a ``warcinfo`` record (id ``info_id``) naming
    ``software``, then ``records`` (:func:`warc_record`).
    ``per_record_gzip`` makes each record its own gzip member, the
    layout crawl tooling expects; otherwise records are concatenated."""
    info = warc_record(
        "warcinfo",
        {"Content-Type": "application/warc-fields"},
        f"software: {software}\r\n".encode(),
        info_id,
    )
    return b"".join(gzip_member(r) if per_record_gzip else r for r in (info, *records))


def encode_wet(docs: "list[tuple[int, str]]", per_record_gzip: bool = True) -> bytes:
    """(doc_id, extracted text) pairs → a WET file: the Common Crawl
    EXTRACTED-TEXT companion format — a WARC/1.0 archive of
    ``conversion`` records (ISO 28500 §6.8) whose blocks are the plain
    UTF-8 text, each carrying ``WARC-Refers-To`` naming the response
    record it was converted from (the id :func:`encode_warc` assigns)
    and the source ``WARC-Target-URI``. This is the SINK a crawl
    extraction pipeline writes; :func:`parse_warc` reads it back, so
    write→read is oracle-checkable byte-exactly."""
    records = (
        warc_record(
            "conversion",
            {
                "WARC-Target-URI": f"http://example.com/doc/{doc_id}",
                "WARC-Refers-To": f"<urn:uuid:{doc_id:08x}-0000-0000-0000-000000000002>",
                "Content-Type": "text/plain; charset=utf-8",
            },
            ("" if text is None else text).encode("utf-8"),
            f"{doc_id:08x}-0000-0000-0000-00000000000c",
        )
        for doc_id, text in docs
    )
    return warc_file(
        "youbike-etl-pipeline-spark (wet)",
        "00000000-0000-0000-0000-00000000000e",
        records,
        per_record_gzip,
    )


def encode_http_response(
    status: int,
    reason: str,
    headers: "list[tuple[str, str]]",
    body: bytes,
) -> bytes:
    """Assemble a complete HTTP/1.1 response message: status line, the
    header fields in order, ``Content-Length`` (the body's length as
    sent; absent under ``Transfer-Encoding``, RFC 7230 §3.3.2), CRLF
    CRLF, body — every response block the writers emit, including the
    non-200 fixture shapes (redirects, errors)."""
    lines = [f"HTTP/1.1 {status} {reason}", *(f"{k}: {v}" for k, v in headers)]
    if not any(k.lower() == "transfer-encoding" for k, _ in headers):
        lines.append(f"Content-Length: {len(body)}")
    return "\r\n".join(lines).encode("latin-1") + b"\r\n\r\n" + body


def status_fixture_message(doc_id: int, location_301: str) -> "bytes | None":
    """The crawl-status rotation ``(doc_id // 10) % 5`` as a response's
    HTTP block: None (:func:`encode_warc`'s default 200 path), 301 to
    ``location_301``, 302 to a root-relative Location, 404 with an error
    page, 503 with ``Retry-After: 120``."""
    v = (doc_id // 10) % 5
    if v == 0:
        return None
    if v == 1:
        return encode_http_response(
            301, "Moved Permanently",
            [("Location", location_301), ("Content-Type", "text/html")],
            b"<html><body>Moved</body></html>",
        )
    if v == 2:
        return encode_http_response(
            302, "Found",
            [("Location", f"/doc/{doc_id}/new"), ("Content-Type", "text/html")],
            b"<html><body>Found elsewhere</body></html>",
        )
    if v == 3:
        return encode_http_response(
            404, "Not Found", [("Content-Type", "text/html")],
            b"<html><body>No such page</body></html>",
        )
    return encode_http_response(
        503, "Service Unavailable",
        [("Retry-After", "120"), ("Content-Type", "text/html")],
        b"<html><body>Try later</body></html>",
    )


def encode_warc(
    docs: "list[tuple[int, bytes]]",
    per_record_gzip: bool = True,
    uris: "list[str] | None" = None,
    content_types: "list[str] | None" = None,
    transfer_modes: "list[str] | None" = None,
    http_messages: "list[bytes] | None" = None,
) -> bytes:
    """(doc_id, body bytes) pairs → a WARC/1.0 archive in the Common
    Crawl shape: one warcinfo record, then a request + response pair per
    document (the response wraps the body in an HTTP/1.1 200 message).
    ``per_record_gzip`` emits each record as its own gzip member, the
    layout crawl tooling expects; record ids derive from the doc ids, so
    the output is deterministic. ``uris`` overrides the default
    ``WARC-Target-URI`` per document (aligned with ``docs``);
    ``transfer_modes`` serves each document's HTTP body in a transfer
    shape (:func:`encode_http_payload` — chunked / gzip / deflate /
    gzip+chunked — Common Crawl stores responses AS SERVED);
    ``http_messages`` overrides the response's HTTP block entirely
    (aligned with ``docs``; entries may be None for the default 200
    path — :func:`encode_http_response` builds redirect/error shapes);
    the default path's bytes are pinned unchanged (tests/test_warc.py)."""
    records = []
    for i, (doc_id, body) in enumerate(docs):
        uri = uris[i] if uris is not None else f"http://example.com/doc/{doc_id}"
        records.append(
            warc_record(
                "request",
                {
                    "WARC-Target-URI": uri,
                    "Content-Type": "application/http; msgtype=request",
                },
                f"GET /doc/{doc_id} HTTP/1.1\r\nHost: example.com\r\n\r\n".encode(),
                f"{doc_id:08x}-0000-0000-0000-000000000001",
            )
        )
        http = http_messages[i] if http_messages is not None else None
        if http is None:
            ct = content_types[i] if content_types is not None else "text/plain; charset=utf-8"
            mode = transfer_modes[i] if transfer_modes is not None else "identity"
            wire, extra = encode_http_payload(body, mode)
            http = encode_http_response(200, "OK", [("Content-Type", ct), *extra], wire)
        records.append(
            warc_record(
                "response",
                {
                    "WARC-Target-URI": uri,
                    "Content-Type": "application/http; msgtype=response",
                },
                http,
                f"{doc_id:08x}-0000-0000-0000-000000000002",
            )
        )
    return warc_file(
        "youbike-etl-pipeline-spark",
        "00000000-0000-0000-0000-000000000000",
        records,
        per_record_gzip,
    )
