"""WARC ``revisit`` records (ISO 28500-2017 §6.7.2) — the archive-level
dedup mechanism Common Crawl and every Heritrix-style crawler use: when
a fetched payload's digest matches a prior capture, the archive stores
a small ``revisit`` record REFERENCING the earlier response instead of
re-storing the body.

Writer (:func:`encode_revisit_warc`): emits the
``identical-payload-digest`` profile — the revisit record carries

- ``WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest``,
- ``WARC-Refers-To`` (record id of the original response),
- ``WARC-Refers-To-Target-URI`` / ``WARC-Refers-To-Date`` (so readers
  can resolve across archives without an id index),
- ``WARC-Payload-Digest: sha1:<base32>`` (the digest that matched),
- a block holding ONLY the HTTP response headers as served (the spec:
  "the record block contains the protocol response headers"; the
  payload itself is elided — that is the point),

while original captures are full response records carrying their own
``WARC-Payload-Digest`` so the digest equation is checkable from the
archive alone. Reader (:func:`resolve_revisits`) re-links each revisit
to its referenced record and verifies the digest — the consume side a
training pipeline needs to reconstruct deduplicated payloads.

This chains t54's dedup DECISION (first capture by id owns the
payload) into the archive FORMAT, completing the Common Crawl artifact
story (WARC mm26/mm34, WET mm37, CDX mm39).

Reference parity: no crawl machinery in the reference repo (SURVEY.md
§2 ext rows). Cost posture: same as the WARC family — per-record
stdlib parsing inside a shuffle-free Arrow pass, linear in bytes.
"""

from __future__ import annotations

import base64
import hashlib

from .warc import (
    WARC_DATE,
    encode_http_response,
    parse_warc,
    split_http_message,
    warc_file,
    warc_header,
    warc_record,
    warc_type,
)

__all__ = [
    "REVISIT_PROFILE",
    "encode_revisit_warc",
    "payload_digest",
    "resolve_revisits",
]

REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"
)


def payload_digest(body: bytes) -> str:
    """WARC payload digest in the labelled form crawl tooling emits:
    ``sha1:`` + RFC 4648 base32 of the SHA-1 of the payload octets."""
    return "sha1:" + base64.b32encode(hashlib.sha1(body).digest()).decode()


def _rid(doc_id: int) -> str:
    """Deterministic response-record id, the same scheme
    :func:`..operators.warc.encode_warc` assigns (``...-0002``)."""
    return f"{doc_id:08x}-0000-0000-0000-000000000002"


def encode_revisit_warc(
    docs: "list[tuple[int, bytes, int | None]]", per_record_gzip: bool = True
) -> bytes:
    """(doc_id, body, refers_to_doc) triples → a WARC/1.0 archive where
    ``refers_to_doc is None`` emits a FULL response record (HTTP 200
    identity, ``WARC-Payload-Digest`` of the body) and a duplicate
    emits a ``revisit`` record referencing the original's record id /
    URI / date, block = the HTTP headers only. ``per_record_gzip``
    selects the per-member layout exactly like ``encode_warc``; ids
    derive from doc ids so output is deterministic and
    decode(encode(...)) is oracle-checkable."""
    records = []
    for doc_id, body, ref in docs:
        uri = f"http://example.com/doc/{doc_id}"
        digest = payload_digest(body)
        http = encode_http_response(200, "OK", [("Content-Type", "text/plain")], body)
        if ref is None:
            rec = warc_record(
                "response",
                {
                    "WARC-Target-URI": uri,
                    "WARC-Payload-Digest": digest,
                    "Content-Type": "application/http; msgtype=response",
                },
                http,
                _rid(doc_id),
            )
        else:
            rec = warc_record(
                "revisit",
                {
                    "WARC-Target-URI": uri,
                    "WARC-Profile": REVISIT_PROFILE,
                    "WARC-Refers-To": f"<urn:uuid:{_rid(ref)}>",
                    "WARC-Refers-To-Target-URI": (
                        f"http://example.com/doc/{ref}"
                    ),
                    "WARC-Refers-To-Date": WARC_DATE,
                    "WARC-Payload-Digest": digest,
                    "Content-Type": "application/http; msgtype=response",
                },
                http[: len(http) - len(body)],  # headers as served; payload elided
                _rid(doc_id)[:-1] + "3",
            )
        records.append(rec)
    return warc_file(
        "youbike-etl-pipeline-spark (revisit)",
        "00000000-0000-0000-0000-000000000000",
        records,
        per_record_gzip,
    )


def _http_payload(block: bytes) -> bytes:
    """Payload octets of an HTTP message block (after CRLF CRLF); the
    whole block when no header separator is present."""
    parts = split_http_message(block)
    return block if parts is None else parts[1]


def resolve_revisits(payload: bytes) -> "list[dict]":
    """Parse an archive and re-link every ``revisit`` record to the
    referenced response IN the archive (the per-file case; cross-file
    resolution at scale is a join on the emitted ``refers_to`` id).
    Returns one dict per response/revisit record:

    - ``uri``, ``is_revisit``,
    - ``refers_to`` (referenced record id, revisits only),
    - ``digest_ok`` — the record's declared payload digest equals the
      recomputed digest of the governing payload: for a response, its
      own block's payload; for a revisit, the referenced response's
      payload (None when no digest is declared, or when a revisit's
      reference is not in this archive),
    - ``payload`` — the USABLE payload after dedup resolution: the
      record's own for responses, the referenced response's for
      resolvable revisits (None otherwise)."""
    records = parse_warc(payload)
    by_id: dict[str, dict] = {}
    for r in records:
        rid = warc_header(r, "warc-record-id")
        if rid:
            by_id[rid.strip("<>")] = r

    out: list[dict] = []
    for r in records:
        rtype = warc_type(r)
        if rtype not in ("response", "revisit"):
            continue
        row: dict = {
            "uri": warc_header(r, "warc-target-uri", None),
            "is_revisit": rtype == "revisit",
            "refers_to": None,
            "digest_ok": None,
            "payload": None,
        }
        if rtype == "response":
            body = _http_payload(r["block"])
            row["payload"] = body
            declared = warc_header(r, "warc-payload-digest", None)
            if declared is not None:
                row["digest_ok"] = declared == payload_digest(body)
        else:
            ref_id = warc_header(r, "warc-refers-to").strip("<>")
            row["refers_to"] = ref_id or None
            target = by_id.get(ref_id)
            if target is not None and warc_type(target) == "response":
                body = _http_payload(target["block"])
                row["payload"] = body
                declared = warc_header(r, "warc-payload-digest", None)
                row["digest_ok"] = (
                    declared == payload_digest(body)
                    if declared is not None
                    else None
                )
        out.append(row)
    return out
