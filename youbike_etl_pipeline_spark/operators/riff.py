"""RIFF chunks — the container of WAV, AVI and WebP — read and written in
one place.

A RIFF file is one ``RIFF`` chunk whose body is a four-byte form type
(``WAVE``, ``AVI ``, ``WEBP``) followed by chunks. Each chunk is a
four-byte tag, a little-endian u32 body size, the body, and one pad
byte when the size is odd, so every chunk starts word-aligned. A
``LIST`` chunk's body is a four-byte list type followed by chunks.

Malformed-input rule, the same for every reader: the walk stops at the
RIFF size or at the end of the buffer, whichever comes first (a file
cut short ends early); a chunk whose body runs past the end of the
chunk that holds it raises ``ValueError``; fewer than eight trailing
bytes are not a chunk and are ignored, as is a pad byte missing at the
end.
"""

from __future__ import annotations

import struct
from collections.abc import Container, Iterator


def riff_chunk(tag: bytes, body: bytes) -> bytes:
    """One chunk: tag, size, body, and the pad byte an odd size needs."""
    return tag + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)


def riff_file(form: bytes, *chunks: bytes) -> bytes:
    """A RIFF file of ``form`` holding ``chunks`` (each from
    :func:`riff_chunk`)."""
    return riff_chunk(b"RIFF", form + b"".join(chunks))


def riff_list(ltype: bytes, *chunks: bytes) -> bytes:
    """A ``LIST`` chunk of list type ``ltype`` holding ``chunks``."""
    return riff_chunk(b"LIST", ltype + b"".join(chunks))


def riff_form(payload: bytes) -> "bytes | None":
    """The form type of a RIFF file, or None when ``payload`` is not one."""
    return payload[8:12] if payload[:4] == b"RIFF" else None


def riff_chunks(
    payload: bytes, lists: "Container[bytes]" = ()
) -> Iterator[tuple[bytes, bytes]]:
    """``(tag, body)`` of each chunk of a RIFF file (:func:`riff_form`
    must have accepted it), in file order. A ``LIST`` chunk yields its
    list type as its body; when that type is in ``lists`` its chunks
    follow it, depth first. Bounds follow the module's malformed-input
    rule."""
    (declared,) = struct.unpack_from("<I", payload, 4)

    def walk(pos: int, end: int) -> Iterator[tuple[bytes, bytes]]:
        while pos + 8 <= end:
            tag = payload[pos : pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            start, stop = pos + 8, pos + 8 + size
            if stop > end:
                raise ValueError(f"truncated RIFF chunk {tag!r}")
            if tag == b"LIST":
                ltype = payload[start : min(start + 4, stop)]
                yield tag, ltype
                if ltype in lists:
                    yield from walk(start + 4, stop)
            else:
                yield tag, payload[start:stop]
            pos = stop + (size & 1)

    return walk(12, min(8 + declared, len(payload)))
