"""Snappy block-format codec (S3) over ``pyarrow.Codec("snappy")``.

The reference uses snappy for every wire payload (``handlers/prom.go:136-150,
264-277``); SURVEY S3 keeps it an edge-layer concern. The block format
(google/snappy format_description.txt) starts with a varint preamble that
states the decoded size; pyarrow wants that size up front, so
``decompress`` reads it first and checks it before allocating:

- every element after the preamble is at least 3 bytes per 64 decoded
  bytes (COPY-2, the densest element), so a preamble above 64/3 of the
  remaining bytes cannot be honest and is rejected — a 10-byte body never
  makes the server allocate gigabytes;
- every malformed body raises ``ValueError`` (pyarrow's ``OSError``
  included), which the HTTP layer answers with 400.
"""

from __future__ import annotations

import pyarrow as pa

_CODEC = pa.Codec("snappy")


def _preamble(data: bytes) -> tuple[int, int]:
    """The decoded size (uint32 varint) and the offset of the first element."""
    size = shift = pos = 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated varint")
        b = data[pos]
        pos += 1
        size |= (b & 0x7F) << shift
        if not b & 0x80:
            return size, pos
        shift += 7
        if shift > 28:
            raise ValueError("snappy: varint too long")


def decompress(data: bytes) -> bytes:
    size, pos = _preamble(data)
    rest = len(data) - pos
    if 3 * size > 64 * rest:  # a 3-byte COPY-2 element yields at most 64 bytes
        raise ValueError(f"snappy: preamble claims {size} bytes from {rest}")
    try:
        return _CODEC.decompress(data, decompressed_size=size, asbytes=True)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"snappy: {e}") from e


def compress(data: bytes) -> bytes:
    return _CODEC.compress(data, asbytes=True)
