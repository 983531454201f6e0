"""Client-side decoding of remote-read responses, independent of the
program's own codec, so an answer check never trusts the code it checks
and never shows up in a trace of it."""

from __future__ import annotations

import struct

from loadgen import unsnappy


def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[pos]
        n |= (b & 0x7F) << shift
        pos += 1
        if b < 0x80:
            return n, pos
        shift += 7


def fields(buf: bytes):
    """Yield ``(field, value)``: ints for varint/fixed64, bytes for
    length-delimited fields."""
    pos, end = 0, len(buf)
    while pos < end:
        key, pos = _uvarint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _uvarint(buf, pos)
        elif wire == 1:
            v = buf[pos : pos + 8]
            pos += 8
        elif wire == 2:
            n, pos = _uvarint(buf, pos)
            v = buf[pos : pos + n]
            pos += n
        elif wire == 5:
            v = buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, v


def _labels(buf: bytes) -> tuple[str, str]:
    name = value = ""
    for f, v in fields(buf):
        if f == 1:
            name = v.decode()
        elif f == 2:
            value = v.decode()
    return name, value


def sampled_response(body: bytes) -> list[list[tuple[dict, list[tuple[int, float]]]]]:
    """Snappy ReadResponse → per query, ``(labels, [(ts, value), ...])``."""
    out = []
    for f, qr in fields(unsnappy(body)):
        if f != 1:
            continue
        series = []
        for g, ts in fields(qr):
            if g != 1:
                continue
            labels, samples = {}, []
            for h, v in fields(ts):
                if h == 1:
                    n, val = _labels(v)
                    labels[n] = val
                elif h == 2:
                    value, t = 0.0, 0
                    for i, x in fields(v):
                        if i == 1:
                            value = struct.unpack("<d", x)[0]
                        elif i == 2:
                            t = x
                    samples.append((t, value))
            series.append((labels, samples))
        out.append(series)
    return out


def streamed_response(body: bytes) -> list[tuple[int, dict, int, int, int]]:
    """Framed ChunkedReadResponse stream → per series
    ``(query_index, labels, samples, first_ms, last_ms)``; the sample count
    is the XOR chunk header (uint16 big-endian)."""
    out = []
    pos = 0
    while pos < len(body):
        n, pos = _uvarint(body, pos)
        msg = body[pos + 4 : pos + 4 + n]  # skip the CRC32C
        pos += 4 + n
        qi = 0
        series = []
        for f, v in fields(msg):
            if f == 2:
                qi = v
            elif f == 1:
                labels, count, lo, hi = {}, 0, None, None
                for g, x in fields(v):
                    if g == 1:
                        name, val = _labels(x)
                        labels[name] = val
                    elif g == 2:
                        chunk = dict(fields(x))
                        count += struct.unpack(">H", chunk[4][:2])[0]
                        lo = chunk.get(1, 0) if lo is None else lo
                        hi = chunk.get(2, 0)
                series.append((labels, count, lo, hi))
        out += [(qi, *s) for s in series]
    return out
