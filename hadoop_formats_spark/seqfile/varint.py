"""Hadoop variable-length integer ("VLong" / "VInt") codec.

Wire format (reference: ``src/Data/Hadoop/SequenceFile/Parser.hs:135-152``,
``cbits/decode.c:40-72``, ``src/Data/Hadoop/Writable.hs:140-147``):

* first byte ``b`` interpreted as signed int8;
* ``b >= -112``  → the value is ``b`` itself (1 byte total);
* ``b <  -120``  → negative number of total size ``-119 - b``: the
  following ``size-1`` bytes hold the bitwise complement, big-endian;
* ``-120 <= b < -112`` → positive, total size ``-111 - b``.

``vint_size`` is the one statement of that size rule; ``decode_vint``,
the vectorized ``vint_sizes`` and the SequenceFile stream reader all go
through it.  ``encode_vints`` is the one array encoder.
"""

from __future__ import annotations

import numpy as np


def vint_size(first: int) -> int:
    """Total encoded size of a varint given its (unsigned) first byte —
    Hadoop ``decodeVIntSize`` (``Writable.hs:140-147``)."""
    b = first - 0x100 if first >= 0x80 else first
    if b >= -112:
        return 1
    return (-119 - b) if b < -120 else (-111 - b)


_SIZES = np.array([vint_size(b) for b in range(256)], dtype=np.int64)


def decode_vint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one Hadoop varint at ``pos``; returns (value, new_pos).
    Raises ``IndexError`` when ``buf`` ends inside the varint."""
    first = buf[pos]
    size = vint_size(first)
    if size == 1:
        return (first - 0x100 if first >= 0x80 else first), pos + 1
    if pos + size > len(buf):
        raise IndexError("truncated varint")
    value = int.from_bytes(buf[pos + 1 : pos + size], "big")
    negative = first < 0x88  # signed first byte < -120
    return (~value if negative else value), pos + size


def encode_vint(value: int) -> bytes:
    """Encode one Hadoop varint (matches Hadoop WritableUtils.writeVLong)."""
    if -112 <= value <= 127:
        return bytes([value & 0xFF])
    negative = value < 0
    if negative:
        value = ~value
    nbytes = (value.bit_length() + 7) // 8
    first = (-120 - nbytes) if negative else (-112 - nbytes)
    return bytes([first & 0xFF]) + value.to_bytes(nbytes, "big")


def vint_sizes(first_bytes: np.ndarray) -> np.ndarray:
    """Vectorized ``vint_size``: total encoded size of each varint given
    its first byte (a uint8 array)."""
    return _SIZES[first_bytes]


def encode_vints(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized ``encode_vint`` over an int64 array: (the back-to-back
    encodings as one uint8 array, each value's encoded size).

    Each value becomes a row of 9 bytes: the marker byte then the
    8-byte big-endian magnitude, right-aligned so the value's encoding
    is the row's last ``size`` bytes (the marker overwrites a leading
    zero byte of the magnitude)."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    negative = v < 0
    magnitude = np.where(negative, ~v, v)
    nbytes = sum((magnitude >> (8 * k)) > 0 for k in range(8)).astype(np.int64)
    direct = (v >= -112) & (v <= 127)
    nbytes[direct] = 0
    marker = np.where(direct, v, np.where(negative, -120, -112) - nbytes) & 0xFF
    rows = np.empty((n, 9), dtype=np.uint8)
    rows[:, 1:] = magnitude.astype(">u8").view(np.uint8).reshape(n, 8)
    rows[np.arange(n), 8 - nbytes] = marker
    sizes = nbytes + 1
    return rows[np.arange(9) >= 9 - sizes[:, None]], sizes


def encode_vint_array(values: np.ndarray) -> bytes:
    """Encode an int array as back-to-back Hadoop varints."""
    return encode_vints(values)[0].tobytes()


def decode_vint_array(buf: bytes | memoryview, count: int) -> np.ndarray:
    """Decode ``count`` back-to-back Hadoop varints (a lengths buffer).

    Vectorized for the overwhelmingly common all-1-byte case (per-record
    lengths < 128, e.g. short Text values); falls back to a Python loop
    only for the residue of multi-byte entries.
    """
    arr = np.frombuffer(buf, dtype=np.uint8)
    if count == 0:
        return np.zeros(0, dtype=np.int64)
    if len(arr) == count:
        # every varint is a single byte → pure vector path
        if (_SIZES[arr] != 1).any():
            raise ValueError("lengths buffer size mismatch")
        return arr.view(np.int8).astype(np.int64)
    out = np.empty(count, dtype=np.int64)
    data = bytes(buf)
    pos = 0
    for i in range(count):
        out[i], pos = decode_vint(data, pos)
    if pos != len(data):
        raise ValueError("trailing bytes after varint lengths")
    return out
