"""Raw Snappy codec, native through pyarrow's bundled libsnappy.

Implements the raw Snappy block format (format description:
https://github.com/google/snappy/blob/main/format_description.txt) —
the format Hadoop's SnappyCodec feeds through its
``BlockCompressorStream`` framing (reference: ``cbits/decode.c:76-118``
decompresses the same chunks via libsnappy).  Both directions run in
C through pyarrow's bundled Snappy codec; there is no pure-Python path.

The codec is named per call rather than held as a module-level
``pa.Codec``: ``__spark_entry__`` pickles this package by value for a
bare driver session, and a ``pa.Codec`` cannot be pickled.
"""

from __future__ import annotations

import pyarrow as pa

# The densest element is a copy-2: 3 input bytes emit up to 64 output
# bytes, so no valid block decodes to more than 64/3 < 22 bytes per
# input byte.  A larger preamble is corrupt; rejecting it up front keeps
# a flipped varint from requesting a multi-GiB output buffer.
_MAX_EXPANSION = 22


class SnappyError(ValueError):
    pass


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    """Little-endian base-128 varint (the Snappy preamble length)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise SnappyError("truncated snappy preamble")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 35:
            raise SnappyError("snappy preamble varint too long")


def _write_uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decompress(buf: bytes) -> bytes:
    """Decompress one raw Snappy block.

    The preamble length is passed to pyarrow as the exact output size:
    given a larger size pyarrow returns that many bytes, the tail
    uninitialised, instead of failing."""
    expected, _ = _read_uvarint(buf, 0)
    if expected > _MAX_EXPANSION * len(buf):
        raise SnappyError(
            f"snappy preamble claims {expected} bytes from a {len(buf)}-byte block"
        )
    try:
        return pa.decompress(
            buf, decompressed_size=expected, codec="snappy", asbytes=True
        )
    except (OSError, pa.ArrowException) as ex:
        raise SnappyError(f"corrupt snappy block: {ex}") from ex


def compress(buf: bytes) -> bytes:
    """Compress to one raw Snappy block."""
    return pa.compress(buf, codec="snappy", asbytes=True)
