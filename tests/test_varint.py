"""Hadoop VLong codec tests, including the multi-byte and negative paths
(reference semantics: Parser.hs:135-152, Writable.hs:140-147)."""

import numpy as np
from hypothesis import given, strategies as st

from hadoop_formats_spark.seqfile.varint import (
    decode_vint,
    decode_vint_array,
    encode_vint,
    encode_vint_array,
    vint_sizes,
)


def test_known_values():
    # single byte: -112..127 encode as themselves
    assert encode_vint(0) == b"\x00"
    assert encode_vint(127) == b"\x7f"
    assert encode_vint(-112) == bytes([(-112) & 0xFF])
    # 128 needs 2 bytes: first byte -113 (0x8f), then 0x80
    assert encode_vint(128) == bytes([0x8F, 0x80])
    assert decode_vint(bytes([0x8F, 0x80]), 0) == (128, 2)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_roundtrip(v):
    buf = encode_vint(v)
    got, pos = decode_vint(buf, 0)
    assert got == v
    assert pos == len(buf)


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=50))
def test_array_encoding_matches_per_value(vals):
    assert encode_vint_array(vals) == b"".join(encode_vint(v) for v in vals)


@given(st.lists(st.integers(min_value=0, max_value=10_000), max_size=200))
def test_array_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    buf = encode_vint_array(arr)
    out = decode_vint_array(buf, len(vals))
    assert out.tolist() == vals


def test_vint_sizes_vectorized():
    values = [0, 1, 127, -112, 128, 255, 300, 70000, -1, -113, 2**40]
    firsts = np.array([encode_vint(v)[0] for v in values], dtype=np.uint8)
    sizes = vint_sizes(firsts)
    assert sizes.tolist() == [len(encode_vint(v)) for v in values]
