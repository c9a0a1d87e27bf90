"""Property-based round-trip tests (hypothesis): arbitrary values of
every Writable type survive write→read bit-exactly, across block sizes
that force single- and multi-block files, including the values most
likely to break varint/length/prefix handling (empty strings, NUL
bytes, non-ASCII, extremes)."""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hadoop_formats_spark.seqfile import read_file, write_table

SETTINGS = dict(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

text_values = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=["Cs"]), max_size=64
    ),
    min_size=1,
    max_size=300,
)
int_values = st.lists(
    st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=300
)
long_values = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=300
)
double_values = st.lists(
    st.floats(allow_nan=False), min_size=1, max_size=300
)
bytes_values = st.lists(st.binary(max_size=64), min_size=1, max_size=300)


def _roundtrip(tmp_path, key_arr, value_arr, block_records):
    t = pa.table({"key": key_arr, "value": value_arr})
    path = str(tmp_path / "prop.seq")
    write_table(path, t, block_records=block_records)
    back = read_file(path)
    assert back.column("key").to_pylist() == t.column("key").to_pylist()
    assert back.column("value").to_pylist() == t.column("value").to_pylist()


@settings(**SETTINGS)
@given(keys=text_values, block=st.sampled_from([7, 100, 65536]))
def test_text_int_roundtrip(tmp_path_factory, keys, block):
    tmp = tmp_path_factory.mktemp("p")
    vals = list(range(len(keys)))
    _roundtrip(
        tmp,
        pa.array(keys, pa.string()),
        pa.array(vals, pa.int32()),
        block,
    )


@settings(**SETTINGS)
@given(vals=double_values, block=st.sampled_from([3, 64]))
def test_long_double_roundtrip(tmp_path_factory, vals, block):
    tmp = tmp_path_factory.mktemp("p")
    keys = list(range(len(vals)))
    _roundtrip(
        tmp, pa.array(keys, pa.int64()), pa.array(vals, pa.float64()), block
    )


@settings(**SETTINGS)
@given(vals=bytes_values, block=st.sampled_from([5, 128]))
def test_bytes_text_roundtrip(tmp_path_factory, vals, block):
    tmp = tmp_path_factory.mktemp("p")
    keys = [f"k{i}" for i in range(len(vals))]
    _roundtrip(
        tmp, pa.array(keys, pa.string()), pa.array(vals, pa.binary()), block
    )


@settings(**SETTINGS)
@given(vals=long_values)
def test_long_extremes_roundtrip(tmp_path_factory, vals):
    tmp = tmp_path_factory.mktemp("p")
    keys = list(range(len(vals)))
    _roundtrip(tmp, pa.array(keys, pa.int64()), pa.array(vals, pa.int64()), 50)


@settings(**SETTINGS)
@given(vals=int_values, block=st.sampled_from([9, 4096]))
def test_short_float_roundtrip(tmp_path_factory, vals, block):
    tmp = tmp_path_factory.mktemp("p")
    shorts = pa.array([v % 32768 - 16384 for v in vals], pa.int16())
    floats = pa.array([float(v % 1000) / 7.0 for v in vals], pa.float32())
    _roundtrip(tmp, shorts, floats, block)


# -- layout/codec matrix (round 2): the same adversarial values must
#    survive every (layout, codec) combination, not just BLOCK+Snappy --

from hadoop_formats_spark.seqfile import core as _core

_LAYOUTS = [
    ("block", _core.DEFAULT_CODEC),
    ("block", _core.BZIP2_CODEC),
    ("record", _core.SNAPPY_CODEC),
    ("record", _core.DEFAULT_CODEC),
    ("none", _core.SNAPPY_CODEC),
]


def _roundtrip_layout(tmp_path, key_arr, value_arr, ctype, codec):
    t = pa.table({"key": key_arr, "value": value_arr})
    path = str(tmp_path / "prop.seq")
    write_table(
        path, t, block_records=100, compression_type=ctype, codec=codec
    )
    back = read_file(path)
    assert back.column("key").to_pylist() == t.column("key").to_pylist()
    assert back.column("value").to_pylist() == t.column("value").to_pylist()


@settings(**SETTINGS)
@given(keys=text_values, combo=st.sampled_from(_LAYOUTS))
def test_layout_matrix_text_long(tmp_path_factory, keys, combo):
    tmp = tmp_path_factory.mktemp("pl")
    vals = list(range(len(keys)))
    _roundtrip_layout(
        tmp, pa.array(keys, pa.string()), pa.array(vals, pa.int64()), *combo
    )


@settings(**SETTINGS)
@given(vals=bytes_values, combo=st.sampled_from(_LAYOUTS))
def test_layout_matrix_long_bytes(tmp_path_factory, vals, combo):
    tmp = tmp_path_factory.mktemp("pb")
    keys = list(range(len(vals)))
    _roundtrip_layout(
        tmp, pa.array(keys, pa.int64()), pa.array(vals, pa.binary()), *combo
    )


# -- the variable-width prefix layout at its boundaries: record byte
#    lengths straddle the VInt size steps (0, 127/128, 255/256,
#    65535/65536), in ASCII and in multi-byte UTF-8 --

import struct

from hadoop_formats_spark.seqfile import bloom
from hadoop_formats_spark.seqfile.varint import encode_vint

TEXT = "org.apache.hadoop.io.Text"
BYTES = "org.apache.hadoop.io.BytesWritable"
_EDGES = [0, 1, 127, 128, 255, 256, 65535, 65536]
byte_lengths = st.one_of(
    st.sampled_from(_EDGES).flatmap(
        lambda e: st.integers(max(0, e - 2), e + 2)
    ),
    st.integers(0, 300),
)


@st.composite
def boundary_texts(draw):
    """A string of an exact UTF-8 byte length, built from one character
    of 1-4 bytes plus ASCII filler."""
    length = draw(byte_lengths)
    ch = draw(st.sampled_from(["a", "é", "€", "𝄞"]))
    width = len(ch.encode("utf-8"))
    return ch * (length // width) + "z" * (length % width)


boundary_bytes = byte_lengths.flatmap(
    lambda n: st.sampled_from([b"\x00", b"\xff", b"\x80"]).map(lambda b: b * n)
)


_FIXED = {
    "org.apache.hadoop.io.ShortWritable": ">h",
    "org.apache.hadoop.io.IntWritable": ">i",
    "org.apache.hadoop.io.LongWritable": ">q",
    "org.apache.hadoop.io.FloatWritable": ">f",
    "org.apache.hadoop.io.DoubleWritable": ">d",
}


def _reference(java_class, values) -> list[bytes]:
    """The per-record Writable serialization, one record at a time."""
    out = []
    for v in values:
        if java_class == TEXT:
            b = v.encode("utf-8")
            out.append(encode_vint(len(b)) + b)
        elif java_class == BYTES:
            out.append(struct.pack(">i", len(v)) + v)
        else:
            out.append(struct.pack(_FIXED[java_class], v))
    return out


@settings(**SETTINGS)
@given(
    texts=st.lists(boundary_texts(), min_size=1, max_size=12),
    blobs=st.lists(boundary_bytes, min_size=1, max_size=12),
    layout=st.sampled_from(["block", "record", "none"]),
)
def test_prefix_layout_boundaries(tmp_path_factory, texts, blobs, layout):
    n = min(len(texts), len(blobs))
    texts, blobs = texts[:n], blobs[:n]
    for java_class, values, arr in (
        (TEXT, texts, pa.array(texts, pa.string())),
        (BYTES, blobs, pa.array(blobs, pa.binary())),
    ):
        ref = _reference(java_class, values)
        lengths, data = _core._encode_column_np(java_class, arr)
        assert data == b"".join(ref)
        assert lengths.tolist() == [len(r) for r in ref]
        section, data = _core._encode_column(java_class, arr)
        assert section == b"".join(encode_vint(len(r)) for r in ref)
        decoded = _core._decode_column(java_class, section, data, n)
        assert decoded.to_pylist() == values
    tmp = tmp_path_factory.mktemp("pp")
    _roundtrip_layout(
        tmp, pa.array(texts, pa.string()), pa.array(blobs, pa.binary()), layout, _core.SNAPPY_CODEC
    )


@settings(**SETTINGS)
@given(
    texts=st.lists(boundary_texts(), min_size=1, max_size=8),
    blobs=st.lists(boundary_bytes, min_size=1, max_size=8),
    longs=long_values,
    doubles=double_values,
)
def test_bloom_keys_match_reference(texts, blobs, longs, doubles):
    shorts = [v % 65536 - 32768 for v in longs]
    ints = [v % 2**32 - 2**31 for v in longs]
    floats = [struct.unpack(">f", struct.pack(">f", v))[0] for v in doubles if abs(v) < 3e38]
    for java_class, values in (
        (TEXT, texts),
        (BYTES, blobs),
        ("org.apache.hadoop.io.ShortWritable", shorts),
        ("org.apache.hadoop.io.IntWritable", ints),
        ("org.apache.hadoop.io.LongWritable", longs),
        ("org.apache.hadoop.io.FloatWritable", floats),
        ("org.apache.hadoop.io.DoubleWritable", doubles),
    ):
        ref = _reference(java_class, values)
        assert [bloom.serialize_key(v, java_class) for v in values] == ref
        arr = pa.array(values, _core.WRITABLES[java_class][0])
        assert bloom.serialize_keys(arr, java_class) == ref
