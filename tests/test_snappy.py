"""Raw Snappy codec tests (round-trip + handwritten vectors + a fuzz of
the Hadoop-framed codec boundary)."""

import pickle
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_formats_spark.seqfile import core, snappy


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"hello world " * 100,
        bytes(range(256)) * 300,
        b"\x00" * 100000,
    ],
)
def test_roundtrip(data):
    assert snappy.decompress(snappy.compress(data)) == data


def test_copy_elements():
    # hand-built stream: literal "abcd" then copy-1 (offset 4, len 4)
    # preamble 8, literal tag (4-1)<<2 = 0x0c, copy-1: len 4 -> (4-4)<<2|1,
    # offset 4 -> high 3 bits 0, low byte 4
    stream = bytes([8, 0x0C]) + b"abcd" + bytes([0x01, 0x04])
    assert snappy.decompress(stream) == b"abcdabcd"


def test_overlapping_copy_rle():
    # literal "x" then copy offset 1 len 7 => "x"*8 (RLE via overlap)
    stream = bytes([8, 0x00]) + b"x" + bytes([(7 - 4) << 2 | 0x01, 0x01])
    assert snappy.decompress(stream) == b"x" * 8


def test_copy2():
    data = b"0123456789" * 10
    # literal of 100 bytes, then copy-2 offset 100 len 50
    lit = bytes([(60 << 2)]) + bytes([99])
    copy2 = bytes([(50 - 1) << 2 | 0x02]) + (100).to_bytes(2, "little")
    stream = snappy._write_uvarint(150) + lit + data + copy2
    assert snappy.decompress(stream) == data + data[:50]


def test_bad_offset_raises():
    stream = bytes([8, 0x00]) + b"x" + bytes([0x01, 0x05])  # offset 5 > produced 1
    with pytest.raises(snappy.SnappyError):
        snappy.decompress(stream)


def test_truncated_raises():
    good = snappy.compress(b"hello world, hello world")
    with pytest.raises(snappy.SnappyError):
        snappy.decompress(good[:-3])


def test_oversized_preamble_raises_before_allocating():
    # 5-byte varint claiming 4 GiB, then one literal byte: no valid block
    # expands 22x, so this fails on the preamble, not in an allocation
    stream = bytes([0x80, 0x80, 0x80, 0x80, 0x10, 0x00]) + b"x"
    assert snappy._read_uvarint(stream, 0) == (1 << 32, 5)
    with pytest.raises(snappy.SnappyError, match="preamble claims"):
        snappy.decompress(stream)


def test_codec_pickles_by_value():
    """``__spark_entry__`` ships this package to bare-session workers by
    value; the codec functions must survive that (a ``pa.Codec`` held
    at module level cannot be pickled)."""
    import hadoop_formats_spark
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(hadoop_formats_spark)
    try:
        comp, dec = (
            pickle.loads(cloudpickle.dumps(f))
            for f in (snappy.compress, snappy.decompress)
        )
    finally:
        cloudpickle.unregister_pickle_by_value(hadoop_formats_spark)
    assert dec(comp(b"abc" * 100)) == b"abc" * 100


def test_compresses_repetitive_input():
    data = b"hello world " * 1000
    assert len(snappy.compress(data)) < len(data) // 10


# ---------------------------------------------------------------------------
# Codec boundary fuzz: damaged Hadoop-framed streams fail only with
# SeqFileError, whose cause is a SnappyError or nothing
# ---------------------------------------------------------------------------

_HAND_BUILT = [  # (plain, raw snappy block) from the stream cases above
    (b"abcdabcd", bytes([8, 0x0C]) + b"abcd" + bytes([0x01, 0x04])),
    (b"x" * 8, bytes([8, 0x00]) + b"x" + bytes([(7 - 4) << 2 | 0x01, 0x01])),
    (
        b"0123456789" * 10 + b"0123456789" * 5,
        snappy._write_uvarint(150)
        + bytes([60 << 2, 99])
        + b"0123456789" * 10
        + bytes([(50 - 1) << 2 | 0x02])
        + (100).to_bytes(2, "little"),
    ),
]

_compressible = st.lists(
    st.sampled_from([b"hello ", b"world ", b"seq", b"\x00" * 9, b"abcabcabc"]),
    max_size=120,
).map(b"".join)
_plain = st.one_of(_compressible, st.binary(max_size=600))
_chunk = st.one_of(
    _plain.map(lambda p: (p, snappy.compress(p))), st.sampled_from(_HAND_BUILT)
)


def _frame(chunks):
    """Hadoop BlockCompressorStream framing around raw snappy chunks."""
    out = struct.pack(">I", sum(len(p) for p, _ in chunks))
    for _, c in chunks:
        out += struct.pack(">I", len(c)) + c
    return out


def _assert_framed_length_or_seqfile_error(decode, buf):
    """``decode(buf)`` returns the framed total length, or raises
    SeqFileError from a SnappyError or from the framing itself."""
    try:
        out = decode(buf)
    except core.SeqFileError as ex:
        cause = ex.__cause__
        assert cause is None or isinstance(cause, snappy.SnappyError), repr(cause)
        return
    assert len(out) == struct.unpack(">I", buf[:4])[0]


@given(st.lists(_chunk, min_size=1, max_size=3), st.integers(1, 255))
@settings(max_examples=40, deadline=None)
def test_framed_stream_fuzz(chunks, flip):
    decode = core._codec_funcs(core.SNAPPY_CODEC)[1]
    framed = _frame(chunks)
    plain = b"".join(p for p, _ in chunks)
    assert decode(framed) == plain
    for cut in range(len(framed)):
        _assert_framed_length_or_seqfile_error(decode, framed[:cut])
    for i in range(len(framed)):
        bad = bytearray(framed)
        bad[i] ^= flip
        _assert_framed_length_or_seqfile_error(decode, bytes(bad))
