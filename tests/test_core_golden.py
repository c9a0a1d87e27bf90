"""Golden interop tests: parse the two reference fixtures (written by
Hadoop's own SequenceFile.Writer to the reference's recipe,
tests/MakeSequenceFiles.java:16-29, see tools/make_jvm_fixtures.py) and
assert known invariants (SURVEY §5): 100,000 records each, 2 blocks,
key patterns."""

import os

import pyarrow as pa
import pytest

from hadoop_formats_spark import REFERENCE_FIXTURES
from hadoop_formats_spark.seqfile import core

TEXT_INT = os.path.join(REFERENCE_FIXTURES, "text-int.seq")
LONG_DOUBLE = os.path.join(REFERENCE_FIXTURES, "long-double.seq")


def test_header_text_int():
    h = core.read_header(TEXT_INT)
    assert h.key_class == "org.apache.hadoop.io.Text"
    assert h.value_class == "org.apache.hadoop.io.IntWritable"
    assert h.codec_class == core.SNAPPY_CODEC
    assert h.metadata == []
    assert len(h.sync) == 16


def test_header_long_double():
    h = core.read_header(LONG_DOUBLE)
    assert h.key_class == "org.apache.hadoop.io.LongWritable"
    assert h.value_class == "org.apache.hadoop.io.DoubleWritable"


def test_text_int_contents():
    table = core.read_file(TEXT_INT)
    assert table.num_rows == 100_000
    keys = table.column("key").to_pylist()
    # generator: key = "F%07d" for i in 0..99999 (MakeSequenceFiles.java:24)
    assert keys[0] == "F0000000"
    assert keys[123] == "F0000123"
    assert keys[-1] == "F0099999"
    values = table.column("value")
    assert values.type == pa.int32()
    vals = values.to_pylist()
    # values: Math.round(random()*100) → in [0, 100]
    assert min(vals) >= 0 and max(vals) <= 100


def test_long_double_contents():
    table = core.read_file(LONG_DOUBLE)
    assert table.num_rows == 100_000
    keys = table.column("key").to_pylist()
    assert keys[: 5] == [0, 1, 2, 3, 4]
    assert keys[-1] == 99_999
    assert table.column("value").type == pa.float64()


def test_block_structure():
    blocks = list(core.iter_blocks(TEXT_INT))
    assert len(blocks) == 2
    assert sum(b.count for b in blocks) == 100_000
    assert blocks[0].count == 76_924  # measured at survey time (BASELINE.md)


def test_count_fast_path():
    # count from block headers without decompressing any payload
    assert sum(core.iter_block_counts(TEXT_INT)) == 100_000
    assert sum(core.iter_block_counts(LONG_DOUBLE)) == 100_000


def test_column_pruning():
    keys_only = core.read_file(TEXT_INT, want_values=False)
    assert keys_only.column_names == ["key"]
    assert keys_only.num_rows == 100_000
    vals_only = core.read_file(TEXT_INT, want_keys=False)
    assert vals_only.column_names == ["value"]


def test_split_resync():
    """Byte-range splits with resync cover the file exactly once,
    regardless of split boundaries (the 100 TB splittability path)."""
    import os

    size = os.path.getsize(TEXT_INT)
    for nsplits in (2, 3, 7):
        step = size // nsplits
        total = 0
        for i in range(nsplits):
            start = i * step
            end = size if i == nsplits - 1 else (i + 1) * step
            total += sum(
                b.count for b in core.iter_blocks(TEXT_INT, start=start, end=end)
            )
        assert total == 100_000, f"nsplits={nsplits}"


def test_negative_paths(tmp_path):
    data = open(TEXT_INT, "rb").read()
    # bad magic
    p = tmp_path / "bad_magic.seq"
    p.write_bytes(b"XXX" + data[3:])
    with pytest.raises(core.SeqFileError, match="magic"):
        core.read_header(str(p))
    # bad version
    p = tmp_path / "bad_version.seq"
    p.write_bytes(data[:3] + b"\x05" + data[4:])
    with pytest.raises(core.SeqFileError, match="version"):
        core.read_header(str(p))
    # corrupt sync in a block
    h = core.read_header(TEXT_INT)
    # find first block sync after header, flip a byte inside its sync
    first_block = data.find(core.SYNC_ESCAPE, h.header_len)
    corrupted = bytearray(data)
    corrupted[first_block + 5] ^= 0xFF
    p = tmp_path / "bad_sync.seq"
    p.write_bytes(bytes(corrupted))
    with pytest.raises(core.SeqFileError, match="corrupt"):
        list(core.iter_blocks(str(p)))
    # truncated mid-block
    p = tmp_path / "trunc.seq"
    p.write_bytes(data[: len(data) // 2])
    with pytest.raises(core.SeqFileError):
        list(core.iter_blocks(str(p)))
