"""RECORD-compressed / uncompressed layouts and the zlib-family codecs
(beyond the reference, which reads exactly BLOCK+Snappy —
``Parser.hs:56-65``).  Oracle: Hadoop itself — the committed
``tests/data/jvm/*.seq`` fixtures were written by Hadoop's
``SequenceFile.Writer`` (``tools/make_jvm_fixtures.py``), and the
Spark-marked tests read our writer's output back through the JVM's
``sc.sequenceFile``."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from hadoop_formats_spark import REFERENCE_FIXTURES as DATA
from hadoop_formats_spark.seqfile import core

JVM_FIXTURES = [
    "rec_default.seq",
    "rec_snappy.seq",
    "rec_bzip2.seq",
    "blk_gzip.seq",
    "none_writer.seq",
]

ALL_COMBOS = [
    ("block", core.SNAPPY_CODEC),
    ("block", core.DEFAULT_CODEC),
    ("block", core.GZIP_CODEC),
    ("block", core.BZIP2_CODEC),
    ("record", core.DEFAULT_CODEC),
    ("record", core.SNAPPY_CODEC),
    ("record", core.BZIP2_CODEC),
    ("none", core.SNAPPY_CODEC),
]


@pytest.mark.parametrize("fname", JVM_FIXTURES)
def test_read_jvm_fixture(fname):
    t = core.read_file(os.path.join(DATA, fname))
    assert t.num_rows == 2000
    keys = t.column("key").to_pylist()
    values = t.column("value").to_pylist()
    assert keys == [f"k{i:05d}" for i in range(2000)]
    assert values == [i * 7 for i in range(2000)]


@pytest.mark.parametrize("fname", JVM_FIXTURES)
def test_jvm_fixture_header(fname):
    h = core.read_header(os.path.join(DATA, fname))
    expected = {
        "rec_default.seq": ("record", core.DEFAULT_CODEC),
        "rec_snappy.seq": ("record", core.SNAPPY_CODEC),
        "rec_bzip2.seq": ("record", core.BZIP2_CODEC),
        "blk_gzip.seq": ("block", core.GZIP_CODEC),
        "none_writer.seq": ("none", ""),
    }[fname]
    assert (h.compression_type, h.codec_class) == expected


def _sample_table(n=20000):
    return pa.table(
        {
            "key": pa.array([f"K{i:06d}" for i in range(n)]),
            "value": pa.array([i * 3 for i in range(n)], "int32"),
        }
    )


@pytest.mark.parametrize("ctype,codec", ALL_COMBOS)
def test_write_read_roundtrip(tmp_path, ctype, codec):
    t = _sample_table()
    p = str(tmp_path / "f.seq")
    core.write_table(p, t, compression_type=ctype, codec=codec, block_records=6000)
    back = core.read_file(p)
    assert back.column("key").to_pylist() == t.column("key").to_pylist()
    assert back.column("value").to_pylist() == t.column("value").to_pylist()


@pytest.mark.parametrize("ctype,codec", ALL_COMBOS)
def test_split_partition_exact(tmp_path, ctype, codec):
    """Byte-range splits must partition the records exactly (each record
    read once) for every layout — the 100 TB splittability requirement."""
    t = _sample_table()
    p = str(tmp_path / "f.seq")
    core.write_table(p, t, compression_type=ctype, codec=codec, block_records=6000)
    size = os.path.getsize(p)
    step = max(1, size // 7)
    seen = []
    for s in range(0, size, step):
        for b in core.iter_blocks(p, start=s, end=min(s + step, size)):
            seen.extend(b.keys.to_pylist())
    assert sorted(seen) == t.column("key").to_pylist()
    assert sum(core.iter_block_counts(p)) == t.num_rows


def test_record_stream_counts_without_decode(tmp_path):
    t = _sample_table(5000)
    p = str(tmp_path / "f.seq")
    core.write_table(p, t, compression_type="record", codec=core.DEFAULT_CODEC)
    assert sum(core.iter_block_counts(p)) == 5000


def test_block_counts_honour_exact_start(tmp_path):
    """The datasource's count path seeks straight to an exact range start
    (a MapFile index position) like the row path does.  Here the start is
    the second record of a record-layout file, where no sync marker
    follows for ~2 KB: resyncing instead would count none of the records
    before that sync."""
    import struct

    from pyspark.sql.types import LongType, StructField, StructType

    from hadoop_formats_spark.seqfile.datasource import SeqFileDataSource

    t = _sample_table(500)
    p = str(tmp_path / "f.seq")
    core.write_table(p, t, compression_type="none")
    header = core.read_header(p)
    with open(p, "rb") as f:
        f.seek(header.header_len)
        (first_len,) = struct.unpack(">i", f.read(4))
    second = header.header_len + 8 + first_len
    src = SeqFileDataSource({"path": p, "block_counts": "true"})
    reader = src.reader(StructType([StructField("block_records", LongType(), False)]))
    size = os.path.getsize(p)
    (batch,) = reader._read_range(p, second, size, exact=True)
    assert sum(batch.column(0).to_pylist()) == t.num_rows - 1


def test_uncompressed_long_double_roundtrip(tmp_path):
    t = pa.table(
        {
            "key": pa.array(range(3000), "int64"),
            "value": pa.array([i * 0.25 for i in range(3000)], "float64"),
        }
    )
    p = str(tmp_path / "ld.seq")
    core.write_table(p, t, compression_type="none")
    back = core.read_file(p)
    assert back.column("key").to_pylist() == list(range(3000))
    assert back.column("value").to_pylist() == [i * 0.25 for i in range(3000)]


def test_corrupt_sync_in_record_stream(tmp_path):
    t = _sample_table(3000)
    p = str(tmp_path / "f.seq")
    core.write_table(p, t, compression_type="none")
    buf = bytearray(open(p, "rb").read())
    # find the first in-stream sync escape after the header and flip a
    # byte inside its 16-byte marker
    h = core.read_header(p)
    idx = bytes(buf).find(core.SYNC_ESCAPE + h.sync, h.header_len)
    assert idx > 0
    buf[idx + 10] ^= 0xFF
    open(p, "wb").write(bytes(buf))
    with pytest.raises(core.SeqFileError, match="sync mismatch"):
        core.read_file(p)


@pytest.mark.parametrize(
    "ctype,codec",
    [("record", core.DEFAULT_CODEC), ("none", core.SNAPPY_CODEC)],
)
def test_jvm_reads_our_layouts(spark, tmp_path, ctype, codec):
    """Interop oracle: Hadoop's JVM reader must accept our RECORD and
    uncompressed output (BLOCK+Snappy is covered in test_datasource)."""
    t = pa.table(
        {
            "key": pa.array([f"K{i:05d}" for i in range(2000)]),
            "value": pa.array([i * 3 for i in range(2000)], "int64"),
        }
    )
    d = tmp_path / "out"
    d.mkdir()
    core.write_table(
        str(d / "f.seq"), t, compression_type=ctype, codec=codec
    )
    got = sorted(spark.sparkContext.sequenceFile(str(d)).collect())
    assert got == [(f"K{i:05d}", i * 3) for i in range(2000)]


def test_datasource_reads_record_layout(spark, tmp_path):
    """spark.read.format('hadoop_seq') auto-detects layout from the
    header; writer options select it."""
    df = spark.range(4000).selectExpr(
        "cast(id as string) as key", "id * 2 as value"
    )
    out = str(tmp_path / "rec")
    (
        df.write.format("hadoop_seq")
        .option("compression_type", "record")
        .option("codec", "default")
        .mode("append")
        .save(out)
    )
    back = spark.read.format("hadoop_seq").load(out)
    assert back.count() == 4000
    from pyspark.sql import functions as F

    total = back.agg(F.sum("value")).collect()[0][0]
    assert total == sum(i * 2 for i in range(4000))
    # layout actually round-tripped as RECORD
    part = next(
        p for p in os.listdir(out) if p.endswith(".seq")
    )
    h = core.read_header(os.path.join(out, part))
    assert h.compression_type == "record"


def test_permissive_mode_record_stream(spark, tmp_path):
    """PERMISSIVE reading of a record-layout file with a corrupted
    mid-stream sync: rows before the corruption survive, FAILFAST
    raises."""
    t = _sample_table(5000)
    p = tmp_path / "r.seq"
    core.write_table(str(p), t, compression_type="none")
    buf = bytearray(p.read_bytes())
    h = core.read_header(str(p))
    idx = bytes(buf).find(core.SYNC_ESCAPE + h.sync, h.header_len)
    assert idx > 0
    buf[idx + 12] ^= 0xFF
    p.write_bytes(bytes(buf))
    import pytest as _pytest

    with _pytest.raises(Exception):
        (
            spark.read.format("hadoop_seq")
            .option("split_size", 10**9)
            .load(str(p))
            .count()
        )
    n = (
        spark.read.format("hadoop_seq")
        .option("mode", "PERMISSIVE")
        .option("split_size", 10**9)
        .load(str(p))
        .count()
    )
    assert 0 < n < 5000


@pytest.mark.parametrize("ctype", ["block", "record", "none"])
def test_empty_file_roundtrip(tmp_path, ctype):
    """Zero-record files are valid: header-only on disk, schema intact
    on read, zero from the count path."""
    t = pa.table({"key": pa.array([], "int64"), "value": pa.array([], "string")})
    p = str(tmp_path / "empty.seq")
    core.write_table(p, t, compression_type=ctype, codec=core.DEFAULT_CODEC)
    back = core.read_file(p)
    assert back.num_rows == 0 and back.schema.names == ["key", "value"]
    assert sum(core.iter_block_counts(p)) == 0


@pytest.mark.parametrize("ctype,codec", ALL_COMBOS)
@pytest.mark.parametrize("split_size", [28, 1000])
def test_tiny_splits_exactly_once(tmp_path, ctype, codec, split_size):
    """Splits far smaller than the sync spacing must still partition the
    records exactly once: every split whose entry sync falls at/after
    its end owns nothing (regression: such splits used to re-read the
    whole inter-sync run, duplicating records)."""
    t = _sample_table()
    p = str(tmp_path / "f.seq")
    core.write_table(p, t, compression_type=ctype, codec=codec, block_records=6000)
    size = os.path.getsize(p)
    seen = []
    for s in range(0, size, split_size):
        for b in core.iter_blocks(p, start=s, end=min(s + split_size, size)):
            seen.extend(b.keys.to_pylist())
    assert sorted(seen) == t.column("key").to_pylist()
    # count fast path must agree under the same tiny splits
    n = 0
    for s in range(0, size, split_size):
        n += sum(core.iter_block_counts(p, start=s, end=min(s + split_size, size)))
    assert n == t.num_rows


@pytest.mark.parametrize(
    "block_records,ctype,codec",
    [(0, "block", "snappy"), (-1, "none", "snappy"), (10, "bogus", "snappy"), (10, "block", "nosuch")],
)
def test_writer_options_checked_before_writing(tmp_path, block_records, ctype, codec):
    """A bad option raises ``ValueError`` before the file is opened;
    ``block_records=0`` used to make ``write_batch`` loop forever."""
    p = tmp_path / "f.seq"
    with pytest.raises(ValueError):
        core.write_table(
            str(p),
            pa.table({"key": ["a", "b", "c"], "value": [1, 2, 3]}),
            block_records=block_records,
            compression_type=ctype,
            codec=codec,
        )
    assert not p.exists()


def test_writer_codec_short_names(tmp_path):
    p = str(tmp_path / "f.seq")
    core.write_table(p, pa.table({"key": ["a"], "value": [1]}), codec="GZIP")
    assert core.read_header(p).codec_class == core.GZIP_CODEC
    assert core.read_file(p).column("key").to_pylist() == ["a"]


@pytest.mark.parametrize("fmt", ["hadoop_seq", "hadoop_map"])
@pytest.mark.parametrize(
    "option,value",
    [("block_records", "0"), ("compression_type", "bogus"), ("codec", "nosuch")],
)
def test_bad_writer_option_fails_at_save(spark, tmp_path, fmt, option, value):
    """Checked once on the driver: ``.save()`` fails with the
    ``ValueError`` and no write task runs, so no part file appears."""
    out = tmp_path / "out"
    df = spark.range(3).selectExpr("id AS key", "id AS value")
    with pytest.raises(Exception, match=f"ValueError: .*{value}"):
        df.write.format(fmt).option(option, value).mode("append").save(str(out))
    assert not out.exists() or not os.listdir(out)


def test_header_over_4k_round_trips(spark, tmp_path):
    """A ``metadata.<key>`` value makes the header longer than 4 KiB;
    the header is read as far as it declares."""
    from hadoop_formats_spark.seqfile.datasource import read_metadata

    big = "m" * 5000
    out = str(tmp_path / "out")
    spark.range(50).coalesce(1).selectExpr("id AS key", "CAST(id AS STRING) AS value").write.format(
        "hadoop_seq"
    ).option("metadata.big", big).mode("append").save(out)
    (part,) = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".seq")]
    header = core.read_header(part)
    assert header.header_len > 5000
    assert dict(header.metadata) == {"big": big} == read_metadata(part)
    assert sum(b.count for b in core.iter_blocks(part)) == 50
    assert spark.read.format("hadoop_seq").load(out).count() == 50


def test_header_length_past_eof_raises_before_allocating(tmp_path):
    import tracemalloc

    from hadoop_formats_spark.seqfile.varint import encode_vint

    p = tmp_path / "huge.seq"
    p.write_bytes(core.MAGIC + bytes([core.VERSION]) + encode_vint(1 << 40) + b"x" * 64)
    tracemalloc.start()
    try:
        with pytest.raises(core.SeqFileError, match="truncated"):
            core.read_header(str(p))
        with pytest.raises(core.SeqFileError, match="truncated"):
            next(core.iter_blocks(str(p)))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20


@pytest.mark.parametrize("ctype", ["block", "record", "none"])
def test_jvm_reads_our_long_text(spark, tmp_path, ctype):
    """Text of 128 B and more takes a multi-byte VInt length prefix;
    Hadoop's reader must return every value exactly."""
    lengths = [0, 127, 128, 200, 255, 256, 1000, 65535, 65536, 70000]
    values = [("é" * n)[: n // 2] + "x" * (n % 2) for n in lengths]  # n UTF-8 bytes
    values += ["a" * n for n in lengths]
    keys = [f"k{i:02d}" + "€" * (42 + i) for i in range(len(values))]
    assert all(len(k.encode()) >= 128 for k in keys)
    d = tmp_path / "out"
    d.mkdir()
    core.write_table(
        str(d / "f.seq"),
        pa.table({"key": keys, "value": values}),
        block_records=7,
        compression_type=ctype,
    )
    got = spark.sparkContext.sequenceFile(str(d)).collect()
    assert got == list(zip(keys, values))
