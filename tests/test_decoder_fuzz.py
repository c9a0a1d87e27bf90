"""Decoder fuzz: damaged SequenceFiles fail only with ``SeqFileError``.

Inputs are our writer's output (block / record / none layouts, the
Snappy, Default, Gzip and BZip2 codecs, with short values and with
Text values of 100-295 bytes whose lengths take multi-byte VInts) and
the Hadoop-written files in ``tests/data/jvm/``.  Every truncation
offset through a file's first block, plus random bit flips, must make
``iter_blocks`` and ``iter_block_counts`` either return or raise
``SeqFileError`` — the one error PERMISSIVE mode catches.  The two large
Hadoop-written files are also truncated at every offset within 64 bytes
of each section boundary of their second block and of the file end.  On
a truncation, the in-process PERMISSIVE reader returns a prefix of the
clean records.  Each example runs under a ``SIGALRM`` guard, so a
decoder that loops fails the test instead of hanging it."""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import signal

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_formats_spark import REFERENCE_FIXTURES
from hadoop_formats_spark.seqfile import core
from hadoop_formats_spark.seqfile.datasource import SeqFileDataSource

_LAYOUTS = [
    (layout, codec, long_values)
    for layout in ("block", "record", "none")
    for codec in (core.SNAPPY_CODEC, core.DEFAULT_CODEC, core.GZIP_CODEC, core.BZIP2_CODEC)
    for long_values in (False, True)
    if not (layout == "none" and codec != core.SNAPPY_CODEC)
    # long values through the two codec framings: Snappy's block stream
    # and one continuous zlib stream
    and not (long_values and codec in (core.GZIP_CODEC, core.BZIP2_CODEC))
]


N_RECORDS = 40
EXAMPLE_SECONDS = 10


class _Hang(BaseException):
    """Raised by the guard; a BaseException, so no ``except Exception``
    in the decoder can turn it into a ``SeqFileError``."""


@contextlib.contextmanager
def _hang_guard(seconds: float = EXAMPLE_SECONDS):
    def expire(signum, frame):
        raise _Hang(f"decoder still running after {seconds} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)


def test_hang_guard_stops_a_loop():
    with pytest.raises(_Hang):
        with _hang_guard(0.05):
            while True:
                pass


def _writer_output(path: str, layout: str, codec: str, long_values: bool = False) -> str:
    """40 records in blocks of 10; the ~70-byte records put the record
    layouts' first sync marker after about 27 records.  Long values are
    100 + 5 i bytes, crossing the 127/128 and 255/256 VInt steps."""
    values = [hashlib.sha256(b"%d" % i).hexdigest() for i in range(N_RECORDS)]
    if long_values:
        values = [(v * 5)[: 100 + 5 * i] for i, v in enumerate(values)]
    table = pa.table(
        {
            "key": pa.array([f"k{i:04d}" for i in range(N_RECORDS)]),
            "value": pa.array(values),
        }
    )
    core.write_table(path, table, block_records=10, compression_type=layout, codec=codec)
    return path


def _walk_counts(path: str) -> None:
    try:
        sum(core.iter_block_counts(path))
    except core.SeqFileError:
        pass


def _walk(path: str) -> None:
    """Drive both block walks to the end; any error must be SeqFileError."""
    _walk_counts(path)
    try:
        for _ in core.iter_blocks(path):
            pass
    except core.SeqFileError:
        pass


def _first_block_end(path: str, data: bytes) -> int:
    """Offset just past the first block: the second block's sync escape
    (BLOCK layout) or the end of the first sync marker (record layouts)."""
    header = core.read_header(path)
    sync = data.find(core.SYNC_ESCAPE + header.sync, header.header_len + 1)
    assert sync > 0
    return sync if header.block_compression else sync + 20


def _permissive_rows(path: str, schema) -> pa.Table | None:
    """The in-process PERMISSIVE read of ``path``; None when no rows."""
    reader = SeqFileDataSource({"path": path, "mode": "PERMISSIVE"}).reader(schema)
    batches = [b for split in reader.partitions() for b in reader.read(split)]
    return pa.Table.from_batches(batches) if batches else None


def _check_truncations(clean_path: str, n_records: int, cut: str, offsets) -> None:
    """Each truncation of ``clean_path`` walks cleanly or raises
    ``SeqFileError``, and PERMISSIVE reads a prefix of the clean rows."""
    data = open(clean_path, "rb").read()
    schema = SeqFileDataSource({"path": clean_path}).schema()
    clean = _permissive_rows(clean_path, schema)
    assert clean.num_rows == n_records
    for n in offsets:
        with open(cut, "wb") as f:
            f.write(data[:n])
        with _hang_guard():
            _walk_counts(cut)
            # PERMISSIVE catches SeqFileError only: any other error escapes
            rows = _permissive_rows(cut, schema)
        assert rows is None or rows.equals(clean.slice(0, rows.num_rows)), f"truncated at {n}"


@pytest.mark.parametrize(
    "layout,codec,long_values",
    _LAYOUTS,
    ids=[
        f"{layout}-{codec.rsplit('.', 1)[-1]}" + ("-long" if long_values else "")
        for layout, codec, long_values in _LAYOUTS
    ],
)
def test_every_truncation_through_first_block(tmp_path, layout, codec, long_values):
    clean_path = _writer_output(str(tmp_path / "clean.seq"), layout, codec, long_values)
    data = open(clean_path, "rb").read()
    end = _first_block_end(clean_path, data)
    _check_truncations(clean_path, N_RECORDS, str(tmp_path / "cut.seq"), range(end + 1))


def _second_block_boundaries(path: str, data: bytes) -> list[int]:
    """Section boundaries of a BLOCK file's second block: its start, the
    end of the sync escape, of the sync and of the record count, then
    the end of each of the four sections' length and bytes."""
    header = core.read_header(path)
    assert header.block_compression
    pos = data.find(core.SYNC_ESCAPE + header.sync, header.header_len + 1)
    assert pos > 0
    bounds = [pos, pos + 4, pos + 20]
    pos += 20
    _, pos = core.decode_vint(data, pos)  # record count
    bounds.append(pos)
    for _ in range(4):
        size, pos = core.decode_vint(data, pos)
        pos += size
        bounds += [pos - size, pos]
    return bounds


@pytest.mark.parametrize("name", ["text-int.seq", "long-double.seq"])
def test_truncations_past_first_block(tmp_path, name):
    path = os.path.join(REFERENCE_FIXTURES, name)
    data = open(path, "rb").read()
    bounds = _second_block_boundaries(path, data) + [len(data)]
    offsets = sorted({n for b in bounds for n in range(b - 64, b + 65) if 0 <= n <= len(data)})
    _check_truncations(path, 100_000, str(tmp_path / "cut.seq"), offsets)


@pytest.fixture(scope="module")
def fuzz_inputs(tmp_path_factory) -> tuple[str, list[bytes]]:
    """(scratch path for the damaged file, the undamaged inputs)."""
    root = str(tmp_path_factory.mktemp("fuzz"))
    files = sorted(glob.glob(os.path.join(REFERENCE_FIXTURES, "*.seq")))
    files += [
        _writer_output(os.path.join(root, f"{layout}-{i}.seq"), layout, codec, long_values)
        for i, (layout, codec, long_values) in enumerate(_LAYOUTS)
    ]
    return os.path.join(root, "flipped.seq"), [open(p, "rb").read() for p in files]


@settings(max_examples=200, deadline=None)
@given(which=st.integers(min_value=0), head_bias=st.booleans(), draw=st.data())
def test_bit_flips_raise_only_seqfile_error(fuzz_inputs, which, head_bias, draw):
    path, inputs = fuzz_inputs
    data = bytearray(inputs[which % len(inputs)])
    # half the examples aim at the header and first block header, where
    # a flipped bit reaches the most distinct parse paths
    span = min(len(data), 300) if head_bias else len(data)
    flips = draw.draw(
        st.lists(st.tuples(st.integers(0, span - 1), st.integers(0, 7)), min_size=1, max_size=3)
    )
    for where, bit in flips:
        data[where] ^= 1 << bit
    with open(path, "wb") as f:
        f.write(bytes(data))
    with _hang_guard():
        _walk(path)
