"""SequenceFile (BLOCK + Snappy) format core — pure Python/numpy, no Spark.

Re-implements, Spark-side, the decode semantics of the reference
library jacobstanley/hadoop-formats:

* header parse: ``src/Data/Hadoop/SequenceFile/Parser.hs:43-70``
* record-block parse: ``Parser.hs:83-115``
* Hadoop BlockCompressorStream framing: ``cbits/decode.c:76-118``
* the 8 Writable type decoders: ``src/Data/Hadoop/Writable.hs:73-106``
* fixed-width zero-copy cast + byteswap: ``Writable.hs:110-113``,
  ``cbits/decode.c:185-209`` → here ``np.frombuffer`` with big-endian
  dtypes
* variable-width offset slicing: ``Writable.hs:115-134``

The variable-width Writables share one wire layout, each record a
length prefix then its payload: a Hadoop VInt byte count for Text, a
4-byte big-endian byte count for BytesWritable.  ``_prefix_mask`` is
that layout's one codec, for both directions: a boolean mask over a
column's back-to-back records marks every prefix byte, so decode keeps
``data[~mask]`` and encode fills ``out[mask]`` with the prefixes
(``varint.encode_vints`` / a ``>u4`` view) and ``out[~mask]`` with the
payloads.  Bloom keys (``bloom.serialize_keys``) are encoded by the
same column encoder.

Differences, deliberate (SURVEY.md §1.3, §2.1):

* metadata count is read **big-endian** (Hadoop-correct; the reference's
  little-endian read at ``Parser.hs:74`` is a quirk invisible on files
  with zero metadata entries);
* a write path exists (the reference has none — ``README.md:5``);
* blocks can be decoded selectively (keys only / values only / neither,
  the count fast path) — the 4 sections are independently compressed
  (``Parser.hs:104-107``), so an unwanted column's sections are skipped
  unread; the reference always decodes both.
"""

from __future__ import annotations

import io
import os
import struct
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pyarrow as pa

from . import snappy
from .varint import (
    decode_vint,
    decode_vint_array,
    encode_vint,
    encode_vint_array,
    encode_vints,
    vint_size,
    vint_sizes,
)

MAGIC = b"SEQ"
VERSION = 6
SNAPPY_CODEC = "org.apache.hadoop.io.compress.SnappyCodec"
DEFAULT_CODEC = "org.apache.hadoop.io.compress.DefaultCodec"
GZIP_CODEC = "org.apache.hadoop.io.compress.GzipCodec"
BZIP2_CODEC = "org.apache.hadoop.io.compress.BZip2Codec"
SYNC_ESCAPE = b"\xff\xff\xff\xff"
SYNC_INTERVAL = 100 * (4 + 16)  # Hadoop: sync every ~2000 bytes (record/none)
TEXT = "org.apache.hadoop.io.Text"

# Java class name ↔ decoder metadata (SURVEY §1.2 table; Writable.hs:73-106)
# entry: (arrow type, numpy big-endian dtype or None for variable width)
WRITABLES: dict[str, tuple[pa.DataType, str | None]] = {
    "org.apache.hadoop.io.NullWritable": (pa.null(), "null"),
    "org.apache.hadoop.io.ShortWritable": (pa.int16(), ">i2"),
    "org.apache.hadoop.io.IntWritable": (pa.int32(), ">i4"),
    "org.apache.hadoop.io.LongWritable": (pa.int64(), ">i8"),
    "org.apache.hadoop.io.FloatWritable": (pa.float32(), ">f4"),
    "org.apache.hadoop.io.DoubleWritable": (pa.float64(), ">f8"),
    "org.apache.hadoop.io.BytesWritable": (pa.binary(), None),
    TEXT: (pa.string(), None),
}

# Arrow type name → Java class, for writers handed a plain Arrow table
ARROW_TO_CLASS = {str(arrow_type): cls for cls, (arrow_type, _) in WRITABLES.items()}
ARROW_TO_CLASS["large_string"] = ARROW_TO_CLASS["string"]
ARROW_TO_CLASS["large_binary"] = ARROW_TO_CLASS["binary"]


class SeqFileError(ValueError):
    """Decode failure — mirrors the reference's fail-stop Stream.Error
    (``SequenceFile.hs:64, 91-95``)."""


# ---------------------------------------------------------------------------
# Codecs.  The reference supports exactly BLOCK+Snappy (Parser.hs:56-65);
# we add Hadoop's zlib-family codecs and the RECORD/uncompressed layouts
# for real-world interop (JVM Hadoop as the oracle, same strategy as the
# reference's own tests).  Two compressed-stream shapes exist:
#
# * snappy-style codecs wrap output in a Hadoop BlockCompressorStream
#   (4-byte BE total + repeated [4-byte BE chunk size + raw chunk],
#   ``decode.c:76-118``);
# * zlib-family codecs (Default/Gzip/BZip2) emit one continuous
#   compressed stream per section — no framing (verified against
#   Hadoop-written fixtures: block sections start with the zlib magic
#   0x789c directly).
# ---------------------------------------------------------------------------


def _zlib_stream_decompress(buf: bytes, wbits: int) -> bytes:
    """Decompress possibly-concatenated zlib/gzip streams."""
    out = []
    while buf:
        d = __import__("zlib").decompressobj(wbits)
        out.append(d.decompress(buf))
        out.append(d.flush())
        if not d.eof:
            raise SeqFileError("truncated compressed stream")
        buf = d.unused_data
    return b"".join(out)


def _bz2_stream_decompress(buf: bytes) -> bytes:
    import bz2

    out = []
    while buf:
        d = bz2.BZ2Decompressor()
        out.append(d.decompress(buf))
        if not d.eof:
            raise SeqFileError("truncated bzip2 stream")
        buf = d.unused_data
    return b"".join(out)


def _safe_decompress(fn):
    """Normalize codec-library exceptions (zlib.error, OSError, snappy
    errors) to SeqFileError so the fail-stop / PERMISSIVE machinery
    treats corrupt payloads uniformly."""

    def wrapped(b: bytes) -> bytes:
        try:
            return fn(b)
        except SeqFileError:
            raise
        except Exception as ex:  # zlib.error / EOFError / SnappyError...
            raise SeqFileError(f"decompression failed: {ex}") from ex

    return wrapped


def _codec_funcs(codec_class: str):
    """(compress, decompress) for one section / one record value."""
    import bz2 as _bz2
    import gzip as _gzip
    import zlib as _zlib

    if codec_class == SNAPPY_CODEC:
        return _compress_block_stream, _safe_decompress(_decompress_block_stream)
    if codec_class == DEFAULT_CODEC:
        return _zlib.compress, _safe_decompress(
            lambda b: _zlib_stream_decompress(b, 15)
        )
    if codec_class == GZIP_CODEC:
        return _gzip.compress, _safe_decompress(
            lambda b: _zlib_stream_decompress(b, 31)
        )
    if codec_class == BZIP2_CODEC:
        return _bz2.compress, _safe_decompress(_bz2_stream_decompress)
    raise SeqFileError(f"unsupported codec: {codec_class}")  # Parser.hs:62-65


SUPPORTED_CODECS = (SNAPPY_CODEC, DEFAULT_CODEC, GZIP_CODEC, BZIP2_CODEC)

# writer ``codec`` short names
CODEC_NAMES = {
    "snappy": SNAPPY_CODEC,
    "default": DEFAULT_CODEC,
    "deflate": DEFAULT_CODEC,
    "gzip": GZIP_CODEC,
    "bzip2": BZIP2_CODEC,
}


def check_writer_options(block_records: int, compression_type: str, codec: str) -> str:
    """The one check of the writer options, run where a writer is built
    (on the driver for the datasource writers, before any task starts).
    Returns the codec's class name (short names map through
    ``CODEC_NAMES``)."""
    if block_records < 1:
        raise ValueError(f"block_records must be >= 1, got {block_records}")
    if compression_type not in ("block", "record", "none"):
        raise ValueError(
            f"compression_type must be block|record|none, got {compression_type}"
        )
    codec = CODEC_NAMES.get(codec.lower(), codec)
    if codec not in SUPPORTED_CODECS:
        raise ValueError(f"unsupported codec: {codec}")
    return codec


@dataclass
class Header:
    """File header (``Types.hs:18-25``)."""

    key_class: str
    value_class: str
    codec_class: str  # "" when uncompressed
    metadata: list[tuple[str, str]]
    sync: bytes
    header_len: int = 0  # byte offset of first record block
    compression: bool = True
    block_compression: bool = True

    @property
    def compression_type(self) -> str:
        if self.block_compression:
            return "block"
        return "record" if self.compression else "none"

    def arrow_schema(self) -> pa.Schema:
        for cls, role in ((self.key_class, "key"), (self.value_class, "value")):
            if cls not in WRITABLES:
                raise SeqFileError(f"unsupported {role} class: {cls}")
        return pa.schema(
            [
                pa.field("key", WRITABLES[self.key_class][0]),
                pa.field("value", WRITABLES[self.value_class][0]),
            ]
        )


@dataclass
class RecordBlock:
    """Columnar batch of parallel key/value arrays (``Types.hs:34-38``)."""

    count: int
    keys: pa.Array | None
    values: pa.Array | None


def _read_header(f: io.BufferedIOBase, file_end: int) -> Header:
    """Parse a file header (``Parser.hs:43-70``) from ``f``, reading only
    as far as the header declares.  A declared length past ``file_end``
    raises ``SeqFileError`` before anything is read for it."""

    def text() -> str:  # VInt-length-prefixed UTF-8 (Parser.hs:119-121)
        n = _read_vint_stream(f)
        if n < 0 or n > file_end - f.tell():
            raise SeqFileError("truncated text field in header")
        try:
            return f.read(n).decode("utf-8")
        except UnicodeDecodeError as ex:
            raise SeqFileError(f"corrupt text field in header: {ex}") from ex

    head = f.read(4)
    if head[:3] != MAGIC:
        raise SeqFileError("not a sequence file (bad magic)")
    if len(head) < 4 or head[3] != VERSION:
        raise SeqFileError(f"unsupported version: {head[3] if len(head) > 3 else '?'}")
    key_class = text()
    value_class = text()
    flags = f.read(2)
    if len(flags) < 2:
        raise SeqFileError("truncated header")
    compression, block_compression = flags
    if block_compression and not compression:
        raise SeqFileError("invalid header: blockCompression without compression")
    # the reference accepts ONLY (1,1)+Snappy (Parser.hs:56-65); we also
    # read Hadoop's RECORD-compressed and uncompressed layouts, and the
    # zlib-family codecs, for real-world interop (SURVEY §7 non-goals,
    # lifted in round 2)
    codec_class = ""
    if compression:
        codec_class = text()
        if codec_class not in SUPPORTED_CODECS:
            raise SeqFileError(f"unsupported codec: {codec_class}")  # Parser.hs:62-65
    count = f.read(4)
    if len(count) < 4:
        raise SeqFileError("truncated header")
    (meta_count,) = struct.unpack(">I", count)  # BE, Hadoop-correct
    metadata = [(text(), text()) for _ in range(meta_count)]
    sync = f.read(16)
    if len(sync) != 16:
        raise SeqFileError("truncated sync marker")
    return Header(
        key_class,
        value_class,
        codec_class,
        metadata,
        sync,
        f.tell(),
        compression=bool(compression),
        block_compression=bool(block_compression),
    )


def _decompress_block_stream(buf: bytes) -> bytes:
    """Hadoop BlockCompressorStream → flat buffer (``decode.c:76-118``):
    4-byte BE total uncompressed size, then repeated
    [4-byte BE compressed-chunk size + raw snappy chunk]; zero-size
    chunks skipped."""
    if len(buf) < 4:
        raise SeqFileError("truncated compressed section")
    (total,) = struct.unpack(">I", buf[:4])
    pos = 4
    parts = []
    got = 0
    while got < total:
        if pos + 4 > len(buf):
            raise SeqFileError("truncated compressed chunk header")
        (clen,) = struct.unpack(">I", buf[pos : pos + 4])
        pos += 4
        if clen == 0:
            continue
        if pos + clen > len(buf):
            raise SeqFileError("truncated compressed chunk")
        part = snappy.decompress(buf[pos : pos + clen])
        pos += clen
        parts.append(part)
        got += len(part)
    if got != total:
        raise SeqFileError(f"decompressed size mismatch: {got} != {total}")
    return b"".join(parts) if len(parts) != 1 else parts[0]


# Uncompressed bytes per snappy chunk — Hadoop's exact MAX_INPUT_SIZE
# for the default 256 KiB codec buffer: bufferSize - (bufferSize/6 + 32).
# The JVM BlockDecompressorStream reads each compressed chunk into a
# bufferSize-byte buffer, so a chunk whose COMPRESSED size exceeds
# 256 KiB (our old 256 KiB uncompressed chunks were 262159 bytes after
# literal-only framing) fails there with FAILED_TO_UNCOMPRESS(5); this
# bound guarantees compressed size <= bufferSize for any snappy encoder
# (max expansion is len/6 + 32 — that's why Hadoop picked it).
_COMPRESS_CHUNK = 256 * 1024 - ((256 * 1024) // 6 + 32)  # = 218422


def _compress_block_stream(buf: bytes) -> bytes:
    """Inverse of ``_decompress_block_stream`` (writer side)."""
    out = bytearray(struct.pack(">I", len(buf)))
    pos = 0
    while pos < len(buf):
        chunk = buf[pos : pos + _COMPRESS_CHUNK]
        comp = snappy.compress(chunk)
        out += struct.pack(">I", len(comp))
        out += comp
        pos += _COMPRESS_CHUNK
    return bytes(out)


def _decode_column(
    java_class: str,
    lengths_buf: bytes | np.ndarray,
    data_buf: bytes,
    count: int,
) -> pa.Array:
    """Decode one column section (``Writable.hs:110-134``, ``decode.c:122-227``).

    ``lengths_buf`` is either the varint-packed lengths section (block
    layout) or an already-materialized numpy length array (record/
    uncompressed layouts, where lengths come from record headers)."""
    if java_class not in WRITABLES:
        raise SeqFileError(f"unsupported Writable class: {java_class}")
    arrow_type, np_dtype = WRITABLES[java_class]
    if len(lengths_buf) < count:  # every record has a length, of >= 1 byte
        raise SeqFileError(f"lengths section too short for {count} records")
    if np_dtype == "null":
        return pa.nulls(count)  # NullWritable: zero bytes/record (Writable.hs:73-75)
    if np_dtype is not None:
        # fixed-width fast path: lengths present but ignored (decode.c:137-139)
        if len(data_buf) != count * int(np_dtype[2:]):
            raise SeqFileError(
                f"fixed-width section has {len(data_buf)} bytes for {count} records"
            )
        arr = np.frombuffer(data_buf, dtype=np_dtype)
        return pa.array(arr.astype(np_dtype[1:]), type=arrow_type)
    # variable width: per-record lengths drive offset slicing
    if isinstance(lengths_buf, np.ndarray):
        lengths = lengths_buf
    else:
        try:
            lengths = decode_vint_array(lengths_buf, count)
        except (IndexError, ValueError) as ex:
            raise SeqFileError(f"corrupt lengths section: {ex}") from ex
    if lengths.sum() != len(data_buf):
        raise SeqFileError("variable-width lengths do not cover data buffer")
    if (lengths < 0).any():
        raise SeqFileError("negative payload length")
    data = np.frombuffer(data_buf, dtype=np.uint8)
    if java_class == TEXT:  # VInt prefix, sized by its first byte (Writable.hs:101-106)
        starts = np.cumsum(lengths) - lengths
        nonempty = lengths > 0
        plen = np.zeros(count, dtype=np.int64)
        plen[nonempty] = vint_sizes(data[starts[nonempty]])
    else:  # BytesWritable: 4-byte BE prefix (Writable.hs:97-99)
        plen = np.full(count, 4, dtype=np.int64)
    out_lengths = lengths - plen
    if (out_lengths < 0).any():
        raise SeqFileError(f"{java_class} record shorter than its length prefix")
    payload = data[~_prefix_mask(lengths, plen)]
    offsets = np.zeros(count + 1, dtype=np.int32)
    offsets[1:] = np.cumsum(out_lengths)
    return pa.Array.from_buffers(
        arrow_type, count, [None, pa.py_buffer(offsets), pa.py_buffer(payload)]
    )


def _prefix_mask(rec_lens: np.ndarray, plen: np.ndarray) -> np.ndarray:
    """The variable-width Writable layout: over back-to-back records of
    ``rec_lens`` bytes, each starting with a ``plen``-byte length
    prefix, True on every prefix byte (``plen <= rec_lens``)."""
    mask = np.zeros(int(rec_lens.sum()), dtype=bool)
    rec_starts = np.cumsum(rec_lens) - rec_lens
    prefix_starts = np.cumsum(plen) - plen
    mask[np.repeat(rec_starts - prefix_starts, plen) + np.arange(int(plen.sum()))] = True
    return mask


@dataclass
class _RawBlock:
    count: int
    sections: list[bytes]  # key lengths, keys, value lengths, values (compressed)


def _read_raw_block(
    f: io.BufferedIOBase,
    header: Header,
    file_end: int,
    want_keys: bool = True,
    want_values: bool = True,
) -> _RawBlock | None:
    """Read one record block's raw bytes (``Parser.hs:83-115``).
    Returns None at clean EOF.  The sections of a column that is not
    wanted are seeked past, not read (they stay ``b""``)."""
    escape = f.read(4)
    if not escape:
        return None
    if escape != SYNC_ESCAPE:
        raise SeqFileError("file is corrupt (bad sync escape)")  # Parser.hs:93-96
    sync = f.read(16)
    if sync != header.sync:
        raise SeqFileError("file is corrupt (sync mismatch)")  # Parser.hs:98-101
    count = _read_vint_stream(f)
    if count < 0:
        raise SeqFileError("negative record count")
    sections = []
    for want in (want_keys, want_keys, want_values, want_values):
        n = _read_vint_stream(f)
        if n < 0:
            raise SeqFileError("negative section length")
        if n > file_end - f.tell():
            raise SeqFileError("truncated record block")
        if want:
            sections.append(f.read(n))
        else:
            f.seek(n, os.SEEK_CUR)
            sections.append(b"")
    return _RawBlock(count, sections)


def _read_vint_stream(f: io.BufferedIOBase) -> int:
    buf = f.read(1)
    if buf:
        buf += f.read(vint_size(buf[0]) - 1)
    try:
        return decode_vint(buf, 0)[0]
    except IndexError as ex:
        raise SeqFileError("unexpected EOF reading varint") from ex


def _decode_raw(
    raw: _RawBlock, header: Header, *, want_keys: bool = True, want_values: bool = True
) -> RecordBlock:
    _, decompress = _codec_funcs(header.codec_class)
    keys = values = None
    if want_keys:
        keys = _decode_column(
            header.key_class,
            decompress(raw.sections[0]),
            decompress(raw.sections[1]),
            raw.count,
        )
    if want_values:
        values = _decode_column(
            header.value_class,
            decompress(raw.sections[2]),
            decompress(raw.sections[3]),
            raw.count,
        )
    return RecordBlock(raw.count, keys, values)


def read_header(path: str) -> Header:
    with open(path, "rb") as f:
        return _read_header(f, os.fstat(f.fileno()).st_size)


def iter_blocks(
    path: str,
    *,
    want_keys: bool = True,
    want_values: bool = True,
    start: int = 0,
    end: int | None = None,
    header: Header | None = None,
    exact_start: bool = False,
) -> Iterator[RecordBlock]:
    """Stream columnar batches, optionally restricted to a byte-range
    split.  Dispatches on the file's layout: BLOCK-compressed files
    yield one batch per record block; RECORD-compressed and
    uncompressed files yield re-batched runs of records.

    Split semantics match Hadoop's SequenceFile reader: for
    ``start > 0`` the reader resyncs to the first 20-byte
    ``SYNC_ESCAPE + sync`` pattern at/after ``start``, and reads until
    it meets a sync at/after ``end`` (the reference never splits —
    ``SequenceFile.hs:81-89`` — this is our 100 TB requirement).

    ``exact_start=True`` declares ``start`` a known record/block
    boundary (a MapFile index position): the reader seeks straight to
    it instead of resyncing.  Hadoop's record-layout MapFile indexes
    point at plain record boundaries with no sync in front — resync
    semantics would silently drop every record between the boundary
    and the next sync marker.
    """
    with open(path, "rb") as f:
        file_end = os.fstat(f.fileno()).st_size
        if header is None:
            header = _read_header(f, file_end)
        stop = file_end if end is None else min(end, file_end)
        if header.block_compression:
            pos = max(start, header.header_len)
            if start > 0 and not exact_start:
                pos = _find_sync(f, header, start, file_end)
                if pos is None:
                    return
            f.seek(pos)
            while f.tell() < stop:
                raw = _read_raw_block(f, header, file_end, want_keys, want_values)
                if raw is None:
                    return
                yield _decode_raw(
                    raw, header, want_keys=want_keys, want_values=want_values
                )
            return
        if exact_start and start > 0:
            f.seek(max(start, header.header_len))
        elif not _enter_record_stream(f, header, start, stop, file_end):
            return
        yield from _iter_record_batches(
            f, header, stop, want_keys=want_keys, want_values=want_values
        )


def _enter_record_stream(
    f: io.BufferedIOBase, header: Header, start: int, stop: int, file_end: int
) -> bool:
    """Position ``f`` at the first record of a split of a record-oriented
    (non-block) file, or return False if this split owns no records.

    Ownership rule (gives exactly-once across any split size): a sync
    marker — and the run of records it introduces — belongs to the one
    split whose ``[start, stop)`` contains the sync's byte position;
    the leading run (no preceding sync) belongs to split 0.  Without
    the ``pos >= stop`` rejection, every split smaller than the sync
    spacing (~2 KB of records) resyncs to the SAME next sync and
    re-emits that whole run once per split."""
    if start == 0:
        f.seek(header.header_len)
        return True
    # 0 < start <= header_len: this split begins inside the header, so
    # the leading records belong to split 0 — resync forward from the
    # end of the header (NOT from the start) or we'd emit duplicates
    # when a user-set split_size is smaller than the header.
    pos = _find_sync(f, header, max(start, header.header_len), file_end)
    if pos is None or pos >= stop:
        return False
    f.seek(pos + 20)  # consume the entry sync
    return True


_RECORD_BATCH = 16384


def _iter_record_batches(
    f: io.BufferedIOBase,
    header: Header,
    end: int,
    *,
    want_keys: bool = True,
    want_values: bool = True,
) -> Iterator[RecordBlock]:
    """Walk a RECORD-compressed / uncompressed record stream, yielding
    columnar ``RecordBlock`` batches (``_RECORD_BATCH`` records each).

    Record layout (Hadoop SequenceFile.Writer.append): 4-byte BE record
    length (serialized key + stored value bytes), 4-byte BE key length,
    key bytes, value bytes; a length of -1 escapes a 16-byte sync
    marker.  In RECORD mode each value is independently compressed with
    the codec; keys are never compressed.  The reader consumes records
    until it meets a sync at/after ``end`` (Hadoop's ``syncSeen`` split
    rule: records between ``end`` and that sync belong to THIS split).
    """
    decompress_value = None
    if header.compression:
        decompress_value = _codec_funcs(header.codec_class)[1]

    chunk_size = 1 << 20
    file_end = os.fstat(f.fileno()).st_size
    buf = b""
    base = f.tell()  # file offset of buf[0]
    pos = 0

    def ensure(n: int) -> bool:
        nonlocal buf, base, pos
        if pos + n <= len(buf):
            return True
        if base + pos + n > file_end:  # a corrupt length must not size a read
            return False
        buf = buf[pos:]
        base += pos
        pos = 0
        while len(buf) < n:
            more = f.read(max(chunk_size, n - len(buf)))
            if not more:
                return False
            buf += more
        return True

    key_parts: list[bytes] = []
    key_lens: list[int] = []
    val_parts: list[bytes] = []
    val_lens: list[int] = []
    count = 0

    def flush() -> RecordBlock | None:
        nonlocal key_parts, key_lens, val_parts, val_lens, count
        if not count:
            return None
        keys = values = None
        if want_keys:
            keys = _decode_column(
                header.key_class,
                np.asarray(key_lens, dtype=np.int64),
                b"".join(key_parts),
                count,
            )
        if want_values:
            values = _decode_column(
                header.value_class,
                np.asarray(val_lens, dtype=np.int64),
                b"".join(val_parts),
                count,
            )
        block = RecordBlock(count, keys, values)
        key_parts, key_lens, val_parts, val_lens = [], [], [], []
        count = 0
        return block

    # on corruption: yield the records decoded so far FIRST, then raise —
    # PERMISSIVE readers keep the clean prefix (matching the block path,
    # where earlier blocks have already been emitted); FAILFAST task
    # failure discards everything anyway
    err: SeqFileError | None = None
    while True:
        if not ensure(4):
            if len(buf) - pos not in (0,):
                err = SeqFileError("truncated record")
            break
        (rl,) = struct.unpack_from(">i", buf, pos)
        if rl == -1:  # sync escape
            if base + pos >= end:
                break  # first sync at/after the split end: stop BEFORE it
            if not ensure(20):
                err = SeqFileError("truncated sync marker")
                break
            if buf[pos + 4 : pos + 20] != header.sync:
                err = SeqFileError("file is corrupt (sync mismatch)")
                break
            pos += 20
            continue
        if rl < 0:
            err = SeqFileError("file is corrupt (negative record length)")
            break
        if not ensure(8 + rl):
            err = SeqFileError("truncated record")
            break
        (kl,) = struct.unpack_from(">i", buf, pos + 4)
        if kl < 0 or kl > rl:
            err = SeqFileError("file is corrupt (bad key length)")
            break
        if want_values:
            raw_val = buf[pos + 8 + kl : pos + 8 + rl]
            if decompress_value is not None:
                try:
                    raw_val = decompress_value(raw_val)
                except SeqFileError as ex:
                    err = ex
                    break  # record not added at all: batch stays aligned
            val_parts.append(raw_val)
            val_lens.append(len(raw_val))
        if want_keys:
            key_parts.append(buf[pos + 8 : pos + 8 + kl])
            key_lens.append(kl)
        count += 1
        pos += 8 + rl
        if count >= _RECORD_BATCH:
            block = flush()
            if block is not None:
                yield block
    block = flush()
    if block is not None:
        yield block
    if err is not None:
        raise err


def iter_block_counts(
    path: str, *, start: int = 0, end: int | None = None, header: Header | None = None
) -> Iterator[int]:
    """Count fast path: record counts with neither column decoded.  For
    BLOCK files the counts come from block headers alone and every
    section is seeked past, so nothing is decompressed (SURVEY §3 EP3,
    count lives at ``Parser.hs:103``); record-oriented files are walked
    without decoding or decompressing."""
    for block in iter_blocks(
        path, want_keys=False, want_values=False, start=start, end=end, header=header
    ):
        yield block.count


def _find_sync(
    f: io.BufferedIOBase, header: Header, start: int, file_end: int
) -> int | None:
    """Scan forward from ``start`` for the next block boundary
    (``SYNC_ESCAPE + header.sync``).  The 20-byte pattern makes false
    positives vanishingly unlikely; we additionally verify the candidate
    parses as a block (SURVEY §7 hard-point (b))."""
    pattern = SYNC_ESCAPE + header.sync
    chunk_size = 1 << 20
    pos = start
    carry = b""
    while pos < file_end:
        f.seek(pos)
        chunk = carry + f.read(chunk_size)
        idx = chunk.find(pattern)
        while idx != -1:
            candidate = pos - len(carry) + idx
            if _verify_block_at(f, header, candidate, file_end):
                return candidate
            idx = chunk.find(pattern, idx + 1)
        if len(chunk) < len(pattern):
            return None
        carry = chunk[-(len(pattern) - 1) :]
        pos += chunk_size
    return None


def _verify_block_at(
    f: io.BufferedIOBase, header: Header, offset: int, file_end: int
) -> bool:
    if not header.block_compression:
        return _verify_record_at(f, header, offset, file_end)
    save = f.tell()
    try:
        f.seek(offset)
        _read_raw_block(f, header, file_end, want_keys=False, want_values=False)
        return True
    except SeqFileError:
        return False
    finally:
        f.seek(save)


def _verify_record_at(
    f: io.BufferedIOBase, header: Header, offset: int, file_end: int
) -> bool:
    """A candidate sync in a record stream is followed by either another
    sync escape, EOF, or a plausible record header."""
    save = f.tell()
    try:
        f.seek(offset + 20)
        head = f.read(8)
        if len(head) == 0:
            return True  # sync at EOF
        if head[:4] == SYNC_ESCAPE:
            return True
        if len(head) < 8:
            return False
        rl, kl = struct.unpack(">ii", head)
        return 0 <= kl <= rl and offset + 28 + rl <= file_end
    finally:
        f.seek(save)


def read_file(
    path: str, *, want_keys: bool = True, want_values: bool = True
) -> pa.Table:
    """Whole-file read → Arrow table with columns (key, value)."""
    header = read_header(path)
    schema = header.arrow_schema()
    fields = []
    if want_keys:
        fields.append(schema.field("key"))
    if want_values:
        fields.append(schema.field("value"))
    out_schema = pa.schema(fields)
    batches = []
    for block in iter_blocks(path, want_keys=want_keys, want_values=want_values):
        cols = []
        if want_keys:
            cols.append(block.keys)
        if want_values:
            cols.append(block.values)
        batches.append(pa.RecordBatch.from_arrays(cols, schema=out_schema))
    return pa.Table.from_batches(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# Writer — no write path exists in the reference (README.md:5; the only
# writer is Hadoop itself, tests/MakeSequenceFiles.java:16-29).  Byte
# layout per SURVEY §1.3 so that JVM Hadoop can read our output.
# ---------------------------------------------------------------------------


def _var_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data bytes, per-record byte lengths) of a string/binary array,
    honoring a non-zero array offset (sliced arrays)."""
    n = len(arr)
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[arr.offset : arr.offset + n + 1]
    data_all = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
    data = data_all[offsets[0] : offsets[-1]]
    lens = np.diff(offsets).astype(np.int64)
    return data, lens


def _encode_column_np(java_class: str, arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """Encode one column → (per-record serialized lengths, data buffer),
    uncompressed.  Variable-width paths are numpy-vectorized (no
    per-record Python)."""
    if java_class not in WRITABLES:
        raise SeqFileError(f"unsupported Writable class: {java_class}")
    arrow_type, np_dtype = WRITABLES[java_class]
    n = len(arr)
    if arr.null_count and np_dtype != "null":
        raise SeqFileError(f"{java_class} cannot encode nulls")
    if np_dtype == "null":
        return np.zeros(n, dtype=np.int64), b""
    if np_dtype is not None:
        width = int(np_dtype[2:])
        data = arr.to_numpy(zero_copy_only=False).astype(np_dtype).tobytes()
        return np.full(n, width, dtype=np.int64), data
    data, lens = _var_buffers(arr.cast(arrow_type))
    if java_class == TEXT:
        prefixes, plen = encode_vints(lens)
    else:
        prefixes, plen = lens.astype(">u4").view(np.uint8), np.full(n, 4, dtype=np.int64)
    rec_lens = plen + lens
    mask = _prefix_mask(rec_lens, plen)
    out = np.empty(len(mask), dtype=np.uint8)
    out[mask] = prefixes
    out[~mask] = data
    return rec_lens, out.tobytes()


def _encode_column(java_class: str, arr: pa.Array) -> tuple[bytes, bytes]:
    """Block-layout encoding: (varint-packed lengths section, data)."""
    lens, payload = _encode_column_np(java_class, arr)
    return encode_vint_array(lens), payload


@dataclass
class SeqFileWriter:
    """Writes a SequenceFile; BLOCK+Snappy by default (inverse of the
    reference's parse path), with ``compression_type`` in
    {"block", "record", "none"} and any ``codec`` from
    ``SUPPORTED_CODECS`` for Hadoop interop."""

    path: str
    key_class: str
    value_class: str
    metadata: list[tuple[str, str]] = field(default_factory=list)
    sync: bytes | None = None
    block_records: int = 65536
    compression_type: str = "block"
    codec: str = SNAPPY_CODEC

    def __post_init__(self):
        self.codec = check_writer_options(
            self.block_records, self.compression_type, self.codec
        )
        if self.compression_type != "none":
            self._compress, _ = _codec_funcs(self.codec)
        if self.sync is None:
            # deterministic-ish but unique per file; 16 bytes like MD5
            self.sync = os.urandom(16)
        self._f = open(self.path, "wb")
        self._write_header()
        self._last_sync_pos = 0  # record/none layouts: sync cadence
        self._pending_keys: list[pa.Array] = []
        self._pending_values: list[pa.Array] = []
        self._pending_count = 0

    def _write_text(self, s: str) -> None:
        b = s.encode("utf-8")
        self._f.write(encode_vint(len(b)))
        self._f.write(b)

    def _write_header(self) -> None:
        f = self._f
        f.write(MAGIC)
        f.write(bytes([VERSION]))
        self._write_text(self.key_class)
        self._write_text(self.value_class)
        ct = self.compression_type
        f.write(bytes([ct != "none", ct == "block"]))  # compression, blockCompression
        if ct != "none":
            self._write_text(self.codec)
        f.write(struct.pack(">I", len(self.metadata)))
        for k, v in self.metadata:
            self._write_text(k)
            self._write_text(v)
        f.write(self.sync)

    def write_batch(self, keys: pa.Array, values: pa.Array) -> None:
        assert len(keys) == len(values)
        if self.compression_type != "block":
            self._write_records(keys, values)
            return
        self._pending_keys.append(keys)
        self._pending_values.append(values)
        self._pending_count += len(keys)
        # cap every record block at block_records (r16, caught by the
        # 1 B-record decade step): flushing ALL pending rows as one
        # block let a caller handing multi-million-row Arrow batches
        # produce ~60 MB blocks — sync markers then appear only at
        # block boundaries, so byte-range splits coarsen to the block
        # size and the read path loses split parallelism (measured
        # 12x decode slowdown on 4 M-record blocks vs 65536)
        while self._pending_count >= self.block_records:
            self._flush_block(self.block_records)

    def _write_records(self, keys: pa.Array, values: pa.Array) -> None:
        """RECORD / uncompressed layout (Hadoop Writer.append): per
        record ``[rl][kl][key][value]``, sync every ~SYNC_INTERVAL
        bytes.  In RECORD mode each value is independently compressed
        (that's the format — per-record codec calls are inherent; BLOCK
        is the performance path)."""
        f = self._f
        key_lens, key_buf = _encode_column_np(
            self.key_class, keys.cast(WRITABLES[self.key_class][0])
        )
        val_lens, val_buf = _encode_column_np(
            self.value_class, values.cast(WRITABLES[self.value_class][0])
        )
        k_off = np.zeros(len(key_lens) + 1, dtype=np.int64)
        np.cumsum(key_lens, out=k_off[1:])
        v_off = np.zeros(len(val_lens) + 1, dtype=np.int64)
        np.cumsum(val_lens, out=v_off[1:])
        kmv, vmv = memoryview(key_buf), memoryview(val_buf)
        compress = self._compress if self.compression_type == "record" else None
        for i in range(len(key_lens)):
            key = kmv[k_off[i] : k_off[i + 1]]
            val = vmv[v_off[i] : v_off[i + 1]]
            if compress is not None:
                val = compress(bytes(val))
            if f.tell() - self._last_sync_pos >= SYNC_INTERVAL:
                f.write(SYNC_ESCAPE)
                f.write(self.sync)
                self._last_sync_pos = f.tell()
            f.write(struct.pack(">ii", len(key) + len(val), len(key)))
            f.write(key)
            f.write(val)

    def _flush_block(self, limit: int | None = None) -> None:
        """Write one record block of up to ``limit`` pending records
        (all of them when ``limit`` is None, i.e. at close)."""
        if not self._pending_count:
            return
        keys = pa.concat_arrays([a.cast(WRITABLES[self.key_class][0]) for a in self._pending_keys]) if self._pending_keys else pa.nulls(0)
        values = pa.concat_arrays([a.cast(WRITABLES[self.value_class][0]) for a in self._pending_values])
        n = len(keys) if limit is None else min(limit, len(keys))
        if n < len(keys):
            # zero-copy: the first n rows become this block, the tail
            # stays pending for the next one
            self._pending_keys = [keys.slice(n)]
            self._pending_values = [values.slice(n)]
            self._pending_count = len(keys) - n
            keys = keys.slice(0, n)
            values = values.slice(0, n)
        else:
            self._pending_keys = []
            self._pending_values = []
            self._pending_count = 0
        f = self._f
        f.write(SYNC_ESCAPE)
        f.write(self.sync)
        f.write(encode_vint(n))
        for java_class, arr in ((self.key_class, keys), (self.value_class, values)):
            lengths, data = _encode_column(java_class, arr)
            for buf in (lengths, data):
                comp = self._compress(buf)
                f.write(encode_vint(len(comp)))
                f.write(comp)

    def close(self) -> None:
        self._flush_block()
        self._f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def write_table(
    path: str,
    table: pa.Table,
    *,
    key_class: str | None = None,
    value_class: str | None = None,
    block_records: int = 65536,
    compression_type: str = "block",
    codec: str = SNAPPY_CODEC,
) -> None:
    """Write a 2-column Arrow table (key, value) as a SequenceFile."""
    if table.num_columns != 2:
        raise SeqFileError("sequence file tables must have exactly (key, value)")
    kc = key_class or ARROW_TO_CLASS.get(str(table.schema.types[0]))
    vc = value_class or ARROW_TO_CLASS.get(str(table.schema.types[1]))
    if kc is None or vc is None:
        raise SeqFileError(f"unsupported arrow types: {table.schema.types}")
    with SeqFileWriter(
        path,
        kc,
        vc,
        block_records=block_records,
        compression_type=compression_type,
        codec=codec,
    ) as w:
        for batch in table.to_batches(max_chunksize=block_records):
            w.write_batch(batch.column(0), batch.column(1))
