"""Hadoop MapFile support: a sorted SequenceFile (``data``) plus a
sparse index SequenceFile (``index``) mapping every block's first key
to its byte position — the classic Hadoop companion format for
key-range and point reads.

The reference library stops at single SequenceFiles
(src/Data/Hadoop/SequenceFile.hs:45-50 decodes one file; no index
awareness).  MapFile is the natural extension of the same on-disk
vocabulary: the ``data``/``index`` members are both plain
SequenceFiles (this module reuses the existing reader/writer for every
byte), and the index is what turns a full scan into a pruned
byte-range scan — the format-level analog of parquet min/max pruning.

Layout notes (public Hadoop semantics, org.apache.hadoop.io.MapFile):

* ``data``: records strictly sorted ascending by key (Text compares
  bytewise — identical to code-point order for valid UTF-8, which is
  what Arrow's sort emits; numeric Writables compare by value);
* ``index``: same key class, value class LongWritable = byte position
  of a sync boundary at/before the indexed record.  Hadoop writes one
  entry per ``indexInterval`` records with the position of the last
  flushed boundary; we write one entry per record block with the
  position of the block's preceding sync — the same seek contract
  (``SequenceFile.Reader.seek(pos)`` + scan forward), verified against
  ``MapFile.Reader.get`` in tests/test_mapfile.py.

At 100 TB: the index is tiny (one ~20-byte entry per block) and loads
driver-side in one read; range pruning turns a scan of the whole
sorted corpus into ``O(matching blocks)`` IO before Spark even
schedules tasks — the same shape as partition pruning, but intra-file.
"""

from __future__ import annotations

import os
from bisect import bisect_left, bisect_right
from dataclasses import dataclass

import pyarrow as pa

from . import core

DATA_FILE = "data"
INDEX_FILE = "index"
LONG_WRITABLE = "org.apache.hadoop.io.LongWritable"
# data-header metadata key recording the file's MAX key.  The sparse
# index stores block FIRST keys only, so without this a range query
# must scan the final block of every file wholly below the range
# (Hadoop has the same blind spot).  Hadoop readers ignore unknown
# metadata pairs, so interop is unaffected.
LAST_KEY_META = "hfs.mapfile.last.key"


def _key_from_str(raw: str, arrow_type: pa.DataType):
    """Inverse of str() for the key types we write (int/float/string)."""
    if pa.types.is_integer(arrow_type):
        return int(raw)
    if pa.types.is_floating(arrow_type):
        return float(raw)
    return raw


def _is_map_dir(path: str) -> bool:
    return os.path.isdir(path) and os.path.isfile(os.path.join(path, DATA_FILE))


def write_map_dir(
    path: str,
    table: pa.Table,
    *,
    key_class: str | None = None,
    value_class: str | None = None,
    block_records: int = 4096,
    compression_type: str = "block",
    codec: str = core.SNAPPY_CODEC,
    assume_sorted: bool = False,
) -> int:
    """Write a 2-column (key, value) Arrow table as a MapFile directory.

    Sorts by key unless ``assume_sorted`` (then validated — an unsorted
    MapFile silently corrupts every binary search, so we refuse).
    ``block_records`` doubles as the index interval: one index entry
    per record block.  Returns the number of index entries written.
    """
    if table.num_columns != 2:
        raise core.SeqFileError("map files take exactly (key, value)")
    if table.column(0).null_count:
        raise core.SeqFileError("map file keys must be non-null")
    if not assume_sorted:
        table = table.sort_by([(table.schema.names[0], "ascending")])
    else:
        import pyarrow.compute as pc

        k = table.column(0).combine_chunks()
        if len(k) > 1 and not pc.all(
            pc.greater_equal(k.slice(1), k.slice(0, len(k) - 1))
        ).as_py():
            raise core.SeqFileError(
                "assume_sorted=True but keys are not ascending"
            )
    kc = key_class or core.ARROW_TO_CLASS.get(str(table.schema.types[0]))
    vc = value_class or core.ARROW_TO_CLASS.get(str(table.schema.types[1]))
    if kc is None or vc is None:
        raise core.SeqFileError(f"unsupported arrow types: {table.schema.types}")

    os.makedirs(path, exist_ok=True)
    index_keys: list = []
    index_pos: list[int] = []
    last_key_meta = (
        [] if table.num_rows == 0
        else [(LAST_KEY_META, str(table.column(0)[-1].as_py()))]
    )
    with core.SeqFileWriter(
        os.path.join(path, DATA_FILE),
        kc,
        vc,
        metadata=last_key_meta,
        block_records=block_records,
        compression_type=compression_type,
        codec=codec,
    ) as w:
        for batch in table.to_batches(max_chunksize=block_records):
            keys, values = batch.column(0), batch.column(1)
            # Index position = the sync marker introducing this batch,
            # so it is a valid seek target for both our range reader
            # (resync-at-start) and Hadoop's SequenceFile.Reader.seek.
            # BLOCK layout: every block begins with SYNC_ESCAPE+sync
            # (write_batch flushes per full chunk), so tell() is it.
            # RECORD/none layouts write records through with only a
            # byte-cadence sync — inject one here so every indexed
            # batch starts at a sync (extra sync entries are legal
            # anywhere in the stream).
            pos = w._f.tell()
            if compression_type != "block":
                w._f.write(core.SYNC_ESCAPE)
                w._f.write(w.sync)
                w._last_sync_pos = w._f.tell()
            index_keys.append(keys[0].as_py())
            index_pos.append(pos)
            w.write_batch(keys, values)

    with core.SeqFileWriter(
        os.path.join(path, INDEX_FILE),
        kc,
        LONG_WRITABLE,
        compression_type="none",
    ) as w:
        w.write_batch(
            pa.array(index_keys, type=table.schema.types[0]),
            pa.array(index_pos, type=pa.int64()),
        )
    return len(index_pos)


@dataclass(frozen=True)
class MapIndex:
    """Driver-side view of a MapFile's index: block first-keys and the
    byte position of each block, both ascending.  ``last_key`` comes
    from the data header's ``hfs.mapfile.last.key`` metadata pair when
    present (files we wrote); None for Hadoop-written files."""

    keys: list
    positions: list[int]
    data_size: int
    last_key: object | None = None

    def range_bounds(self, lower=None, upper=None) -> tuple[int, int]:
        """Byte range [start, end) of ``data`` covering every record
        with lower <= key <= upper (superset at block granularity —
        callers re-filter rows; bounds are inclusive because a pruned
        superset of an exclusive bound is the same block set)."""
        if not self.positions:
            return (0, 0)
        if lower is not None and self.last_key is not None and self.last_key < lower:
            return (0, 0)  # whole file below the range: full prune
        start = 0
        if lower is not None:
            # last block whose first key <= lower still may hold lower
            i = bisect_right(self.keys, lower) - 1
            start = self.positions[i] if i >= 0 else 0
        end = self.data_size
        if upper is not None:
            # first block whose first key > upper starts past the range
            j = bisect_right(self.keys, upper)
            if j <= 0:
                return (0, 0)
            if j < len(self.positions):
                end = self.positions[j]
        return (start, end) if start < end else (0, 0)


def read_index(path: str) -> MapIndex:
    data = os.path.join(path, DATA_FILE)
    t = core.read_file(os.path.join(path, INDEX_FILE))
    header = core.read_header(data)
    raw = dict(header.metadata).get(LAST_KEY_META)
    last_key = (
        _key_from_str(raw, core.WRITABLES[header.key_class][0])
        if raw is not None
        else None
    )
    return MapIndex(
        keys=t.column(0).to_pylist(),
        positions=t.column(1).to_pylist(),
        data_size=os.path.getsize(data),
        last_key=last_key,
    )


def read_map_dir(
    path: str,
    *,
    key_lower=None,
    key_upper=None,
    want_keys: bool = True,
    want_values: bool = True,
) -> pa.Table:
    """Read a MapFile directory → Arrow table, pruning data blocks via
    the index when key bounds are given, then exact-filtering rows.
    Bounds are inclusive."""
    import pyarrow.compute as pc

    data = os.path.join(path, DATA_FILE)
    header = core.read_header(data)
    if key_lower is None and key_upper is None:
        start, end = 0, None
    else:
        start, end = read_index(path).range_bounds(key_lower, key_upper)
        if end <= start:
            schema = header.arrow_schema()
            fields = ([schema.field("key")] if want_keys else []) + (
                [schema.field("value")] if want_values else []
            )
            return pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in fields], schema=pa.schema(fields)
            )
    # exact row filter needs keys even if the caller only wants values
    need_keys = want_keys or key_lower is not None or key_upper is not None
    batches = []
    for block in core.iter_blocks(
        data,
        want_keys=need_keys,
        want_values=want_values,
        start=start,
        end=end,
        exact_start=True,  # index positions are exact boundaries
    ):
        cols, names = [], []
        if need_keys:
            cols.append(block.keys)
            names.append("key")
        if want_values:
            cols.append(block.values)
            names.append("value")
        batches.append(pa.RecordBatch.from_arrays(cols, names=names))
    if not batches:
        schema = header.arrow_schema()
        fields = ([schema.field("key")] if need_keys else []) + (
            [schema.field("value")] if want_values else []
        )
        t = pa.Table.from_arrays(
            [pa.array([], type=f.type) for f in fields], schema=pa.schema(fields)
        )
    else:
        t = pa.Table.from_batches(batches)
    if key_lower is not None:
        t = t.filter(pc.greater_equal(pc.field("key"), key_lower))
    if key_upper is not None:
        t = t.filter(pc.less_equal(pc.field("key"), key_upper))
    if not want_keys and need_keys:
        t = t.drop_columns(["key"])
    return t


def map_get(path: str, key):
    """Point lookup: binary-search the index, decode ONE block range,
    return the value (first match) or None — ``MapFile.Reader.get``."""
    idx = read_index(path)
    if not idx.positions:
        return None
    if idx.last_key is not None and key > idx.last_key:
        return None  # beyond this file's keyspace: no block decode
    i = bisect_right(idx.keys, key) - 1
    if i < 0:
        return None
    start = idx.positions[i]
    end = idx.positions[i + 1] if i + 1 < len(idx.positions) else idx.data_size
    data = os.path.join(path, DATA_FILE)
    for block in core.iter_blocks(data, start=start, end=end, exact_start=True):
        keys = block.keys.to_pylist()
        j = bisect_left(keys, key)
        if j < len(keys) and keys[j] == key:
            return block.values[j].as_py()
    return None


def map_get_closest(path: str, key, *, before: bool = False):
    """``MapFile.Reader.getClosest`` semantics
    (hadoop MapFile.java getClosest(key, val, before)): return
    ``(found_key, value)`` for the smallest stored key >= ``key``
    (default), or the largest stored key <= ``key`` when
    ``before=True``; ``None`` when no such key exists.  Like
    ``map_get``, one index binary-search then at most a short ordered
    block-range decode — the floor/ceiling point lookup an as-of or
    snapshot read needs against a sorted keyed store."""
    idx = read_index(path)
    if not idx.positions:
        return None
    data = os.path.join(path, DATA_FILE)
    if before:
        i = bisect_right(idx.keys, key) - 1
        if i < 0:
            return None  # key sorts before the file's first key
        start = idx.positions[i]
        end = idx.positions[i + 1] if i + 1 < len(idx.positions) else idx.data_size
        best = None
        for block in core.iter_blocks(
            data, start=start, end=end, exact_start=True
        ):
            keys = block.keys.to_pylist()
            j = bisect_right(keys, key) - 1
            if j >= 0:
                best = (keys[j], block.values[j].as_py())
        return best
    if idx.last_key is not None and key > idx.last_key:
        return None  # beyond the keyspace: no block decode at all
    i = max(bisect_right(idx.keys, key) - 1, 0)
    start = idx.positions[i]
    for block in core.iter_blocks(
        data, start=start, end=idx.data_size, exact_start=True
    ):
        keys = block.keys.to_pylist()
        j = bisect_left(keys, key)
        if j < len(keys):
            return (keys[j], block.values[j].as_py())
    return None
