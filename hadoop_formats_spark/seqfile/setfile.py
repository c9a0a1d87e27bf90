"""SetFile and ArrayFile — the remaining members of Hadoop's
``org.apache.hadoop.io`` file family, both thin specializations of
MapFile (which is itself two SequenceFiles):

* **SetFile**: a MapFile whose values are ``NullWritable`` — a sorted,
  indexed, optionally bloom-accelerated on-disk SET of keys.  The
  canonical 100 TB use: a dedup ledger of already-ingested document
  fingerprints that incremental batches probe.
* **ArrayFile**: a MapFile keyed by ``LongWritable`` 0..n-1 — random
  access to the i-th record of a sorted corpus (``ArrayFile.Reader
  .get(n)``).

The reference library handles none of these (single SequenceFiles
only, src/Data/Hadoop/SequenceFile.hs:45-50); they are the standard
Hadoop vocabulary built from the same bytes, and every byte here is
written/read by the existing seqfile core.  JVM interop (SetFile
.Reader / ArrayFile.Reader on our dirs and vice versa) is verified in
tests/test_setfile.py.
"""

from __future__ import annotations

import os

import pyarrow as pa

from . import bloom as _bloom, core, mapfile

NULL_WRITABLE = "org.apache.hadoop.io.NullWritable"


def write_set_dir(
    path: str,
    keys: pa.Array | pa.ChunkedArray | list,
    *,
    with_bloom: bool = False,
    **map_opts,
) -> int:
    """Write a SetFile: sorted distinct keys, NullWritable values.
    Duplicate keys are collapsed (set semantics).  ``with_bloom`` adds
    the BloomMapFile member so misses cost zero block decodes."""
    arr = pa.chunked_array([keys]) if isinstance(keys, (list, pa.Array)) else keys
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    arr = arr.unique()
    t = pa.table({"key": arr, "value": pa.nulls(len(arr))})
    if with_bloom:
        return _bloom.write_bloom_map_dir(path, t, **map_opts)
    return mapfile.write_map_dir(path, t, **map_opts)


def set_contains(path: str, key) -> bool:
    """SetFile membership (``SetFile.Reader.seek``-and-match): bloom
    first when present, then index binary search + one block scan.
    (``map_get`` can't express this — a NullWritable hit IS None.)"""
    if not _bloom.may_contain_any(path, [key]):
        return False
    return mapfile.seek(path, key, want_values=False) is not None


def write_array_dir(
    path: str, values: pa.Array | pa.ChunkedArray | list, **map_opts
) -> int:
    """Write an ArrayFile: LongWritable keys 0..n-1 over the given
    values, in order (``ArrayFile.Writer.append``)."""
    vals = pa.chunked_array([values]) if isinstance(values, (list, pa.Array)) else values
    n = len(vals)
    t = pa.table({"key": pa.array(range(n), type=pa.int64()), "value": vals})
    # already sorted by construction
    return mapfile.write_map_dir(path, t, assume_sorted=True, **map_opts)


def array_get(path: str, n: int):
    """``ArrayFile.Reader.get(n)`` — the n-th record, one block decode."""
    return mapfile.map_get(path, n)


def array_length(path: str) -> int:
    """Record count from block headers alone (no decompression)."""
    return sum(core.iter_block_counts(os.path.join(path, mapfile.DATA_FILE)))
