"""``spark.read.format("hadoop_map")`` — MapFile directories as a
Spark data source, with key-range scan pruning driven by the index.

Read side: pushed key predicates (=, <, <=, >, >=, IN on ``key``)
shrink each data file's scanned byte range via its ``index`` BEFORE
partitions are planned — the intra-file analog of partition pruning —
then rows are exact-filtered in Arrow, so pruning is never a
correctness dependency.  Everything else (splitting, bin-packing,
column pruning, FAILFAST/PERMISSIVE) is inherited from the
SequenceFile reader: a MapFile's members ARE SequenceFiles.

Write side: one sorted MapFile directory per input partition
(``part-NNNNN``), the ``MapFileOutputFormat`` contract — globally
range-partitioned input (``df.repartitionByRange("key")``) yields a
set of disjoint sorted maps.  Each task sorts its own partition, so
partitions must fit in task memory — the same bound every sort-based
writer has.

The reference decodes single SequenceFiles only
(src/Data/Hadoop/SequenceFile.hs:45-50); MapFile is the classic Hadoop
companion built from the same bytes.  Interop is verified both ways in
tests/test_mapfile.py against ``org.apache.hadoop.io.MapFile.Reader``.
"""

from __future__ import annotations

import glob as _glob
import os
import uuid
from typing import Iterator

import pyarrow as pa

from pyspark.sql.datasource import (
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from . import core, mapfile
from .datasource import KeyValueWriter, SeqCommit, SeqFileDataSource, SeqFileReader


def _expand_map_dirs(path: str) -> list[str]:
    """path may be a MapFile dir, a directory of MapFile dirs, or a
    glob over either."""
    cands = [path] if os.path.isdir(path) else (sorted(_glob.glob(path)) or [path])
    out: list[str] = []
    for c in cands:
        if mapfile._is_map_dir(c):
            out.append(c)
        elif os.path.isdir(c):
            out.extend(
                d
                for child in sorted(os.listdir(c))
                if not child.startswith(("_", "."))
                and mapfile._is_map_dir(d := os.path.join(c, child))
            )
    if not out:
        raise ValueError(f"no MapFile directories (containing 'data') under {path!r}")
    return out


class MapFileDataSource(SeqFileDataSource):
    """Reader options: those of ``hadoop_seq`` plus ``key_lower`` /
    ``key_upper`` (inclusive bounds, applied like pushed filters).
    Writer options: ``block_records`` (doubles as the index interval),
    ``compression_type``, ``codec``, ``assume_sorted``, ``bloom``
    ("true" → write a BloomMapFile: adds a ``bloom`` member that lets
    equality probes skip whole part files) and ``bloom_error_rate``."""

    @classmethod
    def name(cls) -> str:
        return "hadoop_map"

    def _paths(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("hadoop_map requires a path")
        return [
            os.path.join(d, mapfile.DATA_FILE) for d in _expand_map_dirs(path)
        ]

    def reader(self, schema: StructType) -> "MapFileReader":
        self._check_schema(schema)
        return MapFileReader(self, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "MapFileWriter":
        return MapFileWriter(self.options, schema, overwrite)

    def streamReader(self, schema):
        raise NotImplementedError(
            "hadoop_map has no streaming source; stream the data files "
            "with format('hadoop_seq') instead"
        )

    def streamWriter(self, schema, overwrite):
        raise NotImplementedError(
            "hadoop_map has no streaming sink; a MapFile must be sorted "
            "as a whole — use format('hadoop_seq') plus a batch compaction"
        )


class MapFileReader(SeqFileReader):
    def __init__(self, source: MapFileDataSource, schema: StructType):
        super().__init__(source, schema)
        key_type = core.read_header(self.paths[0]).arrow_schema().field("key").type
        lo = source.options.get("key_lower")
        hi = source.options.get("key_upper")
        self._key_lower = mapfile._key_from_str(lo, key_type) if lo is not None else None
        self._key_upper = mapfile._key_from_str(hi, key_type) if hi is not None else None
        if self._key_lower is not None or self._key_upper is not None:
            import pyarrow.compute as pc

            expr = None
            if self._key_lower is not None:
                expr = pc.field("key") >= self._key_lower
            if self._key_upper is not None:
                e2 = pc.field("key") <= self._key_upper
                expr = e2 if expr is None else expr & e2
            # option bounds are exact-filtered like pushed filters
            self._arrow_filter = (
                expr if self._arrow_filter is None else self._arrow_filter & expr
            )

    # equality probes (EqualTo / In on key) additionally consult each
    # file's bloom member when present: a BloomMapFile part whose
    # filter rejects every probed key prunes to zero bytes without a
    # single block decode — the per-file analog of probablyHasKey.
    _eq_keys: frozenset | None = None
    _has_range_filter: bool = False

    def _tighten(self, lower=None, upper=None) -> None:
        if lower is not None and (
            self._key_lower is None or lower > self._key_lower
        ):
            self._key_lower = lower
        if upper is not None and (
            self._key_upper is None or upper < self._key_upper
        ):
            self._key_upper = upper

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if getattr(f, "attribute", None) == ("key",):
                # exclusive bounds pass the boundary block; the
                # inherited Arrow filter (or Spark itself) drops the
                # boundary rows — pruning is a superset by design
                if isinstance(f, EqualTo):
                    self._tighten(lower=f.value, upper=f.value)
                    self._merge_eq({f.value})
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._tighten(lower=f.value)
                    self._has_range_filter = True
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._tighten(upper=f.value)
                    self._has_range_filter = True
                elif isinstance(f, In) and f.value:
                    self._tighten(lower=min(f.value), upper=max(f.value))
                    self._merge_eq(set(f.value))
        yield from super().pushFilters(filters)

    def _merge_eq(self, keys: set) -> None:
        # conjunction of equality filters: intersect candidate sets
        self._eq_keys = (
            frozenset(keys)
            if self._eq_keys is None
            else self._eq_keys & frozenset(keys)
        )

    def _file_span(self, path: str, size: int) -> tuple[int, int]:
        if self._key_lower is None and self._key_upper is None:
            return (0, size)
        map_dir = os.path.dirname(path)
        if self._eq_keys is not None and not self._has_range_filter:
            from .bloom import may_contain_any

            if not may_contain_any(map_dir, self._eq_keys):
                return (0, 0)
        idx = mapfile.read_index(map_dir)
        return idx.range_bounds(self._key_lower, self._key_upper)


class MapFileWriter(KeyValueWriter):
    format_name = "hadoop_map"
    default_block_records = 4096

    def __init__(self, options, schema: StructType, overwrite: bool):
        super().__init__(options, schema)
        self.assume_sorted = options.get("assume_sorted", "").lower() == "true"
        self.bloom = options.get("bloom", "").lower() == "true"
        self.bloom_error_rate = float(options.get("bloom_error_rate", 0.005))
        if overwrite and os.path.isdir(self.dir):
            import shutil

            for f in os.listdir(self.dir):
                full = os.path.join(self.dir, f)
                if f.startswith("part-") and mapfile._is_map_dir(full):
                    shutil.rmtree(full)
        os.makedirs(self.dir, exist_ok=True)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> SeqCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}"
        tmp = os.path.join(self.dir, "." + name)
        batches = list(iterator)
        rows = sum(b.num_rows for b in batches)
        if rows == 0:
            return SeqCommit("", 0)
        table = pa.Table.from_batches(batches)
        opts = dict(
            block_records=self.block_records,
            compression_type=self.compression_type,
            codec=self.codec,
            assume_sorted=self.assume_sorted,
        )
        if self.bloom:
            from . import bloom as _bloom

            _bloom.write_bloom_map_dir(
                tmp, table, error_rate=self.bloom_error_rate, **opts
            )
        else:
            mapfile.write_map_dir(tmp, table, **opts)
        final = os.path.join(self.dir, name)
        os.rename(tmp, final)
        return SeqCommit(final, rows)
