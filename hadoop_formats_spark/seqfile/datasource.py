"""Spark Python DataSource ``hadoop_seq`` — Hadoop SequenceFiles.

Reads/writes all three layouts (BLOCK-compressed — the reference's only
layout — plus RECORD-compressed and uncompressed) and the
Snappy/Default(zlib)/Gzip/BZip2 codecs, auto-detected from each file's
header.

Spark-first re-expression of the reference's scan/decode entry point
(``decode``, ``src/Data/Hadoop/SequenceFile.hs:81-84``): one DataFrame
with columns ``(key, value)`` whose types come from the file header
(``Parser.hs:43-70``), decoded block-at-a-time into Arrow batches.

Scale design (the reference reads one lazy ByteString sequentially in a
single thread — ``SequenceFile.hs:81-89``; we must split for 100 TB):

* one ``InputPartition`` per byte range of ``split_size`` (default
  128 MiB) per file; readers resync on the 20-byte sync pattern, so a
  1000-executor cluster scans a single huge file in parallel;
* column pruning: ``.option("columns", "key")`` skips decompressing
  the other column's two sections entirely (the 4 sections are
  independently compressed, ``Parser.hs:104-107``);
* count fast path: ``sequence_file_count()`` sums block headers without
  decompressing anything (SURVEY §3 EP3);
* filter pushdown: ``pushFilters`` evaluates supported predicates
  vectorized in Arrow inside the Python worker, shrinking the
  Arrow→JVM transfer;
* read modes: ``FAILFAST`` (default — mirrors the reference's
  fail-stop ``Stream.Error``, ``SequenceFile.hs:91-95``) and
  ``PERMISSIVE`` (skip corrupt remainder of a split).

Usage::

    from hadoop_formats_spark.seqfile.datasource import register
    register(spark)
    df = spark.read.format("hadoop_seq").load("/data/*.seq")
    df.filter(df.key > 10).select("value").show()
"""

from __future__ import annotations

import glob as _glob
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    NullType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from . import core

DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024

_ARROW_TO_SPARK = {
    "null": NullType(),
    "int16": ShortType(),
    "int32": IntegerType(),
    "int64": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "binary": BinaryType(),
    "string": StringType(),
}

_SPARK_TO_CLASS = {
    "void": "org.apache.hadoop.io.NullWritable",
    "smallint": "org.apache.hadoop.io.ShortWritable",
    "int": "org.apache.hadoop.io.IntWritable",
    "bigint": "org.apache.hadoop.io.LongWritable",
    "float": "org.apache.hadoop.io.FloatWritable",
    "double": "org.apache.hadoop.io.DoubleWritable",
    "binary": "org.apache.hadoop.io.BytesWritable",
    "string": "org.apache.hadoop.io.Text",
}


def _expand_paths(path: str) -> list[str]:
    """path may be a file, a directory, or a glob."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith(("_", "."))
        )
    else:
        files = sorted(_glob.glob(path)) or [path]
    out = []
    for f in files:
        if os.path.isdir(f):
            out.extend(_expand_paths(f))
        else:
            out.append(f)
    return out


@dataclass
class SeqSplit(InputPartition):
    """One input partition = a list of (path, start, end) byte ranges.
    Large files are split into ranges (readers resync on the sync
    marker); small files are bin-packed together so a directory of many
    part files doesn't pay one Python-worker round-trip per file.

    ``exact``: (path, start) pairs whose start is a KNOWN record/block
    boundary (a MapFile index position) — those ranges seek directly
    instead of resyncing, because a pruned span may not begin at a sync
    (Hadoop-written record-layout indexes)."""

    ranges: tuple[tuple[str, int, int], ...]
    exact: tuple[tuple[str, int], ...] = ()


class SeqFileDataSource(DataSource):
    """``spark.read.format("hadoop_seq")`` / ``df.write.format("hadoop_seq")``.

    Reader options:
      * ``path`` — file, directory, or glob (required)
      * ``columns`` — comma list subset of ``key,value`` (manual pruning)
      * ``mode`` — FAILFAST (default) | PERMISSIVE
      * ``split_size`` — target bytes per input partition
      * ``block_counts`` — "true": one row ``(block_records bigint)`` per
        record block, read from block headers only (count fast path)

    Writer options:
      * ``path`` — output directory (one part file per partition)
      * ``block_records`` — records per record-block (default 65536)
      * ``compression_type`` — block (default) | record | none
      * ``codec`` — Hadoop codec class (Snappy default; also
        DefaultCodec/GzipCodec/BZip2Codec).  The reader auto-detects
        layout and codec from each file's header.
      * ``metadata.<key>`` — file-header metadata pairs (SURVEY R18;
        e.g. ``option("metadata.source", "etl-v2")``); read back with
        ``read_metadata(path)`` or Hadoop's ``Reader.getMetadata``.
    """

    @classmethod
    def name(cls) -> str:
        return "hadoop_seq"

    def _paths(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("hadoop_seq requires a path")
        return _expand_paths(path)

    def schema(self) -> StructType:
        if self.options.get("block_counts", "").lower() == "true":
            return StructType([StructField("block_records", LongType(), False)])
        header = core.read_header(self._paths()[0])
        fields = []
        wanted = self._wanted_columns()
        for name, cls in (("key", header.key_class), ("value", header.value_class)):
            if name not in wanted:
                continue
            arrow_type, _ = core.WRITABLES[cls]
            fields.append(StructField(name, _ARROW_TO_SPARK[str(arrow_type)], True))
        return StructType(fields)

    def _wanted_columns(self) -> list[str]:
        cols = self.options.get("columns")
        if not cols:
            return ["key", "value"]
        wanted = [c.strip() for c in cols.split(",") if c.strip()]
        bad = set(wanted) - {"key", "value"}
        if bad:
            raise ValueError(f"unknown columns {bad}; sequence files have (key, value)")
        return wanted

    def reader(self, schema: StructType) -> "SeqFileReader":
        return SeqFileReader(self, schema)

    def streamReader(self, schema: StructType) -> "SeqFileStreamReader":
        return SeqFileStreamReader(self, schema)

    def writer(self, schema: StructType, overwrite: bool) -> "SeqFileWriter":
        return SeqFileWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return SeqFileStreamWriter(self.options, schema)


def _filter_to_arrow(f: Filter):
    """Translate a Spark pushed filter to a pyarrow.compute expression;
    None if unsupported (Spark re-applies everything anyway — this is a
    transfer-size optimization, not a correctness dependency)."""
    import pyarrow.compute as pc

    try:
        if isinstance(f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)):
            col = pc.field(f.attribute[0])
            ops = {
                EqualTo: lambda c, v: c == v,
                GreaterThan: lambda c, v: c > v,
                GreaterThanOrEqual: lambda c, v: c >= v,
                LessThan: lambda c, v: c < v,
                LessThanOrEqual: lambda c, v: c <= v,
            }
            return ops[type(f)](col, f.value)
        if isinstance(f, In):
            # the Spark filter dataclass calls the tuple ``value``
            return pc.field(f.attribute[0]).isin(list(f.value))
        if isinstance(f, IsNull):
            return pc.field(f.attribute[0]).is_null()
        if isinstance(f, IsNotNull):
            return ~pc.field(f.attribute[0]).is_null()
    except Exception:
        return None
    return None


class SeqFileReader(DataSourceReader):
    def __init__(self, source: SeqFileDataSource, schema: StructType):
        opts = source.options
        self.paths = source._paths()
        self.columns = [f.name for f in schema.fields]
        self.mode = opts.get("mode", "FAILFAST").upper()
        self.split_size = int(opts.get("split_size", 0))  # 0 → auto-size
        self.block_counts = opts.get("block_counts", "").lower() == "true"
        self._arrow_filter = None

    def _file_span(self, path: str, size: int) -> tuple[int, int]:
        """Byte range of ``path`` worth scanning; (0, size) unless a
        subclass can prune (MapFile key-range index)."""
        return (0, size)

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept what we can evaluate in Arrow; Spark keeps them too
        (we return only the ones we could NOT handle; handled ones cut
        Python→JVM transfer)."""
        exprs = []
        for f in filters:
            e = _filter_to_arrow(f) if not self.block_counts else None
            if e is None:
                yield f
            else:
                exprs.append(e)
        if exprs:
            combined = exprs[0]
            for e in exprs[1:]:
                combined = combined & e
            self._arrow_filter = combined

    def partitions(self) -> list[SeqSplit]:
        sizes = {p: os.path.getsize(p) for p in self.paths}
        split_size = self.split_size
        if split_size <= 0:
            # auto-size: ~1 split per visible core, clamped to
            # [8 MiB, 128 MiB] (explicit ``split_size`` overrides; on a
            # cluster the 128 MiB cap keeps task counts sane at 100 TB).
            # Every Python-datasource task pays a fixed cost outside
            # the decode (SCALE.md "Per-task Python floor": mostly
            # PySpark's per-task zip re-read, which ``pydaemon`` skips),
            # so small splits are overhead-dominated: measured on the 10M
            # record / 143 MB scaled fixture (local[32], round 5),
            # 2.2 MiB splits ran 8.5 M recs/s, 9 MiB splits 12.0 M,
            # 1.1 MiB splits 5.7 M.  The 8 MiB floor keeps per-task
            # decode (~64 MB/s/core) well above that overhead; the old
            # 2-waves/1 MiB sizing only ever bites for inputs smaller
            # than cores x 16 MiB, exactly the overhead regime.
            total = sum(sizes.values())
            cores = os.cpu_count() or 8
            split_size = min(
                DEFAULT_SPLIT_SIZE, max(8 * 1024 * 1024, total // cores)
            )
        ranges: list[tuple[str, int, int]] = []
        exact: set[tuple[str, int]] = set()
        for path in self.paths:
            size = sizes[path]
            if size == 0:
                continue
            # _file_span lets format-aware subclasses restrict the scan
            # to a byte range before splitting (MapFile index pruning)
            lo, hi = self._file_span(path, size)
            if hi <= lo:
                continue
            if lo > 0:
                # a span start from _file_span is an exact boundary;
                # interior split starts still resync as usual
                exact.add((path, lo))
            span = hi - lo
            nsplits = max(1, span // split_size)
            step = (span + nsplits - 1) // nsplits
            for start in range(lo, hi, step):
                ranges.append((path, start, min(start + step, hi)))
        # first-fit bin-pack ranges into ~split_size partitions
        splits: list[SeqSplit] = []
        bin_ranges: list[tuple[str, int, int]] = []
        bin_bytes = 0
        def _mk(rs: list[tuple[str, int, int]]) -> SeqSplit:
            ex = tuple((p2, s2) for p2, s2, _ in rs if (p2, s2) in exact)
            return SeqSplit(tuple(rs), ex)

        for r in ranges:
            r_bytes = r[2] - r[1]
            if bin_ranges and bin_bytes + r_bytes > split_size:
                splits.append(_mk(bin_ranges))
                bin_ranges, bin_bytes = [], 0
            bin_ranges.append(r)
            bin_bytes += r_bytes
        if bin_ranges:
            splits.append(_mk(bin_ranges))
        if not splits:  # Spark requires ≥1 partition
            splits.append(SeqSplit(((self.paths[0], 0, 0),)))
        return splits

    def read(self, split: SeqSplit) -> Iterator[pa.RecordBatch]:
        exact = set(split.exact)
        for path, start, end in split.ranges:
            yield from self._read_range(
                path, start, end, exact=(path, start) in exact
            )

    def _read_range(
        self, path: str, start: int, end: int, exact: bool = False
    ) -> Iterator[pa.RecordBatch]:
        if end <= start:
            return
        if self.block_counts:
            counts = core.iter_block_counts(path, start=start, end=end)
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(counts), type=pa.int64())], names=["block_records"]
            )
            return
        want_keys = "key" in self.columns
        want_values = "value" in self.columns
        blocks = core.iter_blocks(
            path,
            want_keys=want_keys,
            want_values=want_values,
            start=start,
            end=end,
            exact_start=exact,
        )
        while True:
            try:
                block = next(blocks)
            except StopIteration:
                return
            except core.SeqFileError:
                if self.mode == "PERMISSIVE":
                    return  # fail-stop for this range; keep other ranges
                raise
            arrays, names = [], []
            if want_keys:
                arrays.append(block.keys)
                names.append("key")
            if want_values:
                arrays.append(block.values)
                names.append("value")
            batch = pa.RecordBatch.from_arrays(arrays, names=names)
            if self._arrow_filter is not None:
                batch = pa.Table.from_batches([batch]).filter(self._arrow_filter)
                for b in batch.to_batches():
                    if b.num_rows:
                        yield b
            else:
                yield batch


class SeqFileStreamReader(DataSourceStreamReader):
    """Streaming source: tail a directory of SequenceFiles.

    Offsets are ``{"files": {path: size}}`` snapshots; each microbatch
    reads the files that appeared since the last offset, split/
    bin-packed exactly like the batch reader.  Files must appear
    atomically (write elsewhere + rename in, as our writer and Spark's
    own file sinks do) — the standard Spark file-source contract; a
    file is claimed by the first offset that saw it, and Spark's
    checkpoint replays offsets, not data.
    """

    def __init__(self, source: SeqFileDataSource, schema: StructType):
        self._batch = SeqFileReader(source, schema)
        self._root = source.options.get("path")
        if not self._root:
            raise ValueError("hadoop_seq stream requires a path")

    def _snapshot(self) -> dict:
        try:
            files = _expand_paths(self._root)
        except OSError:
            files = []
        return {
            f: os.path.getsize(f) for f in files if os.path.exists(f)
        }

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        return {"files": self._snapshot()}

    def partitions(self, start: dict, end: dict):
        seen = start.get("files", {})
        new_files = [
            p for p, size in end.get("files", {}).items() if p not in seen and size > 0
        ]
        if not new_files:
            return [SeqSplit(((self._root, 0, 0),))]  # empty batch
        saved_paths = self._batch.paths
        try:
            self._batch.paths = sorted(new_files)
            return self._batch.partitions()
        finally:
            self._batch.paths = saved_paths

    def read(self, split: SeqSplit):
        yield from self._batch.read(split)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing to clean up


@dataclass
class SeqCommit(WriterCommitMessage):
    path: str
    rows: int


class SeqFileWriter(DataSourceArrowWriter):
    def __init__(self, options, schema: StructType, overwrite: bool):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("hadoop_seq write requires a path")
        if len(schema.fields) != 2:
            raise ValueError(
                f"hadoop_seq writes (key, value) DataFrames; got {len(schema.fields)} columns"
            )
        self.classes = []
        for f in schema.fields:
            cls = _SPARK_TO_CLASS.get(f.dataType.simpleString())
            if cls is None:
                raise ValueError(
                    f"column {f.name}: type {f.dataType.simpleString()} has no Writable mapping"
                )
            self.classes.append(cls)
        self.block_records = int(options.get("block_records", 65536))
        self.compression_type = options.get("compression_type", "block").lower()
        codec = options.get("codec", core.SNAPPY_CODEC)
        # accept short names: snappy, default, gzip, bzip2
        short = {
            "snappy": core.SNAPPY_CODEC,
            "default": core.DEFAULT_CODEC,
            "deflate": core.DEFAULT_CODEC,
            "gzip": core.GZIP_CODEC,
            "bzip2": core.BZIP2_CODEC,
        }
        self.codec = short.get(codec.lower(), codec)
        self.metadata = sorted(
            (k[len("metadata."):], v)
            for k, v in options.items()
            if k.startswith("metadata.")
        )
        if overwrite and os.path.isdir(self.dir):
            for f in os.listdir(self.dir):
                if f.endswith(".seq"):
                    os.remove(os.path.join(self.dir, f))
        os.makedirs(self.dir, exist_ok=True)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> SeqCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.seq"
        path = os.path.join(self.dir, name)
        # write under a dot-prefixed name (readers skip dotfiles), then
        # rename in atomically — files only ever appear fully written,
        # which the streaming source relies on
        tmp = os.path.join(self.dir, "." + name)
        rows = 0
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = core.SeqFileWriter(
                        tmp,
                        self.classes[0],
                        self.classes[1],
                        block_records=self.block_records,
                        compression_type=self.compression_type,
                        codec=self.codec,
                        metadata=self.metadata,
                    )
                keys = batch.column(0).cast(core.WRITABLES[self.classes[0]][0])
                values = batch.column(1).cast(core.WRITABLES[self.classes[1]][0])
                writer.write_batch(keys, values)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:
            os.rename(tmp, path)
        return SeqCommit(path, rows)


class SeqFileStreamWriter(DataSourceStreamArrowWriter):
    """Streaming SINK: each microbatch partition writes a temp dotfile;
    ``commit`` renames them in, so files appear atomically and only for
    committed batches.  File names embed (batchId, partitionId), making
    a replayed batch overwrite its own output — idempotent re-runs, so
    end-to-end the sink is effectively exactly-once for deterministic
    input (the same guarantee Spark's built-in file sinks give, minus
    the manifest: our streaming READER tracks files by appearance, so a
    manifest isn't needed to consume this sink's output).  Paths are
    local/NFS here; on a real cluster this writer targets the shared
    filesystem, same as the batch writer."""

    def __init__(self, options, schema: StructType):
        # reuse the batch writer's option parsing / schema checks
        self._w = SeqFileWriter(options, schema, overwrite=False)
        # per-query token (generated once on the driver, pickled into
        # every task): temp names carry it so commit()'s stale-file
        # sweep can tell THIS query's dead-task orphans apart from the
        # live temp files of another writer targeting the same dir
        self._token = uuid.uuid4().hex[:8]

    def write(self, iterator: Iterator[pa.RecordBatch]) -> "SeqCommit":
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        w = self._w
        tmp = os.path.join(
            w.dir,
            f".stream-{self._token}-{uuid.uuid4().hex[:8]}-{pid:05d}.seq",
        )
        rows = 0
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = core.SeqFileWriter(
                        tmp,
                        w.classes[0],
                        w.classes[1],
                        block_records=w.block_records,
                        compression_type=w.compression_type,
                        codec=w.codec,
                        metadata=w.metadata,
                    )
                keys = batch.column(0).cast(core.WRITABLES[w.classes[0]][0])
                values = batch.column(1).cast(core.WRITABLES[w.classes[1]][0])
                writer.write_batch(keys, values)
                rows += batch.num_rows
        except BaseException:
            # A failed/retried task would otherwise orphan its temp file
            # forever: abort() only sees paths from RETURNED commit
            # messages, and the uuid in the name means a retry never
            # overwrites it.  Clean up before re-raising.
            if writer is not None:
                writer.close()
                writer = None
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        finally:
            if writer is not None:
                writer.close()
        return SeqCommit(tmp if writer is not None else "", rows)

    def commit(self, messages, batchId: int) -> None:
        for i, m in enumerate(messages):
            if m is None or not m.path:
                continue
            final = os.path.join(
                os.path.dirname(m.path), f"batch-{batchId:08d}-{i:05d}.seq"
            )
            os.replace(m.path, final)
        # sweep stale temp files from tasks of THIS query that died
        # before returning a commit message (their paths never reach
        # abort()); other writers' temp files are left alone
        for f in os.listdir(self._w.dir):
            if f.startswith(f".stream-{self._token}-"):
                try:
                    os.remove(os.path.join(self._w.dir, f))
                except OSError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)


def register(spark) -> None:
    spark.dataSource.register(SeqFileDataSource)


def read_metadata(path: str) -> dict[str, str]:
    """File-header metadata pairs of one SequenceFile (SURVEY R18)."""
    from . import core as _core

    return dict(_core.read_header(path).metadata)


def read_sequence_file(spark, path: str, *, columns: str | None = None):
    """Convenience reader; ``columns`` prunes decode work ("key" or "value")."""
    reader = spark.read.format("hadoop_seq")
    if columns:
        reader = reader.option("columns", columns)
    return reader.load(path)


def sequence_file_count(spark, path: str) -> int:
    """count(*) from block headers alone — no decompression (SURVEY §3 EP3)."""
    from pyspark.sql import functions as F

    df = spark.read.format("hadoop_seq").option("block_counts", "true").load(path)
    row = df.agg(F.sum("block_records").alias("n")).collect()[0]
    return row["n"] or 0
