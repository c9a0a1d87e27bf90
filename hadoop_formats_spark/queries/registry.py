"""Query registry: every declared capability from SURVEY.md §2.2/§2.3 is
one named entry pairing a Spark DataFrame builder with (when
SQL-expressible) an equivalent DuckDB oracle SQL string.  The driver
runs both at sf0.01 and compares row count + schema + order-insensitive
value hash, so builders and oracles must alias every computed column to
the same name."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tier: str | None = None  # bench.py row set: "headline", "extra" or None


QUERIES: dict[str, QuerySpec] = {}
TIERS = ("headline", "extra", None)


def register(name: str, oracle: str | None = None, doc: str = "", tier: str | None = None):
    if tier not in TIERS:
        raise ValueError(f"query {name!r}: tier {tier!r} is not one of {TIERS}")

    def deco(fn):
        QUERIES[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tier)
        return fn

    return deco


from hadoop_formats_spark.cachedir import materialize, sf_key


def events_path(sf_dir: str) -> str:
    """The testdata ``events.parquet`` carries TIMESTAMP(NANOS), which
    Spark's parquet scan rejects (PARQUET_TYPE_ILLEGAL).  Materialize a
    timestamp[us] copy once per sf dir (values in the testdata are
    second-granularity so the cast is lossless)."""

    def build(tmp):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf_dir}/events.parquet")
        fields = [
            pa.field(f.name, pa.timestamp("us") if pa.types.is_timestamp(f.type) else f.type)
            for f in t.schema
        ]
        # safe=False: testdata ts has sub-µs noise; truncation matches how both
        # Spark and the DuckDB Python client surface values (µs datetimes), and
        # min/bucketing commute with monotonic truncation.
        t = t.cast(pa.schema(fields), safe=False)
        os.makedirs(tmp)
        pq.write_table(t, os.path.join(tmp, "part-0.parquet"))

    return materialize(("events_us", sf_key(sf_dir)), build)


def docs_stream_dir(sf_dir: str, *, nfiles: int = 32) -> str:
    """File-stream sources need a DIRECTORY; the testdata tables are
    single ONE-ROW-GROUP parquet files, which Spark cannot split — so a
    single-file copy serializes every map-side stage of a streaming
    replay onto one task (measured r10: the minhash band registry ran
    10.4 s at sf0.1 single-file vs 2.25 s over the same rows in 8
    files — the cost was never the data, it was the missing splits
    that real 100 TB inputs have by construction).  Materialize the
    documents table as ``nfiles`` row-sliced parquet files once per sf
    dir.  Consumers that need single-microbatch semantics pass
    ``files_per_trigger=nfiles`` so all slices land in ONE batch —
    identical state trajectory to the old one-file copy, 8-way
    parallel scan."""

    # nfiles is part of the cache key: consumers hardcode
    # files_per_trigger=DOCS_STREAM_FILES, so a caller asking for a
    # different slice count must NOT silently receive whichever layout
    # was materialized first — drift there would change microbatch
    # count and hence watermark/TTL state trajectories (ADVICE r10).
    def build(tmp):
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf_dir}/documents.parquet")
        os.makedirs(tmp)
        step = max(1, (t.num_rows + nfiles - 1) // nfiles)
        for i in range(0, nfiles):
            sl = t.slice(i * step, step)
            if sl.num_rows == 0:
                break
            pq.write_table(sl, os.path.join(tmp, f"part-{i}.parquet"))

    return materialize(("docs_streamdir_v2", f"{sf_key(sf_dir)}_n{nfiles}"), build)

DOCS_STREAM_FILES = 32  # files_per_trigger partner for docs_stream_dir (r16: 8 -> 32; all slices still land in ONE microbatch, the map-side banding just gets the full core count instead of 8-way parallelism)


def docs_seq_dir(sf_dir: str, *, nfiles: int = 32) -> str:
    """The documents table as ``nfiles`` SequenceFiles (key = doc_id
    LongWritable, value = text Text) — the r17 parallel-scan canary
    fixture (VERDICT r16 #7).  A BATCH parquet scan of the 32-file
    docs_stream_dir copy packs the tiny files into ~2 splits
    (openCostInBytes charging), so it cannot exercise scan
    parallelism; the hadoop_seq datasource plans one input partition
    per file/byte-range, so this layout scans 32-way.  Like
    docs_stream_dir the cache key carries the slice count, and the
    fixture is a row-sliced COPY of the testdata (data, never derived
    results)."""

    def build(tmp):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hadoop_formats_spark.seqfile import core

        t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        os.makedirs(tmp)
        for i in range(nfiles):
            # round-robin row slicing, not contiguous ranges: document
            # lengths cluster, and a contiguous slice hands one task all
            # the long documents (measured: the canary's 8→32-core ratio
            # collapsed to ~1.5 from straggler tasks)
            sl = t.take(list(range(i, t.num_rows, nfiles)))
            if sl.num_rows == 0:
                break
            core.write_table(
                os.path.join(tmp, f"part-{i:05d}.seq"),
                pa.table(
                    {
                        "key": sl.column("doc_id").cast(pa.int64()),
                        "value": sl.column("text").cast(pa.string()),
                    }
                ),
            )

    return materialize(("docs_seqdir", f"{sf_key(sf_dir)}_n{nfiles}"), build)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return spark.read.parquet(events_path(sf_dir))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.builder for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}
