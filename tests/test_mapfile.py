"""MapFile tests: core write/read/get with index-driven range pruning,
both JVM interop directions (our files ← MapFile.Reader, Hadoop-written
files → our reader), and the ``hadoop_map`` Spark DataSource.

The reference stops at single SequenceFiles (SequenceFile.hs:45-50);
MapFile is the companion format built from the same bytes, so its
members double as extra reference-free interop coverage for the
seqfile core."""

import hashlib
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from hadoop_formats_spark.seqfile import core, mapfile as M


def _mk_table(n=5000, prefix="k"):
    return pa.table(
        {
            "key": [f"{prefix}{i:05d}" for i in range(n)],
            "value": [i * 3 for i in range(n)],
        }
    )


def _shuffled(t):
    # deterministic permutation; proves the writer sorts
    idx = sorted(range(t.num_rows), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    return t.take(idx)


@pytest.fixture(scope="module", params=["block", "record", "none"])
def map_dir(request, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mf") / request.param)
    M.write_map_dir(
        d, _shuffled(_mk_table()), block_records=512,
        compression_type=request.param,
    )
    return d


def test_full_read_sorted(map_dir):
    t = M.read_map_dir(map_dir)
    keys = t.column("key").to_pylist()
    assert t.num_rows == 5000
    assert keys == sorted(keys)
    assert t.column("value")[0].as_py() == 0


def test_range_read_exact_bounds(map_dir):
    t = M.read_map_dir(map_dir, key_lower="k01000", key_upper="k01099")
    keys = t.column("key").to_pylist()
    assert keys == [f"k{i:05d}" for i in range(1000, 1100)]
    assert t.column("value").to_pylist() == [i * 3 for i in range(1000, 1100)]


def test_range_prunes_bytes(map_dir):
    idx = M.read_index(map_dir)
    s, e = idx.range_bounds("k01000", "k01099")
    # 100 of 5000 records in blocks of 512 → at most 2 blocks ≈ 2/~10
    # of the file; assert we scan well under half
    assert 0 < e - s < idx.data_size / 2


def test_range_outside_keyspace_empty(map_dir):
    assert M.read_map_dir(map_dir, key_lower="zzz").num_rows == 0
    assert M.read_map_dir(map_dir, key_upper="a").num_rows == 0


def test_point_get(map_dir):
    assert M.map_get(map_dir, "k04321") == 4321 * 3
    assert M.map_get(map_dir, "k00000") == 0
    assert M.map_get(map_dir, "k04999") == 4999 * 3
    assert M.map_get(map_dir, "nope") is None


def test_unsorted_assume_sorted_refused(tmp_path):
    t = pa.table({"key": ["b", "a"], "value": [1, 2]})
    with pytest.raises(core.SeqFileError, match="not ascending"):
        M.write_map_dir(str(tmp_path / "m"), t, assume_sorted=True)


def test_null_keys_refused(tmp_path):
    t = pa.table({"key": ["a", None], "value": [1, 2]})
    with pytest.raises(core.SeqFileError, match="non-null"):
        M.write_map_dir(str(tmp_path / "m"), t)


def test_long_keys_range(tmp_path):
    t = pa.table({"key": list(range(0, 10000, 2)), "value": [float(i) for i in range(5000)]})
    d = str(tmp_path / "longs")
    M.write_map_dir(d, t, block_records=256)
    r = M.read_map_dir(d, key_lower=100, key_upper=200)
    assert r.column("key").to_pylist() == list(range(100, 201, 2))
    assert M.map_get(d, 4000) == 2000.0


def test_jvm_mapfile_reader_reads_ours(spark, map_dir):
    """Hadoop's own MapFile.Reader must binary-search our index and get
    exact values, for every layout we write."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    reader = jvm.org.apache.hadoop.io.MapFile.Reader(fs, map_dir, conf)
    Text = jvm.org.apache.hadoop.io.Text
    LW = jvm.org.apache.hadoop.io.LongWritable
    val = LW()
    assert reader.get(Text("k04321"), val) is not None
    assert val.get() == 4321 * 3
    assert reader.get(Text("missing"), val) is None
    closest = reader.getClosest(Text("k00150x"), val)
    assert str(closest) == "k00151"
    # fresh cursor → full iteration sees every record
    reader.close()
    reader = jvm.org.apache.hadoop.io.MapFile.Reader(fs, map_dir, conf)
    k, n = Text(), 0
    while reader.next(k, val):
        n += 1
    assert n == 5000
    reader.close()


@pytest.fixture(scope="module")
def jvm_map_dir(spark, tmp_path_factory):
    """A MapFile written by Hadoop itself (record-layout data + its
    sparse every-128-records index pointing at RECORD boundaries, not
    syncs — the layout that requires exact_start seeks)."""
    d = str(tmp_path_factory.mktemp("jvmmf") / "m")
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    conf = spark._jsc.hadoopConfiguration()
    MapFile = jvm.org.apache.hadoop.io.MapFile
    SFW = jvm.org.apache.hadoop.io.SequenceFile.Writer
    kcls = jvm.java.lang.Class.forName("org.apache.hadoop.io.Text")
    vcls = jvm.java.lang.Class.forName("org.apache.hadoop.io.LongWritable")
    opts = gw.new_array(jvm.org.apache.hadoop.io.SequenceFile.Writer.Option, 2)
    opts[0] = MapFile.Writer.keyClass(kcls)
    opts[1] = SFW.valueClass(vcls)
    w = MapFile.Writer(conf, jvm.org.apache.hadoop.fs.Path(d), opts)
    Text = jvm.org.apache.hadoop.io.Text
    LW = jvm.org.apache.hadoop.io.LongWritable
    for i in range(3000):
        w.append(Text("j%05d" % i), LW(i * 7))
    w.close()
    return d


def test_read_hadoop_written_mapfile(jvm_map_dir):
    full = M.read_map_dir(jvm_map_dir)
    assert full.num_rows == 3000
    r = M.read_map_dir(jvm_map_dir, key_lower="j01000", key_upper="j01099")
    assert r.column("key").to_pylist() == [f"j{i:05d}" for i in range(1000, 1100)]
    assert r.column("value").to_pylist() == [i * 7 for i in range(1000, 1100)]
    assert M.map_get(jvm_map_dir, "j02999") == 2999 * 7
    # Hadoop indexes record boundaries: pruning must still be real
    idx = M.read_index(jvm_map_dir)
    s, e = idx.range_bounds("j01000", "j01099")
    assert 0 < e - s < idx.data_size / 2


def test_spark_read_hadoop_written_pruned(spark, jvm_map_dir):
    df = spark.read.format("hadoop_map").load(jvm_map_dir)
    assert df.count() == 3000
    flt = df.filter((F.col("key") >= "j01000") & (F.col("key") <= "j01099"))
    assert flt.count() == 100
    assert flt.agg(F.sum("value")).first()[0] == sum(i * 7 for i in range(1000, 1100))


def test_spark_write_read_range_partitioned(spark, tmp_path):
    out = str(tmp_path / "maps")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_orderkey").cast("long").alias("key"),
        F.col("o_totalprice").cast("double").alias("value"),
    )
    o.repartitionByRange(3, "key").write.format("hadoop_map").mode(
        "overwrite"
    ).save(out)
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 3
    df = spark.read.format("hadoop_map").load(out)
    assert df.count() == o.count()
    lo, hi = 500, 1500
    got = (
        df.filter((F.col("key") >= lo) & (F.col("key") <= hi))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .first()
    )
    exp = (
        o.filter((F.col("key") >= lo) & (F.col("key") <= hi))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .first()
    )
    assert (got["n"], got["s"]) == (exp["n"], exp["s"])


def test_reader_plans_pruned_partitions(spark, tmp_path):
    """The pushed key range must shrink the planned byte ranges BEFORE
    execution (the point of the index), not just filter rows after."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
    from hadoop_formats_spark.seqfile.map_datasource import (
        MapFileDataSource,
        MapFileReader,
    )

    d = str(tmp_path / "m")
    M.write_map_dir(d, _mk_table(20000), block_records=512)
    src = MapFileDataSource(options={"path": d})
    schema = src.schema()
    full_reader = MapFileDataSource(options={"path": d}).reader(schema)
    full_bytes = sum(
        e - s for sp in full_reader.partitions() for _, s, e in sp.ranges
    )
    reader = MapFileReader(src, schema)
    leftovers = list(
        reader.pushFilters(
            [
                GreaterThanOrEqual(("key",), "k01000"),
                LessThanOrEqual(("key",), "k01099"),
            ]
        )
    )
    pruned_bytes = sum(
        e - s for sp in reader.partitions() for _, s, e in sp.ranges
    )
    assert pruned_bytes < full_bytes / 10
    # pruning is block-granular, so exact row filtering must still
    # happen: the base reader accepted both bounds into its Arrow
    # filter (no leftovers returned to Spark)
    assert reader._arrow_filter is not None and not leftovers


def test_option_bounds_equal_filter_bounds(spark, tmp_path):
    d = str(tmp_path / "m")
    M.write_map_dir(d, _mk_table(2000), block_records=128)
    via_opt = (
        spark.read.format("hadoop_map")
        .option("key_lower", "k00500")
        .option("key_upper", "k00599")
        .load(d)
    )
    via_filter = (
        spark.read.format("hadoop_map")
        .load(d)
        .filter((F.col("key") >= "k00500") & (F.col("key") <= "k00599"))
    )
    assert via_opt.count() == via_filter.count() == 100
    assert sorted(r["key"] for r in via_opt.collect()) == sorted(
        r["key"] for r in via_filter.collect()
    )


def test_last_key_metadata_full_prune(tmp_path):
    """Files wholly below a range prune to ZERO bytes via the
    last-key header metadata (the sparse index alone can't — it only
    stores block first keys)."""
    d = str(tmp_path / "m")
    M.write_map_dir(d, _mk_table(1000), block_records=128)
    idx = M.read_index(d)
    assert idx.last_key == "k00999"
    assert idx.range_bounds("k01500", "k02000") == (0, 0)  # fully below
    # lookup beyond the keyspace decodes nothing either
    assert M.map_get(d, "k99999") is None
    # in-range behavior unchanged
    s, e = idx.range_bounds("k00990", None)
    assert 0 < e - s < idx.data_size / 2


def test_hadoop_written_files_have_no_last_key(jvm_map_dir):
    idx = M.read_index(jvm_map_dir)
    assert idx.last_key is None  # graceful: falls back to final-block scan


def test_get_closest_python_semantics(map_dir):
    # exact hit returns itself in both directions
    assert M.map_get_closest(map_dir, "k00150") == ("k00150", 450)
    assert M.map_get_closest(map_dir, "k00150", before=True) == ("k00150", 450)
    # between keys: ceiling vs floor
    assert M.map_get_closest(map_dir, "k00150x") == ("k00151", 453)
    assert M.map_get_closest(map_dir, "k00150x", before=True) == ("k00150", 450)
    # before the first key: no floor, ceiling = first
    assert M.map_get_closest(map_dir, "a", before=True) is None
    assert M.map_get_closest(map_dir, "a") == ("k00000", 0)
    # after the last key: no ceiling (no block decode), floor = last
    assert M.map_get_closest(map_dir, "z") is None
    assert M.map_get_closest(map_dir, "z", before=True) == ("k04999", 14997)


def test_get_closest_matches_jvm(spark, map_dir):
    """Same answers as Hadoop's own MapFile.Reader.getClosest on the
    same file, for probes straddling index boundaries.

    Caveat discovered while pinning this: upstream Hadoop's
    getClosest(key, val, before=true) throws "File is corrupt!" for a
    BETWEEN-KEYS probe on any BLOCK-compressed MapFile — including
    files Hadoop itself wrote (verified directly; seekInternal's
    backward tracking does not handle block boundaries).  Our reader
    answers those probes correctly on every layout
    (test_get_closest_python_semantics), so the JVM cross-check skips
    exactly the (block, before, between-keys) combinations upstream
    cannot answer — beyond-parity, not a gap."""
    import os

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    reader = jvm.org.apache.hadoop.io.MapFile.Reader(fs, map_dir, conf)
    Text = jvm.org.apache.hadoop.io.Text
    LW = jvm.org.apache.hadoop.io.LongWritable
    val = LW()
    is_block = os.path.basename(map_dir) == "block"
    exact = {"k00000", "k00512", "k04999"}
    probes = ["k00000", "k00511x", "k00512", "k02047z", "k04999", "k0245"]
    for p in probes:
        for before in (False, True):
            if before and is_block and p not in exact:
                continue  # upstream JVM bug (see docstring)
            jk = reader.getClosest(Text(p), val, before)
            ours = M.map_get_closest(map_dir, p, before=before)
            if jk is None:
                assert ours is None, (p, before, ours)
            else:
                assert ours == (str(jk), val.get()), (p, before, ours)
    reader.close()


def test_jvm_get_closest_before_block_is_broken_upstream(spark, map_dir):
    """Pin the upstream asymmetry: on BLOCK-compressed MapFiles the
    JVM's own getClosest(before=true) raises for between-keys probes
    (even on Hadoop-written files), while our reader answers them.
    If a Hadoop upgrade ever fixes this, this test fails and the skip
    in test_get_closest_matches_jvm should be removed."""
    import os

    import py4j.protocol
    import pytest as _pytest

    if os.path.basename(map_dir) != "block":
        _pytest.skip("upstream failure is specific to BLOCK compression")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    reader = jvm.org.apache.hadoop.io.MapFile.Reader(fs, map_dir, conf)
    Text = jvm.org.apache.hadoop.io.Text
    LW = jvm.org.apache.hadoop.io.LongWritable
    with _pytest.raises(py4j.protocol.Py4JJavaError, match="File is corrupt"):
        reader.getClosest(Text("k00511x"), LW(), True)
    reader.close()
    # ours answers the same probe, on the same file
    assert M.map_get_closest(map_dir, "k00511x", before=True) == (
        "k00511",
        511 * 3,
    )


# ---------------------------------------------------------------------------
# SequenceFile.Sorter parity (seqfile_sorter_merge_runs)
# ---------------------------------------------------------------------------


def test_assume_sorted_write_rejects_unsorted(tmp_path):
    """assume_sorted=True must REFUSE disorder — the successful write in
    _sorter_merged_dir is only an order certificate because of this."""
    t = pa.table({"key": [3, 1, 2], "value": [30, 10, 20]})
    with pytest.raises(core.SeqFileError, match="not ascending"):
        M.write_map_dir(str(tmp_path / "bad"), t, assume_sorted=True)


def test_assume_sorted_datasource_write_fails_on_unsorted(spark, tmp_path):
    """Same negative through the DataSource: a hash-partitioned (hence
    unsorted-within-task) frame under assume_sorted=true fails the
    Spark write instead of silently corrupting binary search."""
    df = spark.range(0, 2000).select(
        (F.col("id") * 2654435761 % 1000003).alias("key"),
        F.col("id").alias("value"),
    )
    with pytest.raises(Exception, match="not ascending"):
        (
            df.repartition(2)
            .write.format("hadoop_map")
            .option("assume_sorted", "true")
            .mode("append")
            .save(str(tmp_path / "unsorted_ds"))
        )


def test_sorter_merge_runs_are_sorted_and_disjoint(spark, sf_dir):
    """The merged output of the Sorter-parity row: every part is an
    ascending run (library-level sequential read, order preserved by
    construction) and part key ranges are pairwise disjoint — together
    with the graded content reconciliation this is exactly what
    Hadoop's Sorter.merge + MapFileOutputFormat guarantee."""
    from hadoop_formats_spark.queries.seqfile_q import _sorter_merged_dir

    root = _sorter_merged_dir(spark, sf_dir)
    ranges = []
    total = 0
    for part in sorted(os.listdir(root)):
        d = os.path.join(root, part)
        if not part.startswith("part-") or not M._is_map_dir(d):
            continue
        t = M.read_map_dir(d)
        keys = t.column("key").to_pylist()
        assert keys == sorted(keys), f"{part} is not an ascending run"
        ranges.append((keys[0], keys[-1]))
        total += t.num_rows
    assert len(ranges) >= 2, "expected multiple merged runs"
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"runs overlap: ({lo1},{hi1}) vs ({lo2},..)"
    import pyarrow.parquet as pq

    assert total == pq.read_metadata(f"{sf_dir}/orders.parquet").num_rows


def test_last_key_over_4k_reads_back(tmp_path):
    """The last key is stored in the data header's metadata, so a long
    last Text key makes the header longer than 4 KiB."""
    d = str(tmp_path / "m")
    last = "z" * 5000
    t = pa.table({"key": ["a", "b", last], "value": [1, 2, 3]})
    M.write_map_dir(d, t, block_records=2)
    assert M.read_index(d).last_key == last
    assert M.read_map_dir(d).to_pydict() == t.to_pydict()
    assert M.map_get(d, last) == 3
    assert M.read_map_dir(d, key_lower=last).column("value").to_pylist() == [3]
