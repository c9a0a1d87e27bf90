"""Regenerate tests/data/jvm/*.seq with Hadoop's own SequenceFile.Writer
(the same oracle strategy as the reference's tests/MakeSequenceFiles.java:
Hadoop itself writes the fixtures, our reader must decode them).

Layout fixtures: 2000 records of Text -> IntWritable, keys ``k%05d``,
values ``i * 7``, one file per layout/codec in ``FIXTURES``.

Reference fixtures (the recipe of MakeSequenceFiles.java:16-29), both
100 000 records, BLOCK + SnappyCodec at Hadoop's default
``io.seqfile.compress.blocksize``, values from ``random.Random(SEED)``:

* ``text-int.seq``: Text ``"F%07d"`` -> IntWritable ``round(random() * 100)``;
* ``long-double.seq``: LongWritable ``i`` -> DoubleWritable ``random()``.

Usage: python tools/make_jvm_fixtures.py
"""

from __future__ import annotations

import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SNAPPY = "org.apache.hadoop.io.compress.SnappyCodec"
FIXTURES = [
    ("rec_default.seq", "RECORD", "org.apache.hadoop.io.compress.DefaultCodec"),
    ("rec_snappy.seq", "RECORD", SNAPPY),
    ("rec_bzip2.seq", "RECORD", "org.apache.hadoop.io.compress.BZip2Codec"),
    ("blk_gzip.seq", "BLOCK", "org.apache.hadoop.io.compress.GzipCodec"),
    ("none_writer.seq", "NONE", "org.apache.hadoop.io.compress.DefaultCodec"),
]

N_RECORDS = 2000
N_REFERENCE = 100_000
SEED = 20261018


def main() -> None:
    from hadoop_formats_spark import REFERENCE_FIXTURES
    from hadoop_formats_spark.session import get_spark

    spark = get_spark("make-fixtures", cores=2)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = sc._jvm
    gw = sc._gateway
    conf = sc._jsc.hadoopConfiguration()
    SF = jvm.org.apache.hadoop.io.SequenceFile
    Path = jvm.org.apache.hadoop.fs.Path
    RU = jvm.org.apache.hadoop.util.ReflectionUtils
    io = jvm.org.apache.hadoop.io

    def cls(name: str):
        return jvm.java.lang.Class.forName(name)

    def write(path, key_class, value_class, ctype, codec_name, records):
        opts = gw.new_array(SF.Writer.Option, 4)
        opts[0] = SF.Writer.file(Path(path))
        opts[1] = SF.Writer.keyClass(cls("org.apache.hadoop.io." + key_class))
        opts[2] = SF.Writer.valueClass(cls("org.apache.hadoop.io." + value_class))
        codec = RU.newInstance(cls(codec_name), conf)
        opts[3] = SF.Writer.compression(SF.CompressionType.valueOf(ctype), codec)
        w = SF.createWriter(conf, opts)
        k, v = getattr(io, key_class)(), getattr(io, value_class)()
        for key, value in records:
            k.set(key)
            v.set(value)
            w.append(k, v)
        w.close()
        # Hadoop's local filesystem leaves a checksum sidecar; fixtures ship without it
        os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
        print(os.path.basename(path), os.path.getsize(path))

    out_dir = REFERENCE_FIXTURES
    os.makedirs(out_dir, exist_ok=True)
    for fname, ctype, codec_name in FIXTURES:
        records = ((f"k{i:05d}", i * 7) for i in range(N_RECORDS))
        write(os.path.join(out_dir, fname), "Text", "IntWritable", ctype, codec_name, records)

    rng = random.Random(SEED)
    records = ((f"F{i:07d}", round(rng.random() * 100)) for i in range(N_REFERENCE))
    write(os.path.join(out_dir, "text-int.seq"), "Text", "IntWritable", "BLOCK", SNAPPY, records)
    records = ((i, rng.random()) for i in range(N_REFERENCE))
    write(
        os.path.join(out_dir, "long-double.seq"),
        "LongWritable", "DoubleWritable", "BLOCK", SNAPPY, records,
    )
    spark.stop()


if __name__ == "__main__":
    main()
