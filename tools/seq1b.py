"""Format layer at the THIRD decade: a 1-billion-record SequenceFile set.

Round-14 proved 100 M records (SCALE.md "format layer at a SECOND
decade"); VERDICT r15 #6 asks for one more decade to prove (a) no
per-record cost creep and (b) correct >2 GiB section/offset arithmetic
— int32-overflow territory a 100 TB reader must survive.  This tool
builds 4 shards x 250 M Text->Int records (each shard ~3.5 GB, i.e.
every interior split offset of every shard is beyond 2^31) and measures
the same three paths as the 100 M row:

  * datasource ``count()``           — block-count fast path (R15)
  * datasource ``select("value")``   — real decode, key section pruned
  * JVM ``sc.sequenceFile`` count    — Hadoop's own reader as oracle

Record shape mirrors the reference fixture (MakeSequenceFiles.java:
15-27): key = "F%08X" (8 hex digits — 1e9 > 16^7), value = int32(i).
Key construction is fully vectorized (per-nibble lookup into an ASCII
hex table + pa.StringArray.from_buffers) — the r14 generator's Python
f-string loop was its 342 k recs/s bottleneck.

Usage:
  python tools/seq1b.py gen              # build shards (parallel, ~14 GB)
  python tools/seq1b.py gen --shard K    # one shard (internal)
  python tools/seq1b.py measure          # timed paths, prints JSON
  python tools/seq1b.py verify           # exact count + value checksum
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT_DIR = os.path.join(REPO, ".scale", "seq1b")
N_TOTAL = 1_000_000_000
N_SHARDS = 4
PER_SHARD = N_TOTAL // N_SHARDS
CHUNK = 4_000_000


def _hex_keys(lo: int, hi: int):
    """pyarrow StringArray of b"F%08X" for [lo, hi), no Python loop."""
    import numpy as np
    import pyarrow as pa

    ints = np.arange(lo, hi, dtype=np.uint64)
    n = len(ints)
    out = np.empty((n, 9), dtype=np.uint8)
    out[:, 0] = ord("F")
    hex_tab = np.frombuffer(b"0123456789ABCDEF", dtype=np.uint8)
    for k in range(8):
        out[:, 1 + k] = hex_tab[(ints >> (4 * (7 - k))) & 0xF]
    offsets = np.arange(0, (n + 1) * 9, 9, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(out.tobytes())
    )


def gen_shard(k: int) -> None:
    import numpy as np
    import pyarrow as pa

    from hadoop_formats_spark.seqfile import core

    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"shard-{k:02d}.seq")
    if os.path.isfile(path):
        return
    lo0, hi0 = k * PER_SHARD, (k + 1) * PER_SHARD
    t0 = time.time()
    tmp = path + ".build"
    with core.SeqFileWriter(
        tmp,
        "org.apache.hadoop.io.Text",
        "org.apache.hadoop.io.IntWritable",
    ) as w:
        for lo in range(lo0, hi0, CHUNK):
            hi = min(lo + CHUNK, hi0)
            vals = np.arange(lo, hi, dtype=np.int64)
            # int32 value wraps nothing: 1e9 < 2^31
            w.write_batch(_hex_keys(lo, hi), pa.array(
                vals.astype(np.int32), pa.int32()))
    os.replace(tmp, path)
    dt = time.time() - t0
    print(
        f"shard {k}: {PER_SHARD} recs, "
        f"{os.path.getsize(path) / 2**30:.2f} GiB, {dt:.0f}s "
        f"({PER_SHARD / dt / 1e6:.2f} M recs/s)",
        flush=True,
    )


def gen_all() -> None:
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "gen",
             "--shard", str(k)]
        )
        for k in range(N_SHARDS)
    ]
    rc = [p.wait() for p in procs]
    if any(rc):
        raise SystemExit(f"shard failures: {rc}")
    sizes = [
        os.path.getsize(os.path.join(OUT_DIR, f"shard-{k:02d}.seq"))
        for k in range(N_SHARDS)
    ]
    print(f"total {sum(sizes) / 2**30:.2f} GiB; "
          f"min shard {min(sizes) / 2**30:.2f} GiB "
          f"(>2 GiB => interior offsets exceed int32)")


def _spark():
    from hadoop_formats_spark.session import get_spark

    return get_spark()


def _timed(fn, n=2):
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        out = fn()
        best = min(best, time.time() - t0)
    return best, out


def measure() -> None:
    spark = _spark()
    res: dict = {"records": N_TOTAL}
    # warm page cache once with the fast path (cold pass == disk fill)
    cold0 = time.time()
    n = (
        spark.read.format("hadoop_seq")
        .option("block_counts", "true")
        .load(OUT_DIR)
        .groupBy()
        .sum("block_records")
        .collect()[0][0]
    )
    res["cold_fastpath_s"] = round(time.time() - cold0, 2)
    assert n == N_TOTAL, n

    s, _ = _timed(
        lambda: spark.read.format("hadoop_seq")
        .option("block_counts", "true")
        .load(OUT_DIR)
        .groupBy()
        .sum("block_records")
        .collect()
    )
    res["count_fastpath"] = {
        "sec": round(s, 2), "recs_per_sec": int(N_TOTAL / s)}

    s, _ = _timed(
        lambda: spark.read.format("hadoop_seq")
        .load(OUT_DIR)
        .select("value")
        .count(),
        n=2,
    )
    res["value_decode_count"] = {
        "sec": round(s, 2), "recs_per_sec": int(N_TOTAL / s)}

    s, cnt = _timed(
        lambda: spark.sparkContext.sequenceFile(OUT_DIR).count(), n=2
    )
    assert cnt == N_TOTAL, cnt
    res["jvm_sequencefile_count"] = {
        "sec": round(s, 2), "recs_per_sec": int(N_TOTAL / s)}
    print(json.dumps(res))
    spark.stop()


def verify() -> None:
    """Exact record count AND value checksum via real decode — proves
    >2 GiB offsets decode the right bytes, not just plan correctly."""
    import pyspark.sql.functions as F

    spark = _spark()
    row = (
        spark.read.format("hadoop_seq")
        .load(OUT_DIR)
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("long")).alias("s"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()[0]
    )
    want_sum = N_TOTAL * (N_TOTAL - 1) // 2
    ok = (
        row["n"] == N_TOTAL
        and row["s"] == want_sum
        and row["lo"] == 0
        and row["hi"] == N_TOTAL - 1
    )
    print(json.dumps({
        "n": row["n"], "sum": row["s"], "want_sum": want_sum,
        "min": row["lo"], "max": row["hi"], "ok": ok}))
    spark.stop()
    if not ok:
        raise SystemExit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["gen", "measure", "verify"])
    ap.add_argument("--shard", type=int, default=None)
    args = ap.parse_args()
    if args.cmd == "gen":
        if args.shard is not None:
            gen_shard(args.shard)
        else:
            gen_all()
    elif args.cmd == "measure":
        measure()
    else:
        verify()


if __name__ == "__main__":
    main()
