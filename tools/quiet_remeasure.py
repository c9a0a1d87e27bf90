"""Quiet-box re-measure for driver-bench drift adjudication (the
r10/r11/r12 protocol, now a tool instead of an ad-hoc snippet): for
each named headline query, N samples at the given sf dir — fresh plan
+ count() per sample, bench-identical warm worker pool first — then
best / median, printed as a markdown table row ready for SCALE.md.

Run with NOTHING else on the box (that is the point).

Usage: python tools/quiet_remeasure.py [sf_dir] [n_samples] query ...
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    n = int(argv[1]) if len(argv) > 1 else 8
    names = argv[2:]
    if not names:
        print("usage: quiet_remeasure.py sf_dir n query ...", file=sys.stderr)
        return 2

    from hadoop_formats_spark import REFERENCE_FIXTURES
    from hadoop_formats_spark.queries import QUERIES
    from hadoop_formats_spark.session import get_spark

    spark = get_spark("quiet-remeasure")
    spark.sparkContext.setLogLevel("ERROR")
    # bench-identical warm-up: parquet + seqfile readers, full Arrow
    # python-worker pool (bench.py's import-storm note)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.read.format("hadoop_seq").load(
        os.path.join(REFERENCE_FIXTURES, "text-int.seq")
    ).count()

    def _noop(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    spark.range(0, 3200, 1, 32).mapInPandas(_noop, "id long").count()

    print("| query | best | median | samples |")
    print("|---|---|---|---|")
    for name in names:
        spec = QUERIES[name]
        samples = []
        for _ in range(n):
            t0 = time.perf_counter()
            spec.builder(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        best = min(samples)
        med = statistics.median(samples)
        shown = ", ".join(f"{s:.2f}" for s in samples)
        print(f"| {name} | **{best:.3f} s** | {med:.3f} s | {shown} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
