#!/usr/bin/env python
"""Measure dedup_kernel_inputs on a duplicated corpus: N_DISTINCT
payloads tiled COPIES times under distinct urls (the shape of a real
crawl, which is commonly 30-60% exact-duplicate pages).  Interleaved
plain/dedup reps, alternating which side runs first; per-run md5 canary
(perfbench's) for tenancy visibility; min and median wall per side.

Usage: python scripts/bench_dedup_kernel.py [n_distinct] [copies] [reps]
"""

import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.harness import canary  # noqa: E402


def main():
    from pyspark.sql import functions as F
    from xrenner_spark.pipeline import generate_pages, run_pipeline
    from xrenner_spark.session import get_spark

    n_distinct = int(sys.argv[1]) if len(sys.argv) > 1 else 125_000
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    spark = get_spark("dedup-kernel-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    pages = generate_pages(spark, n_distinct, partitions=cores)
    tiled = None
    for k in range(copies):
        c = pages.withColumn("url", F.concat(F.lit("c%d-" % k),
                                             F.col("url")))
        tiled = c if tiled is None else tiled.union(c)
    tiled = tiled.persist()
    total = tiled.count()
    print("pages: %d (%d distinct x %d copies)"
          % (total, n_distinct, copies), flush=True)

    walls = {"plain": [], "dedup": []}
    triples = set()
    sides = (("plain", False), ("dedup", True))
    for rep in range(reps):
        for mode, flag in sides[::1 if rep % 2 == 0 else -1]:
            wh = tempfile.mkdtemp(prefix="xdk_%s_" % mode)
            c = canary()
            spark._jvm.System.gc()
            t0 = time.time()
            t = run_pipeline(spark, tiled, wh, partitions=cores,
                             dedup_kernel_inputs=flag)
            n = t.count()
            wall = time.time() - t0
            print("rep%d %s: %.1f s, %d triples, %.0f pages/s "
                  "(canary %.2f s)"
                  % (rep, mode, wall, n, total / wall, c), flush=True)
            walls[mode].append(wall)
            triples.add(n)
            shutil.rmtree(wh, ignore_errors=True)
    assert len(triples) == 1, "triple counts differ!"
    for mode in walls:
        print("%s: min %.1f s, median %.1f s"
              % (mode, min(walls[mode]), statistics.median(walls[mode])))
    print("plain/dedup: min %.2fx, median %.2fx"
          % (min(walls["plain"]) / min(walls["dedup"]),
             statistics.median(walls["plain"])
             / statistics.median(walls["dedup"])))


if __name__ == "__main__":
    main()
