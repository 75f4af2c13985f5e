#!/usr/bin/env python
"""1M-document kg_pipeline point (VERDICT r3 task 8): does the docs/s
curve keep growing past 500k as fixed costs amortize, and which cost
dominates — kernel compute or checkpoint write + triples SQL?

Per-stage split: the kernel stage is timed through its checkpoint write
(parquet), then the triples SQL is timed over the checkpoint read —
the same two-phase shape bench.py's kg_pipeline times as one wall.

Runs perfbench's md5-burn canary before each rep (treat any slow number
as suspect until the canary confirms the box is quiet) and reports the
best and the median rep.

Usage: python scripts/bench_1m.py [n_docs] [reps]
"""

import json
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
    from xrenner_spark.lex import load_lex
    from xrenner_spark.pipeline import (fused_extract_kernel_stage,
                                        generate_pages, salt_by_url,
                                        triples_stage)
    from xrenner_spark.session import get_spark

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    spark = get_spark("bench-1m")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    partitions = max(cores, 8) * 4  # ~8k docs/task at 1M on 32 cores

    reps = []
    for rep in range(n_reps):
        c = round(canary(), 2)
        wh = tempfile.mkdtemp(prefix="xkg_1m_")
        t0 = time.perf_counter()
        pages = generate_pages(spark, n_docs, partitions=partitions)
        bcast = spark.sparkContext.broadcast(load_lex())
        fused_extract_kernel_stage(
            salt_by_url(pages, partitions), bcast
        ).write.parquet(wh + "/stage_kernel")
        t_kernel = round(time.perf_counter() - t0, 3)
        kernel_out = spark.read.parquet(wh + "/stage_kernel")
        t1 = time.perf_counter()
        n_triples = triples_stage(kernel_out).count()
        t_triples = round(time.perf_counter() - t1, 3)
        wall = round(time.perf_counter() - t0, 3)
        from pyspark.sql import functions as F
        errs = (kernel_out.filter((F.col("row_type") == "d")
                                  & (F.col("error") != ""))
                .select("error").limit(3).collect())
        n_err = kernel_out.filter((F.col("row_type") == "d")
                                  & (F.col("error") != "")).count()
        reps.append({"canary_s": c, "kernel_write_s": t_kernel,
                     "triples_sql_s": t_triples, "wall_s": wall,
                     "docs_per_sec": round(n_docs / wall, 1),
                     "triples_per_sec": round(n_triples / wall, 1),
                     "n_triples": n_triples, "n_doc_errors": n_err,
                     "err_sample": [r["error"][:200] for r in errs]})
        shutil.rmtree(wh, ignore_errors=True)
        spark._jvm.System.gc()
        print(json.dumps(reps[-1]))
        if n_triples == 0:  # one 1M rep once produced 0 triples with no
            # errors recorded (unreproduced); a silent-empty rep must
            # never enter the record
            raise SystemExit("rep produced 0 triples — run is invalid")
    best = min(reps, key=lambda r: r["wall_s"])
    median_wall = statistics.median(r["wall_s"] for r in reps)
    print(json.dumps({"n_docs": n_docs, "cores": cores,
                      "partitions": partitions, "best": best,
                      "median_wall_s": median_wall,
                      "median_docs_per_sec": round(n_docs / median_wall, 1),
                      "reps": reps}))


if __name__ == "__main__":
    main()
