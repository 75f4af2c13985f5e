#!/usr/bin/env python
"""Scale point for web_url_dedup: the canonical-URL + latest-capture
dedup over a synthesized crawl far beyond the sf tables.

Synthesizes N doc_ids JVM-side (spark.range — no parquet, no Python)
and runs the operator's own projection + canonicalization + dedup by
pointing url_dedup's internals at the range frame.  N doc_ids = N/4
canonical pages x 4 raw spellings, the operator's documented group
shape.  Also reports a skew variant: one viral page carrying `hot_mult`
extra captures, to show the partial-agg bound (the exchange sees at
most one row per canonical key per input partition regardless of the
key's capture count).

Usage: python scripts/bench_web_scale.py [n_captures] [hot_mult] [reps]
"""

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.harness import canary  # noqa: E402


def pages_from_range(spark, n, partitions):
    from pyspark.sql import functions as F
    from xrenner_spark.operators.web import _CASE_URL, CAPTURES_PER_PAGE
    return (spark.range(0, n, 1, partitions)
            .withColumnRenamed("id", "doc_id")
            .withColumn("base", F.expr("CAST(doc_id DIV %d AS STRING)"
                                       % CAPTURES_PER_PAGE))
            .select("doc_id",
                    F.expr(_CASE_URL).alias("url"),
                    F.expr("timestamp'2024-01-01 00:00:00' + make_interval"
                           "(0, 0, 0, 0, 0, 0, doc_id)").alias("warc_ts")))


def dedup(pages):
    from pyspark.sql import functions as F
    from xrenner_spark.operators.web import _canon_sql
    pages = pages.withColumn("canonical_url", F.expr(_canon_sql("spark")))
    return (pages.groupBy("canonical_url")
            .agg(F.count("*").cast("long").alias("n_captures"),
                 F.min("url").alias("first_raw_url"),
                 F.expr("max_by(doc_id, warc_ts)").cast("long")
                  .alias("latest_doc_id")))


def main():
    from pyspark.sql import functions as F
    from xrenner_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    hot_mult = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    spark = get_spark("web-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    for rep in range(reps):
        c = canary()
        spark._jvm.System.gc()
        t0 = time.time()
        out = dedup(pages_from_range(spark, n, cores))
        rows = out.count()
        wall = time.time() - t0
        print("rep%d uniform: %d captures -> %d canonical pages in %.1f s"
              " (%.0f captures/s, canary %.2f s)"
              % (rep, n, rows, wall, n / wall, c), flush=True)
        assert rows == n // 4

        # skew variant: append hot_mult extra captures of page 0 (same
        # canonical url, distinct doc_ids past n so warc_ts stays unique)
        c = canary()
        spark._jvm.System.gc()
        t0 = time.time()
        hot = (pages_from_range(spark, hot_mult, cores)
               .withColumn("doc_id", F.col("doc_id") * 4 + n)
               # recompute warc_ts from the REWRITTEN doc_id so hot
               # captures carry unique timestamps (the projection built
               # them from the pre-rewrite range id)
               .withColumn("warc_ts",
                           F.expr("timestamp'2024-01-01 00:00:00' + "
                                  "make_interval(0, 0, 0, 0, 0, 0, doc_id)"))
               .withColumn("url", F.expr(
                   "'https://WWW.Example.com:443/site/0/"
                   "?b=2&a=1&utm_source=feed#frag'")))
        out = dedup(pages_from_range(spark, n, cores).unionByName(hot))
        rows = out.count()
        wall = time.time() - t0
        # verification collect OUTSIDE the timed window (the earlier
        # form re-executed the whole aggregation inside it)
        row0 = (out.filter(F.col("canonical_url")
                           == "https://example.com/site/0?a=1&b=2")
                .collect())
        print("rep%d skewed: +%d captures on one page -> %d pages, hot key"
              " n_captures=%d, in %.1f s (canary %.2f s)"
              % (rep, hot_mult, rows, row0[0].n_captures, wall, c),
              flush=True)
        assert rows == n // 4
        assert row0[0].n_captures == 4 + hot_mult


if __name__ == "__main__":
    main()
