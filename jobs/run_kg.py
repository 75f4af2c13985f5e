#!/usr/bin/env python
"""Cluster entry point for the KG-construction pipeline.

Ship with:

    zip -r xkg.zip xrenner_spark
    spark-submit \
        --deploy-mode cluster \
        --py-files xkg.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        --conf spark.sql.adaptive.coalescePartitions.initialPartitionNum=<8x total cores> \
        jobs/run_kg.py \
        --input <pages table/path> --warehouse <output path> [--synthesize N]

The model directory travels inside the zip (xrenner_spark/models/web) and
is loaded once per executor via broadcast.  Re-running with the same
--warehouse resumes from completed stage checkpoints (per-partition
lineage recorded beside each stage).
"""

import argparse

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table name or parquet path "
                                    "(url, warc_ts, html, text, lang)")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N synthetic pages instead of reading --input")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--model", default=None, help="override model directory")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--rule-based", action="store_true",
                    help="force the heuristic coref path (reference -r)")
    ap.add_argument("--noseq", action="store_true",
                    help="disable any configured sequence tagger")
    ap.add_argument("--override", default=None,
                    help="override.ini section (reference -x)")
    ap.add_argument("--dedup-kernel-inputs", action="store_true",
                    help="run the kernel once per distinct page payload "
                         "and join results back to every copy")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("xrenner-spark-kg").getOrCreate()

    from xrenner_spark.pipeline import generate_pages, run_pipeline

    if args.synthesize:
        pages = generate_pages(spark, args.synthesize, partitions=args.partitions)
    elif args.input and "/" in args.input:
        pages = spark.read.parquet(args.input)
    elif args.input:
        pages = spark.read.table(args.input)
    else:
        raise SystemExit("need --input or --synthesize")

    triples = run_pipeline(spark, pages, args.warehouse,
                           partitions=args.partitions, lex_dir=args.model,
                           resume=not args.no_resume,
                           rule_based=args.rule_based, no_seq=args.noseq,
                           override=args.override,
                           dedup_kernel_inputs=args.dedup_kernel_inputs)
    print("triples:", triples.count())


if __name__ == "__main__":
    main()
