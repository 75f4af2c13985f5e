#!/usr/bin/env python
"""Measure the documented ANN recall lever (N_TABLES) actually working
at 1M vectors: re-run the planted-near-dup partner-recall probe from
ann_recall_scale.py with the OR-table count patched (hyperplane bank
regenerated through the same seeded _rademacher), reporting recall and
wall per table count.  Nothing here touches the shipped operator or its
oracle — it quantifies the knob BENCH/BASELINE.md names.

Usage: python scripts/ann_recall_tables.py [n_vecs] [tables ...]
"""

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    from pyspark.sql import functions as F
    from xrenner_spark.operators import similarity
    from xrenner_spark.session import get_spark
    from scripts.ann_recall_scale import synth_embeddings

    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    table_counts = [int(a) for a in sys.argv[2:]] or [12, 24]

    spark = get_spark("ann-tables")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix="xann_tables_")
    synth_embeddings(spark, out_dir, n_vecs, planted=True)
    half = n_vecs // 2

    results = {}
    for t_count in table_counts:
        similarity.N_TABLES = t_count
        similarity.HYPERPLANES = [
            [similarity._rademacher(t, b)
             for b in range(similarity.MAX_BITS)]
            for t in range(t_count)]
        t0 = time.perf_counter()
        lsh = similarity.ann_lsh_bucket(spark, out_dir)
        found = (lsh.filter((F.col("query_id") < half)
                            & (F.col("neighbor_id")
                               == F.col("query_id") + half)).count())
        results[t_count] = {
            "wall_s": round(time.perf_counter() - t0, 2),
            "partner_recall": round(found / half, 4)}
        print(json.dumps({t_count: results[t_count]}))
    print(json.dumps({"n_vecs": n_vecs, "by_tables": results}))
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
