"""The operators layer: one pass over the scale-path operators, each
``fn(spark, sf_dir)`` call (plan) and its noop write (exec) timed apart,
each under a Spark job group of its own so the event log can be read per
operator.  The row count comes from an ``Observation`` on the written
frame, so no second execution is needed.
"""

from __future__ import annotations

import time
from typing import Dict

#: the operators the pass runs, in order (the quadratic small-sf twins
#: are left out)
OPS = ("dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
       "dedup_jaccard_verify", "dedup_cluster_assign", "ann_lsh_bucket",
       "text_lang_id", "text_token_count", "web_url_dedup")
#: operators whose output has one row per document
PER_DOC = ("dedup_simhash", "dedup_cluster_assign", "text_lang_id", "text_token_count")


def queries() -> Dict[str, tuple]:
    """name -> (fn, DuckDB twin SQL) from the operator modules."""
    from xrenner_spark.operators import dedup, similarity, textstats, web
    out: Dict[str, tuple] = {}
    for mod in (dedup, similarity, textstats, web):
        out.update(mod.QUERIES)
    return {name: out[name] for name in OPS}


def run_pass(spark, sf_dir: str) -> Dict[str, Dict[str, float]]:
    """name -> {plan_s, exec_s, rows} for one pass over ``OPS``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    sc = spark.sparkContext
    out = {}
    for name, (fn, _sql) in queries().items():
        spark.catalog.clearCache()  # operator-internal caches must not leak
        sc.setJobGroup("op.%s#0" % name, name)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            obs = Observation("rows_" + name)
            df.observe(obs, F.count(F.lit(1)).alias("rows")) \
                .write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        out[name] = {"plan_s": t1 - t0, "exec_s": t2 - t1,
                     "rows": float(obs.get["rows"])}
    return out


def expected_rows(shape: Dict) -> Dict[str, int]:
    """Row counts that follow from the generated tables alone."""
    exp = {name: shape["docs"] for name in PER_DOC}
    exp["dedup_exact"] = shape["distinct_texts"]
    return exp
