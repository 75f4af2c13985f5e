"""kg_batch: the shipped job, ``pipeline.run_pipeline`` (extract ->
checkpoint -> kernel -> triples + chains), into a fresh warehouse per rep.

Sizing: the kernel costs ~1.2 ms per native page single-threaded, ~8k
pages went through kernel+write in 4.45 s at local[4], and one
run_pipeline call carries ~4-5 s of fixed cost here (six writes, their
jobs and Python worker start-up), so ~930 pages (640 native plus long,
duplicate and malformed pages) put about a fifth of a ~7-10 s rep in
per-page work.  An untraced run repeats the rep until the run length has
passed, and at least ``MIN_REPS`` times, and reports the median.  Three
reps would make the median a warm rep (the first after the warm-up runs
~15% slower), but at ~60 s a run the benchmark's 48 runs would not fit
its time budget on a slow host window.

The traced run also times the operators layer (``ops``): one pass over the
scale-path operators on a ``documents`` table made of the same seeded
pages' text and a seeded ``embeddings`` table.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import time
from typing import Dict

from . import gen, kgcheck, ops
from .harness import RssSampler, fresh_dir
from .trace import CallTimer, StageGroups, Tracer, patched, read_event_log

N_NATIVE = 640
N_NATIVE_SMALL = 48
N_WARM = 8
MIN_REPS = 2
SAMPLE = 160          # pages recomputed in-process for the triple check
OPS_DOCS = 500        # pages whose text makes the operators' documents table
OPS_VECS = 1600
OPS_DOCS_SMALL, OPS_VECS_SMALL = 60, 200

#: Catalog table name -> pipeline layer
TABLE_LAYER = {"stage_extract": "extract_stage", "stage_kernel": "kernel_stage",
               "triples": "triples_stage", "chains": "chains_stage"}
EVENT_GROUPS = ("extract_stage", "kernel_stage", "triples_stage", "chains_stage")
PYTHON_GROUPS = ("extract_stage", "kernel_stage")


def _layer(table: str) -> str:
    return "lineage" if table.startswith("_lineage_") else TABLE_LAYER.get(table, table)


class BatchWorkload:
    def __init__(self, sess, work: str, seed: int, small: bool, with_ops: bool):
        self.sess = sess
        self.work = work
        self.seed = seed
        n = N_NATIVE_SMALL if small else N_NATIVE
        shapes = ((1, (16, 40)),) if small else gen.LONG_SHAPES
        self.pages, self.kinds = gen.batch_pages(seed, n, long_shapes=shapes)
        self.pages_path = os.path.join(work, "pages.parquet")
        gen.write_pages(self.pages, self.pages_path)
        warm, _ = gen.batch_pages(seed + 1_000_003, N_WARM, long_shapes=())
        self.warm_path = os.path.join(work, "warm_pages.parquet")
        gen.write_pages(warm, self.warm_path)
        self.record = gen.kind_shares(self.kinds)
        self.ops_dir = os.path.join(work, "ops_sf")
        if with_ops:
            n_docs, n_vecs = (OPS_DOCS_SMALL, OPS_VECS_SMALL) if small else (OPS_DOCS, OPS_VECS)
            self.ops_shape = gen.ops_tables(seed, self.pages[:n_docs], self.ops_dir, n_vecs)

    # -- set-up --------------------------------------------------------
    def warm_up(self, spark, bcast) -> None:
        """run_pipeline over a few other pages on two partitions: starts the
        Python workers and compiles every plan the timed reps run (a cold
        first rep took about twice as long as the warm ones) at a quarter
        of the per-task Python start-up a default run pays."""
        from xrenner_spark.pipeline import run_pipeline
        wh = fresh_dir(os.path.join(self.work, "warm_wh"))
        run_pipeline(spark, spark.read.parquet(self.warm_path), wh,
                     partitions=2, resume=False)

    # -- timed region --------------------------------------------------
    def _rep(self, wh: str) -> float:
        from xrenner_spark.pipeline import run_pipeline
        spark = self.sess.spark
        t0 = time.perf_counter()
        run_pipeline(spark, spark.read.parquet(self.pages_path), wh, resume=False)
        return time.perf_counter() - t0

    def timed(self, seconds: float):
        """Reps until ``seconds`` have passed and ``MIN_REPS`` ran; returns
        the walls, the peak RSS and each rep's warehouse summary."""
        walls, summaries = [], []
        deadline = time.perf_counter() + seconds
        with RssSampler() as rss:
            while True:
                wh = fresh_dir(os.path.join(self.work, "wh%d" % (len(walls) % 2)))
                walls.append(self._rep(wh))
                summaries.append(self._summarize(wh))
                self.sess.gc()
                if time.perf_counter() >= deadline and len(walls) >= MIN_REPS:
                    break
        return walls, rss.peak_mb, summaries

    def _summarize(self, wh: str) -> Dict:
        from pyspark.sql import functions as F
        spark = self.sess.spark
        kernel = spark.read.parquet(os.path.join(wh, "stage_kernel"))
        docs = kernel.filter(F.col("row_type") == "d")
        row = docs.agg(F.sum("kernel_ms").alias("ms")).first()
        return {
            "wh": wh,
            "triples": spark.read.parquet(os.path.join(wh, "triples")).count(),
            "kernel_ms": float(row["ms"] or 0.0),
        }

    # -- checks ---------------------------------------------------------
    def check(self, wh: str, lex, timer=None):
        """Failure accounting over every page and triple P/R on a seeded
        sample; returns (failed, ok, details, recompute)."""
        from pyspark.sql import functions as F
        spark = self.sess.spark
        ext = spark.read.parquet(os.path.join(wh, "stage_extract"))
        kern = spark.read.parquet(os.path.join(wh, "stage_kernel"))
        flagged = {r["url"] for r in ext.filter(~F.col("byte_identical"))
                   .select("url").collect()}
        errored = {r["url"] for r in kern.filter((F.col("row_type") == "d")
                                                 & (F.col("error") != ""))
                   .select("url").collect()}
        lin_ext = spark.read.parquet(os.path.join(wh, "_lineage_extract")) \
            .agg(F.sum("invariant_violations")).first()[0] or 0
        lin_kern = spark.read.parquet(os.path.join(wh, "_lineage_kernel")) \
            .agg(F.sum("errors")).first()[0] or 0
        # a page counts once whichever stage flags it
        isolated = flagged | errored
        malformed = {u for u, k in self.kinds.items() if k.startswith("malformed")}
        wellformed_flagged = isolated - malformed
        not_isolated = malformed - isolated
        failed = len(wellformed_flagged) + len(not_isolated)

        rng = random.Random("%d|sample" % self.seed)
        by_kind: Dict[str, list] = {}
        for p in self.pages:
            by_kind.setdefault(self.kinds[p["url"]].split(":")[0], []).append(p)
        sample = list(by_kind.get("long", []))
        rest = [p for k, ps in sorted(by_kind.items()) if k != "long" for p in ps]
        sample += rng.sample(rest, min(len(rest), SAMPLE))
        rec = kgcheck.Recompute(lex, timer)
        if timer is not None:
            with timer.installed():
                for p in sample:
                    rec.page(p, self.kinds[p["url"]])
        else:
            for p in sample:
                rec.page(p, self.kinds[p["url"]])
        urls = [p["url"] for p in sample]
        rows = (spark.read.parquet(os.path.join(wh, "triples"))
                .filter(F.col("url").isin(urls))
                .select("url", "subj", "pred", "obj", "sent_num").collect())
        mine = set()
        for keys in kgcheck.spark_keys(rows).values():
            mine |= keys
        p, r = kgcheck.precision_recall(mine, rec.all_keys())
        details = {
            "extract_flagged": len(flagged), "kernel_errors": len(errored),
            "lineage_invariant_violations": int(lin_ext),
            "lineage_kernel_errors": int(lin_kern),
            "malformed": len(malformed), "wellformed_flagged": len(wellformed_flagged),
            "malformed_not_isolated": len(not_isolated),
            "sample": len(sample), "sample_triples": len(rec.all_keys()),
            "precision": p, "recall": r,
        }
        ok = (p == 1.0 and r == 1.0 and lin_ext == len(flagged)
              and lin_kern == len(errored))
        return failed, ok, details, rec

    # -- traced pass ------------------------------------------------------
    @contextlib.contextmanager
    def instrumented(self, tracer: Tracer):
        """Driver spans around the pipeline's public calls, each
        Catalog.write under the job group of its layer."""
        from pyspark import SparkContext
        from xrenner_spark import catalog, pipeline
        sc = self.sess.spark.sparkContext

        def wrap_write(write):
            def traced_write(cat, df, name, *a, **kw):
                layer = _layer(name)
                sc.setJobGroup("%s#0" % layer, layer)
                try:
                    with tracer.span("pipeline.%s.write" % layer):
                        return write(cat, df, name, *a, **kw)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            return traced_write

        def wrap_span(name):
            def factory(fn):
                def wrapper(*a, **kw):
                    with tracer.span(name):
                        return fn(*a, **kw)
                return wrapper
            return factory

        with patched(catalog.Catalog, "write", wrap_write), \
                patched(catalog.Catalog, "read", wrap_span("catalog.read")), \
                patched(catalog.Catalog, "exists", wrap_span("catalog.exists")), \
                patched(pipeline, "load_lex", wrap_span("lex.load_lex")), \
                patched(SparkContext, "broadcast", wrap_span("pipeline.broadcast")):
            yield

    def bracketed(self):
        """An untraced, a traced and an untraced rep in one Spark context
        and JVM (the event log is on for all three), so the traced rep is
        compared with the mean of the reps around it; returns the walls,
        the warehouse summaries and the spans."""
        tracer = Tracer(run_id="kg_batch-%d" % self.seed)
        walls, summaries = [], []
        for i, traced in enumerate((False, True, False)):
            wh = fresh_dir(os.path.join(self.work, "wh%d" % i))
            if traced:
                with self.instrumented(tracer), tracer.span("pipeline.run_pipeline"):
                    walls.append(self._rep(wh))
            else:
                walls.append(self._rep(wh))
            summaries.append(self._summarize(wh))
            self.sess.gc()
        return walls, summaries, tracer

    def layer_metrics(self, tracer: Tracer, summaries, groups: StageGroups
                      ) -> Dict[str, tuple]:
        reps = len(summaries)
        m: Dict[str, tuple] = {}
        for layer in ("extract_stage", "kernel_stage", "triples_stage",
                      "chains_stage", "lineage"):
            m["pipeline.%s.write_s" % layer] = (
                tracer.total("pipeline.%s.write" % layer) / reps, "s")
        roots = [i for i, s in enumerate(tracer.spans) if s["name"] == "pipeline.run_pipeline"]
        explained = sum(tracer.duration(i) for i, s in enumerate(tracer.spans)
                        if s["parent"] in roots)
        m["pipeline.layer_coverage"] = (
            explained / sum(tracer.duration(i) for i in roots), "ratio")
        for g in EVENT_GROUPS:
            s = groups.summary(g)
            pre = "pipeline.%s." % g
            for key, unit in (("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                              ("shuffle_write_bytes", "bytes"),
                              ("shuffle_read_bytes", "bytes"),
                              ("output_bytes", "bytes")):
                m[pre + key] = (s[key] / reps, unit)
            m[pre + "task_skew"] = (s["task_skew"], "ratio")
            if g in PYTHON_GROUPS:
                for key, unit in (("python_boot_s", "s"), ("python_init_s", "s"),
                                  ("python_exec_s", "s"),
                                  ("python_sent_bytes", "bytes"),
                                  ("python_received_bytes", "bytes")):
                    m[pre + key] = (s[key] / reps, unit)
        kernel_s = sum(x["kernel_ms"] for x in summaries) / 1000.0 / reps
        m["pipeline.kernel_stage.boundary_s"] = (
            m["pipeline.kernel_stage.python_exec_s"][0] - kernel_s, "s")
        return m


def ops_metrics(res: Dict[str, Dict[str, float]], groups: StageGroups
                ) -> Dict[str, tuple]:
    m: Dict[str, tuple] = {"operators.wall_s": (
        sum(r["plan_s"] + r["exec_s"] for r in res.values()), "s")}
    for name, r in res.items():
        s = groups.summary("op." + name)
        m.update({
            "operators.%s.plan_s" % name: (r["plan_s"], "s"),
            "operators.%s.exec_s" % name: (r["exec_s"], "s"),
            "operators.%s.shuffle_write_bytes" % name: (s["shuffle_write_bytes"], "bytes"),
            "operators.%s.gc_s" % name: (s["gc_s"], "s"),
        })
    return m


def run(ctx) -> Dict:
    """One kg_batch run; ``ctx`` is the RunContext from run.py."""
    from xrenner_spark.lex import load_lex
    wl = BatchWorkload(ctx.sess, ctx.work, ctx.seed, ctx.small, with_ops=ctx.trace)
    ctx.phase("inputs")
    setup_s = ctx.sess.setup(wl.warm_up, event_log=ctx.trace)
    ctx.phase("setup")
    if ctx.trace:
        twalls, summaries, tracer = wl.bracketed()
        walls = [twalls[0], twalls[2]]
        peak_mb = 0.0
    else:
        walls, peak_mb, summaries = wl.timed(ctx.seconds)
    ctx.phase("timed")
    wall = statistics.median(walls)
    n_pages = len(wl.pages)
    lex = load_lex()
    timer = CallTimer() if ctx.trace else None
    failed, ok, details, rec = wl.check(summaries[-1]["wh"], lex, timer)
    triples = {s["triples"] for s in summaries}
    ok = ok and len(triples) == 1
    ctx.phase("checks")
    out = {
        "correct": ok, "attempted": n_pages, "failed": failed,
        "record": dict(wl.record, reps=len(walls), walls_s=walls,
                       triples=sorted(triples), **details),
        "e2e": {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "docs_per_s": (n_pages / wall, "1/s"),
        },
    }
    if ctx.trace:
        op_res = ops.run_pass(ctx.sess.spark, wl.ops_dir)
        ctx.phase("operators")
        groups = StageGroups(read_event_log(ctx.sess.stop_for_event_log()))
        expected = ops.expected_rows(wl.ops_shape)
        bad_ops = sorted(n for n, rows in expected.items() if op_res[n]["rows"] != rows)
        out["attempted"] += len(op_res)
        out["failed"] += len(bad_ops)
        out["correct"] = ok and not bad_ops
        out["record"].update(ops_shape=wl.ops_shape, ops_mismatched=bad_ops,
                             ops_rows={n: r["rows"] for n, r in op_res.items()},
                             traced_wall_s=twalls[1])
        layers = {"kg_triples_per_s": (summaries[0]["triples"] / wall, "1/s")}
        layers.update(wl.layer_metrics(tracer, [summaries[1]], groups))
        layers.update(kgcheck.per_doc_metrics(rec, timer))
        layers.update(ops_metrics(op_res, groups))
        layers["trace.overhead_ratio"] = (twalls[1] / wall, "ratio")
        tracer.dump(ctx.spans_path)
        out["layers"] = layers
    return out
