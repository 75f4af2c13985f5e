"""kg_stream: ``streaming.stream_pipeline`` fed by an open-loop generator.

The generator hard-links pre-staged parquet files of short native pages
into the source directory on a fixed schedule (``RATE`` files/s, whether
or not the stream keeps up), then, once that backlog is committed, drops
``BURST`` files at once and lets them drain; this ``BURSTS`` times.

* latency of a steady-phase file: from the time it was due to land to
  the end of the micro-batch that committed it (the file source log in
  the query checkpoint names each batch's files; the query progress
  gives each batch's start and duration);
* drain throughput (``docs_per_s``): pages per second of a full
  micro-batch (``MAX_FILES`` files) of a burst, the median over the
  bursts' full micro-batches, up to six (a file-source listing that
  falls between two of a burst's renames splits that burst into partial
  batches, which are left out).  Each burst's drain time (drop to the
  end of the batch that committed its last file) is recorded too.

Sizing: a warm micro-batch costs ~0.9-1.9 s of mostly fixed work on a
4-CPU host (the host's speed swings that much) and takes at most four
files (``read_pages_stream``'s maxFilesPerTrigger), so the stream
sustains 2-4 files/s; the steady phase offers 1.2, which stays below
that even on a slow host.  Each burst fills two micro-batches.

A traced run keeps Spark's event log on for its whole context and puts
driver spans around the calls into the package on every other
micro-batch, so ``trace.overhead_ratio`` compares interleaved batches of
one pass in one JVM state.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import statistics
import time
from typing import Dict, List

from . import gen, kgcheck
from .harness import RssSampler, fresh_dir, percentile
from .trace import STREAM_QUERY_KEY, StageGroups, Tracer, patched, read_event_log

PAGES_PER_FILE = 8
RATE = 1.2            # steady-phase files per second
BURST = 8             # files per burst: two full micro-batches
BURSTS = 3
WARM_FILES = 1
MAX_FILES = 4         # read_pages_stream's maxFilesPerTrigger


def _epoch(ts: str) -> float:
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def _file_batches(checkpoint: str) -> Dict[str, int]:
    """file name -> batch id, from the file source's metadata log."""
    out = {}
    log = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


class StreamWorkload:
    def __init__(self, sess, work: str, seed: int, seconds: float):
        self.sess = sess
        self.work = work
        self.n_steady = max(4, int(round(RATE * seconds)))
        self.burst = BURST
        n_files = self.n_steady + BURSTS * self.burst
        self.stage = os.path.join(work, "stage")
        self.names = gen.stream_files(seed, self.stage, n_files, PAGES_PER_FILE)
        self.warm_stage = os.path.join(work, "warm_stage")
        self.warm_names = gen.stream_files(seed + 1_000_003, self.warm_stage,
                                           WARM_FILES, PAGES_PER_FILE)
        self.warm_runs = 0
        self.record = {"files": n_files, "pages_per_file": PAGES_PER_FILE,
                       "rate_files_per_s": RATE, "burst_files": self.burst}

    def warm_up(self, spark, bcast) -> None:
        """An availableNow stream_pipeline over one staged file: starts the
        Python workers and runs the stream's whole micro-batch path."""
        from xrenner_spark.streaming import stream_pipeline
        self.warm_runs += 1
        base = fresh_dir(os.path.join(self.work, "warm%d" % self.warm_runs))
        src = fresh_dir(os.path.join(base, "src"))
        for name in self.warm_names:
            os.link(os.path.join(self.warm_stage, name), os.path.join(src, name))
        stream_pipeline(spark, src, os.path.join(base, "out"),
                        available_now=True).awaitTermination()

    # -- the open-loop run ---------------------------------------------
    def _wait_committed(self, q, out: str, names: List[str], timeout: float = 120.0):
        """Block until every file in ``names`` is in a committed batch.
        Polls every 0.1 s and re-reads the source log only when a new
        commit appears: the foreachBatch callback runs in this process and
        competes for the interpreter lock."""
        commits_dir = os.path.join(out, "_checkpoint", "commits")
        deadline = time.time() + timeout
        seen = None
        while time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError("stream failed: %s" % q.exception())
            try:
                commits = set(int(n) for n in os.listdir(commits_dir) if n.isdigit())
            except FileNotFoundError:
                commits = set()
            if commits != seen:
                seen = commits
                batches = _file_batches(os.path.join(out, "_checkpoint"))
                if all(n in batches and batches[n] in commits for n in names):
                    return
            time.sleep(0.1)
        raise RuntimeError("stream did not commit %d files within %.0f s"
                           % (len(names), timeout))

    @staticmethod
    def _progress(q, batch_ids, timeout: float = 30.0):
        """The query progress once it reports every batch in ``batch_ids``
        (a batch's progress is posted just after its commit)."""
        deadline = time.time() + timeout
        while True:
            progress = list(q.recentProgress)
            if batch_ids <= {p["batchId"] for p in progress}:
                return progress
            if time.time() > deadline:
                raise RuntimeError("no progress for batches %s"
                                   % sorted(batch_ids - {p["batchId"] for p in progress}))
            time.sleep(0.1)

    def timed(self, label: str):
        from xrenner_spark.streaming import stream_pipeline
        base = fresh_dir(os.path.join(self.work, label))
        src = fresh_dir(os.path.join(base, "src"))
        out = os.path.join(base, "out")
        steady = self.names[:self.n_steady]
        bursts = [self.names[self.n_steady + i * self.burst:
                             self.n_steady + (i + 1) * self.burst]
                  for i in range(BURSTS)]
        due, land = {}, {}

        def drop(names, due_at):
            # linked under hidden names (the file source skips them), then
            # renamed one by one: a listing between two renames splits the
            # burst, which the full-batch rate below leaves out
            for name in names:
                os.link(os.path.join(self.stage, name), os.path.join(src, "." + name))
            for name in names:
                os.rename(os.path.join(src, "." + name), os.path.join(src, name))
                land[name] = time.time()
                due[name] = due_at

        with RssSampler() as rss:
            q = stream_pipeline(self.sess.spark, src, out, available_now=False)
            try:
                t0 = time.time() + 0.5
                for i, name in enumerate(steady):
                    at = t0 + i / RATE
                    time.sleep(max(0.0, at - time.time()))
                    drop([name], at)
                self._wait_committed(q, out, steady)
                burst_at = []
                for names in bursts:
                    at = time.time()
                    drop(names, at)
                    burst_at.append(at)
                    self._wait_committed(q, out, names)
                files = _file_batches(os.path.join(out, "_checkpoint"))
                progress = self._progress(q, {files[n] for n in land})
            finally:
                q.stop()
        ends = {p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
                for p in progress if p.get("numInputRows", 0) > 0}
        latency = [ends[files[n]] - due[n] for n in steady]
        per_batch: Dict[int, int] = {}
        for n in land:
            per_batch[files[n]] = per_batch.get(files[n], 0) + 1
        burst_batches = {files[n] for names in bursts for n in names}
        full = {p["batchId"]: p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
                for p in progress if p["batchId"] in burst_batches
                and per_batch.get(p["batchId"]) == MAX_FILES}
        full_rates = [full[b] for b in sorted(full)]
        if not full_rates:
            raise RuntimeError("no full micro-batch: a listing split every burst")
        drains = [max(ends[files[n]] for n in names) - at
                  for names, at in zip(bursts, burst_at)]
        # backlog: files landed but not yet committed, at each landing
        commit_at = {n: ends[files[n]] for n in land}
        backlog = max(sum(1 for m in land if land[m] <= land[n] < commit_at[m])
                      for n in land)
        return {
            "out": out, "progress": progress, "files": files, "rss_mb": rss.peak_mb,
            "query_id": str(q.id), "full_batch_rate_of": full,
            "latency": latency, "drain_s": drains, "full_batch_rates": full_rates,
            "late_max": max(land[n] - due[n] for n in steady),
            "backlog_max": backlog,
            "full_batch_ms": [{k: p["durationMs"].get(k) for k in ("addBatch", "triggerExecution")}
                              for p in progress if p["batchId"] in full],
            "pages": len(land) * PAGES_PER_FILE,
        }

    # -- checks -----------------------------------------------------------
    def check(self, res, lex):
        """Every landed file committed in exactly one batch, no url under
        two batch ids, and the triples equal an in-process recompute of
        every page."""
        import pyarrow.parquet as pq
        spark = self.sess.spark
        rows = (spark.read.parquet(os.path.join(res["out"], "triples"))
                .select("url", "subj", "pred", "obj", "sent_num", "batch_id").collect())
        batches_of: Dict[str, set] = {}
        for r in rows:
            batches_of.setdefault(r["url"], set()).add(r["batch_id"])
        replayed = sorted(u for u, b in batches_of.items() if len(b) > 1)
        spark_by_url = kgcheck.spark_keys((r[0], r[1], r[2], r[3], r[4]) for r in rows)
        rec = kgcheck.Recompute(lex)
        landed = [n for n in self.names if n in res["files"]]
        for name in landed:
            for page in pq.read_table(os.path.join(self.stage, name)).to_pylist():
                rec.page(page)
        bad = kgcheck.mismatched_urls(spark_by_url, rec)
        mine = set().union(*spark_by_url.values()) if spark_by_url else set()
        p, r = kgcheck.precision_recall(mine, rec.all_keys())
        failed = len(set(bad) | set(replayed))
        ok = (not bad and not replayed and p == 1.0 and r == 1.0
              and len(landed) == len(self.names))
        return failed, ok, {"precision": p, "recall": r, "replayed_urls": len(replayed),
                            "mismatched_urls": len(bad), "triples": len(mine)}


@contextlib.contextmanager
def instrumented(tracer: Tracer, traced_batches: List[bool]):
    """Driver spans around the calls stream_pipeline makes into the
    package: its set-up and, on every other micro-batch (the n-th
    ``triples_stage`` call is the n-th batch with data), the triples
    plan.  ``traced_batches`` gets one flag per batch."""
    from xrenner_spark import streaming

    def wrap_span(name):
        def factory(fn):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return fn(*a, **kw)
            return wrapper
        return factory

    def every_other(fn):
        def wrapper(*a, **kw):
            traced_batches.append(len(traced_batches) % 2 == 1)
            if not traced_batches[-1]:
                return fn(*a, **kw)
            with tracer.span("streaming.triples_stage"):
                return fn(*a, **kw)
        return wrapper

    with patched(streaming, "load_lex", wrap_span("lex.load_lex")), \
            patched(streaming, "fused_extract_kernel_stage",
                    wrap_span("streaming.fused_extract_kernel_stage")), \
            patched(streaming, "triples_stage", every_other):
        yield


def run(ctx) -> Dict:
    from xrenner_spark.lex import load_lex
    wl = StreamWorkload(ctx.sess, ctx.work, ctx.seed, ctx.seconds)
    ctx.phase("inputs")
    setup_s = ctx.sess.setup(wl.warm_up, event_log=ctx.trace)
    ctx.phase("setup")
    tracer = Tracer(run_id="kg_stream-%d" % ctx.seed)
    traced_batches: List[bool] = []
    if ctx.trace:
        with instrumented(tracer, traced_batches):
            res = wl.timed("traced")
    else:
        res = wl.timed("run")
    ctx.phase("timed")
    failed, ok, details = wl.check(res, load_lex())
    ctx.phase("checks")
    rate = statistics.median(res["full_batch_rates"])
    lat = res["latency"]
    out = {
        "correct": ok, "attempted": res["pages"], "failed": failed,
        "record": dict(wl.record, drain_s=res["drain_s"], latency_samples=len(lat),
                       full_batch_rates=res["full_batch_rates"],
                       full_batch_ms=res["full_batch_ms"], **details),
        "e2e": {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (res["rss_mb"], "MB"),
            "docs_per_s": (rate, "1/s"),
        },
    }
    if ctx.trace:
        groups = StageGroups(read_event_log(ctx.sess.stop_for_event_log()),
                             key=STREAM_QUERY_KEY)
        batch_ids = sorted(p["batchId"] for p in res["progress"]
                           if p.get("numInputRows", 0) > 0)
        traced_of = dict(zip(batch_ids, traced_batches))
        split = {flag: [r for b, r in res["full_batch_rate_of"].items()
                        if traced_of.get(b) == flag] for flag in (False, True)}
        out["record"].update(traced_batch_ids=[b for b in batch_ids if traced_of.get(b)],
                             full_batch_rates_by_traced={str(k): v for k, v in split.items()})
        out["layers"] = {
            "stream_latency_p50_s": (percentile(lat, 50), "s"),
            "stream_latency_p90_s": (percentile(lat, 90), "s"),
            # wall ratio: untraced over traced batch rate
            "trace.overhead_ratio": (statistics.median(split[False])
                                     / statistics.median(split[True]), "ratio"),
        }
        out["layers"].update(stream_layers(res, groups))
        tracer.dump(ctx.spans_path)
    return out


def stream_layers(res, groups: StageGroups) -> Dict[str, tuple]:
    prog = [p for p in res["progress"] if p.get("numInputRows", 0) > 0]
    dur = lambda key: [p["durationMs"].get(key, 0) / 1000.0 for p in prog]  # noqa: E731
    python_exec = groups.summary(res["query_id"])["python_exec_s"]
    return {
        "streaming.trigger_s.p50": (percentile(dur("triggerExecution"), 50), "s"),
        "streaming.trigger_s.p90": (percentile(dur("triggerExecution"), 90), "s"),
        "streaming.add_batch_s.p50": (percentile(dur("addBatch"), 50), "s"),
        "streaming.query_planning_s.p50": (percentile(dur("queryPlanning"), 50), "s"),
        "streaming.latest_offset_s.p50": (percentile(dur("latestOffset"), 50), "s"),
        "streaming.wal_commit_s.p50": (percentile(dur("walCommit"), 50), "s"),
        "streaming.kernel.python_exec_s": (python_exec, "s"),
        "streaming.batches": (len(prog), "count"),
        "streaming.rows_per_batch.p50": (percentile([p["numInputRows"] for p in prog], 50), "count"),
        "streaming.backlog_files.max": (res["backlog_max"], "count"),
        "streaming.generator_late_s.max": (res["late_max"], "s"),
    }
