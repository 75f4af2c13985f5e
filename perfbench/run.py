#!/usr/bin/env python3
"""xkg benchmark: one command per workload run.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit; a traced run leaves its
driver spans in ``.perfbench_work/spans-<workload>.jsonl``); the program
under test is the ``xrenner_spark`` package of the same checkout, on
``local[<cpus of this host>]``.  The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` metrics (a
layer this workload does not exercise reads 0; the record line before
the result lists them).  ``--small`` shrinks every input for the
benchmark's own tests.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pickle
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {"kg_batch": "wl_batch", "kg_stream": "wl_stream"}


class RunContext:
    def __init__(self, args, sess, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.small = args.small
        self.sess = sess
        self.work = work
        # kept after the run (the work dir is removed)
        self.spans_path = os.path.join(os.path.dirname(work),
                                       "spans-%s.jsonl" % args.workload)
        self.phases = {}
        self._t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        """Mark the end of a phase: process wall seconds so far."""
        self.phases[name] = round(time.perf_counter() - self._t0, 2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def setup_layers(sess) -> dict:
    from xrenner_spark.lex import load_lex
    return {
        "session.get_spark_s": (sess.setup_split["get_spark_s"], "s"),
        "lex.load_lex_s": (sess.setup_split["load_lex_s"], "s"),
        "lex.pickled_bytes": (len(pickle.dumps(load_lex())), "bytes"),
    }


def _terminate(signum, frame):
    # SIGTERM unwinds like an exit, so the finally below stops the JVM
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "xrenner_spark")):
        sys.stderr.write("perfbench: no xrenner_spark package under %s\n" % ROOT)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    bench = spec()
    work = harness.fresh_dir(os.path.join(harness.WORK, "%s-%d" % (args.workload, os.getpid())))
    sess = None
    try:
        settings = harness.prepare_env(work)
        counters = harness.host_counters()
        canary_s = harness.canary()
        cores = harness.host_cpus()
        settings["master"] = "local[%d]" % cores
        sess = harness.Session(work, cores)
        module = importlib.import_module("perfbench." + WORKLOADS[args.workload])
        ctx = RunContext(args, sess, work)
        out = module.run(ctx)
        record = harness.run_record(args, settings, canary_s)
        record["phases_s"] = ctx.phases
        record["host_counters"] = harness.counters_since(counters)
        record["workload_record"] = out["record"]
        record["spark_conf"] = sess.conf_snapshot
        record["setup_split_s"] = {k: round(v, 3) for k, v in sess.setup_split.items()}
        if args.trace:
            layers = dict(out["layers"])
            layers.update(setup_layers(sess))
            metrics = {}
            idle = []
            for m in bench["per_layer"]:
                if m["name"] in layers:
                    metrics[m["name"]] = (layers[m["name"]][0], m["unit"])
                else:
                    metrics[m["name"]] = (0.0, m["unit"])
                    idle.append(m["name"])
            record["layers_not_exercised"] = idle
        else:
            metrics = {m["name"]: (out["e2e"][m["name"]][0], m["unit"])
                       for m in bench["end_to_end"]}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if sess is not None:
                sess.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    harness.emit(record, out["correct"], out["attempted"], out["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
