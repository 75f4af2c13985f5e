"""Tracing from outside the program: driver spans around public calls,
per-document wrappers around the kernel's public functions, and the
Spark event-log summary per stage group.

Spans are kept in memory (name, start, end, parent, run id) and written
out once at the end of a run; a span's self time is its duration minus
the time its child spans cover.  Wrappers are installed by patching
module attributes for the duration of a ``with`` block and removed on
exit, so an untraced pass runs the unmodified functions.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from typing import Dict, Iterable, List, Optional


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def self_time(self, idx: int) -> float:
        children = sum(self.duration(i) for i, s in enumerate(self.spans)
                       if s["parent"] == idx)
        return self.duration(idx) - children

    def total(self, name: str) -> float:
        return sum(self.duration(i) for i, s in enumerate(self.spans)
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps(dict(s, id=i, self_s=self.self_time(i))) + "\n")


@contextlib.contextmanager
def patched(obj, attr: str, wrapper_factory):
    original = getattr(obj, attr)
    setattr(obj, attr, wrapper_factory(original))
    try:
        yield original
    finally:
        setattr(obj, attr, original)


# ---------------------------------------------------------------------
# per-document wrappers around the kernel's public functions
# ---------------------------------------------------------------------

class CallTimer:
    """Inclusive and self time plus call counts per wrapped name, with a
    call stack so a name nested in itself is counted once and a parent's
    self time excludes its wrapped children."""

    def __init__(self):
        self.incl: Dict[str, float] = {}
        self.self_s: Dict[str, float] = {}
        self.calls: Dict[str, int] = {}
        self._stack: List[list] = []

    def wrap(self, name: str):
        def factory(fn):
            def wrapper(*args, **kwargs):
                frame = [name, 0.0]
                outer = all(f[0] != name for f in self._stack)
                self._stack.append(frame)
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    dur = time.perf_counter() - t0
                    self._stack.pop()
                    if self._stack:
                        self._stack[-1][1] += dur
                    self.calls[name] = self.calls.get(name, 0) + 1
                    self.self_s[name] = self.self_s.get(name, 0.0) + dur - frame[1]
                    if outer:
                        self.incl[name] = self.incl.get(name, 0.0) + dur
            return wrapper
        return factory

    @contextlib.contextmanager
    def installed(self):
        """Wrap the functions the kernel stage calls per document."""
        from xrenner_spark.kernel import depedit_lite, engine, parsing
        targets = [
            (depedit_lite.DepEditLite, "run", "depedit"),
            (parsing, "read_document", "read_document"),
            (engine, "analyze_document", "analyze_document"),
            (engine, "make_markable", "make_markable"),
            (engine, "analyze_markable", "analyze_markable"),
            (engine, "find_antecedent", "find_antecedent"),
            (engine, "postprocess_coref", "postprocess_coref"),
        ]
        with contextlib.ExitStack() as stack:
            for obj, attr, name in targets:
                stack.enter_context(patched(obj, attr, self.wrap(name)))
            yield self


# ---------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------

PY_ACCUMS = {
    "time to start Python workers": "python_boot",
    "time to initialize Python workers": "python_init",
    "time to run Python workers": "python_exec",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}


def read_event_log(path: str) -> Iterable[Dict]:
    """Events of one application's uncompressed log (a file, or the
    directory of a rolling log)."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if f.startswith("events_"))
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


#: job property naming a streaming query's micro-batch jobs
STREAM_QUERY_KEY = "sql.streaming.queryId"


class StageGroups:
    """Task metrics summed per stage group.  A stage belongs to the group
    named by the job property ``key`` of the job that submitted it (by
    default ``spark.jobGroup.id``, with ids of the form ``<group>#<rep>``;
    ``STREAM_QUERY_KEY`` groups by streaming query); stages of jobs
    without that property land in ``None``."""

    def __init__(self, events: Iterable[Dict], key: str = "spark.jobGroup.id"):
        stage_group: Dict[int, Optional[str]] = {}
        self.tasks: Dict[Optional[str], List[Dict]] = {}
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(key)
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group, _, rep = (stage_group.get(ev["Stage ID"]) or "").partition("#")
                task = self._task(ev)
                task["stage"] = (rep, ev["Stage ID"])
                self.tasks.setdefault(group or None, []).append(task)

    @staticmethod
    def _task(ev: Dict) -> Dict:
        tm = ev.get("Task Metrics") or {}
        info = ev["Task Info"]
        sr = tm.get("Shuffle Read Metrics", {})
        t = {
            "task_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
            "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
        }
        for acc in info.get("Accumulables", ()):
            key = PY_ACCUMS.get(acc.get("Name"))
            if key is not None:
                t[key] = t.get(key, 0) + int(acc.get("Update") or 0)
        return t

    @staticmethod
    def _skew(tasks: List[Dict]) -> float:
        """max / median task time of each rep's heaviest stage, median
        over reps (1.0 when the group ran no multi-task stage)."""
        stages: Dict[tuple, List[float]] = {}
        for t in tasks:
            stages.setdefault(t["stage"], []).append(t["run_s"])
        heaviest: Dict[str, List[float]] = {}
        for (rep, _sid), times in stages.items():
            if len(times) > 1 and sum(times) > sum(heaviest.get(rep, [])):
                heaviest[rep] = times
        skews = [max(ts) / max(statistics.median(ts), 1e-3)
                 for ts in heaviest.values()]
        return statistics.median(skews) if skews else 1.0

    def summary(self, group: Optional[str]) -> Dict[str, float]:
        tasks = self.tasks.get(group, [])
        out = {k: float(sum(t[k] for t in tasks)) for k in
               ("task_s", "cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "output_bytes")}
        out["task_skew"] = self._skew(tasks)
        # Python timings are SQL millisecond timing metrics
        for key in ("python_boot", "python_init", "python_exec"):
            out[key + "_s"] = sum(t.get(key, 0) for t in tasks) / 1000.0
        for key in ("python_sent_bytes", "python_received_bytes"):
            out[key] = float(sum(t.get(key, 0) for t in tasks))
        out["tasks"] = float(len(tasks))
        return out
