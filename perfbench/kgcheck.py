"""In-process recompute of the KG for a set of pages, through the same
public functions the Spark stages call, and the triple comparison that
every kg_batch / kg_stream run is checked with.

With a ``trace.CallTimer`` the same pass doubles as the per-document
layer split: single-threaded, wrappers around the kernel's functions,
extraction and verb parsing timed here.
"""

from __future__ import annotations

import time
from typing import Dict, Iterable, List, Set, Tuple

from xrenner_spark.corpus import extract_conllu, extract_text
from xrenner_spark.kernel import analyze_document_windowed
from xrenner_spark.triples import extract_triples, parse_verbs, triple_key

from .harness import percentile

Key = Tuple[str, str, str, str, int]


class Recompute:
    def __init__(self, lex, timer=None):
        self.lex = lex
        self.timer = timer
        self.triples: Dict[str, Set[Key]] = {}
        self.doc_ms: Dict[str, List[float]] = {"short": [], "long": []}
        self.extract_s = 0.0
        self.verbs_s = 0.0
        self.mentions = 0
        self.windowed_docs = 0

    def page(self, page: Dict, kind: str = "native") -> None:
        url = page["url"]
        t0 = time.perf_counter()
        try:  # extract_stage turns an extraction failure into ""
            extract_text(page["html"])
            conllu = extract_conllu(page["html"])
        except Exception:
            conllu = ""
        t1 = time.perf_counter()
        self.extract_s += t1 - t0
        calls_before = self._calls("analyze_document")
        keys: Set[Key] = set()
        try:
            if self.lex.depedit is not None:
                conllu = self.lex.depedit.run(conllu)
            result = analyze_document_windowed(url, conllu, self.lex,
                                               pre_rewritten=True)
            t2 = time.perf_counter()
            verbs = parse_verbs(conllu)
            t3 = time.perf_counter()
            self.verbs_s += t3 - t2
            self.mentions += len(result.mentions)
            keys = {(url,) + triple_key(t)
                    for t in extract_triples(result.mentions, verbs)}
        except Exception:  # the stage isolates a failing page: no triples
            pass
        self.doc_ms["long" if kind == "long" else "short"].append(
            (time.perf_counter() - t1) * 1000.0)
        if self._calls("analyze_document") - calls_before > 1:
            self.windowed_docs += 1
        self.triples[url] = keys

    def _calls(self, name: str) -> int:
        return self.timer.calls.get(name, 0) if self.timer is not None else 0

    def all_keys(self) -> Set[Key]:
        out: Set[Key] = set()
        for keys in self.triples.values():
            out |= keys
        return out


def spark_keys(rows: Iterable) -> Dict[str, Set[Key]]:
    """Rows of (url, subj, pred, obj, sent_num) grouped by url."""
    out: Dict[str, Set[Key]] = {}
    for url, subj, pred, obj, sent_num in rows:
        out.setdefault(url, set()).add((url, subj, pred, obj, int(sent_num)))
    return out


def precision_recall(mine: Set[Key], ref: Set[Key]) -> Tuple[float, float]:
    hits = len(mine & ref)
    return (hits / len(mine) if mine else 1.0,
            hits / len(ref) if ref else 1.0)


def mismatched_urls(spark_by_url: Dict[str, Set[Key]], rec: Recompute) -> List[str]:
    return sorted(url for url, keys in rec.triples.items()
                  if spark_by_url.get(url, set()) != keys)


def per_doc_metrics(rec: Recompute, timer) -> Dict[str, tuple]:
    """The per-document layer split (mean ms per document)."""
    n = max(1, len(rec.triples))

    def ms(seconds: float) -> float:
        return seconds * 1000.0 / n

    m = {
        "corpus.extract_ms": (ms(rec.extract_s), "ms"),
        "kernel.depedit_ms": (ms(timer.incl.get("depedit", 0.0)), "ms"),
        "kernel.read_document_ms": (ms(timer.incl.get("read_document", 0.0)), "ms"),
        "kernel.make_markable_ms": (ms(timer.incl.get("make_markable", 0.0)), "ms"),
        "kernel.analyze_markable_ms": (ms(timer.incl.get("analyze_markable", 0.0)), "ms"),
        "kernel.find_antecedent_ms": (ms(timer.incl.get("find_antecedent", 0.0)), "ms"),
        "kernel.postprocess_coref_ms": (ms(timer.incl.get("postprocess_coref", 0.0)), "ms"),
        "kernel.analyze_document_self_ms": (ms(timer.self_s.get("analyze_document", 0.0)), "ms"),
        "triples.parse_verbs_ms": (ms(rec.verbs_s), "ms"),
        "kernel.find_antecedent_calls": (timer.calls.get("find_antecedent", 0), "count"),
        "kernel.windowed_docs": (rec.windowed_docs, "count"),
        "kernel.mentions": (rec.mentions, "count"),
    }
    for kind in ("short", "long"):
        vals = rec.doc_ms[kind] or [0.0]
        m["kernel.doc_ms.%s.p50" % kind] = (percentile(vals, 50), "ms")
        m["kernel.doc_ms.%s.p99" % kind] = (percentile(vals, 99), "ms")
    return m
