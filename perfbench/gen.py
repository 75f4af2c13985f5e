"""Seeded input generator: the only thing the program under test sees.

Every input is a pure function of ``seed`` (``random.Random`` instances
keyed on the seed and a purpose string), written as parquet under a work
directory before set-up starts.  Three input sets:

* ``batch_pages``  — the kg_batch pages table: distinct native pages plus
  long, exact-duplicate and malformed pages.
* ``stream_files`` — the kg_stream staging area: small parquet files of
  short native pages, linked into the source dir by the open-loop
  generator in ``wl_stream``.
* ``ops_tables``   — the operators' ``documents`` and ``embeddings``
  tables, in the layout of the repository's sf dirs: the text of the
  kg_batch pages plus near-duplicate edits, and isotropic unit vectors.

Page kinds are recorded per url so that the failure accounting can tell a
well-formed page from a malformed one without trusting the program.
"""

from __future__ import annotations

import datetime
import os
import random
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from xrenner_spark.corpus import build_document, build_page

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

#: share of all pages that are exact copies of a native page under a new
#: url: the low end of the 30-60% the repository cites for real crawls
#: (``pipeline.dedup_kernel_stage``, ``scripts/bench_dedup_kernel.py``,
#: BENCH/BASELINE.md), so a dedup gain is not overstated.
DUP_SHARE = 0.30
#: long pages: (count, documents concatenated).  A native document has
#: 3-8 sentences, so 16-40 documents give ~90-220 sentences and 100-115
#: documents give ~550-630, past the kernel's 500-sentence window.  No
#: measured page-length mix is at hand, so these are the fewest pages
#: that keep the corefer backward scan, the windowed path and one
#: straggler task on the timed path, not a traffic share.
LONG_SHAPES = ((2, (16, 40)), (1, (100, 115)))
#: malformed kinds and pages of each: likewise a coverage floor for the
#: per-page error isolation (no measured error rate is at hand)
MALFORMED_KINDS = ("non_utf8", "missing_markers", "truncated_tokens")
MALFORMED_PER_KIND = 2
#: share of operator documents that are a one-word edit of another one, so
#: the minhash / simhash / Jaccard operators verify real candidate pairs
#: (a coverage floor, like the malformed pages)
NEAR_DUP_SHARE = 0.05
#: embedding shape measured on the repository's sf0.1 embeddings table:
#: unit vectors with 10 labels of ~200 each, a per-dimension spread of
#: 0.125 (= 1/sqrt(64)) and label means of norm ~0.07, which is what 200
#: isotropic draws give by themselves: the labels carry no cluster
EMB_LABELS = 10

DOCUMENTS_ARROW = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMBEDDINGS_ARROW = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def _rng(seed: int, purpose: str) -> random.Random:
    return random.Random("%d|%s" % (seed, purpose))


def _page_html(title: str, text: str, conllu: str) -> bytes:
    # the page layout corpus.extract_text / extract_conllu read
    return ("<html><head><meta charset=\"utf-8\"><title>%s</title></head>"
            "<body><article>%s</article>\n<!--@conllu\n%s\n-->\n"
            "</body></html>" % (title, text, conllu)).encode("utf8")


def _ts(rng: random.Random) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(
        days=rng.randrange(365), seconds=rng.randrange(86400))


def _native_ids(seed: int, purpose: str, n: int) -> List[int]:
    """``n`` distinct doc ids from a seed-chosen window of the id space."""
    rng = _rng(seed, purpose)
    base = rng.randrange(10 ** 7, 9 * 10 ** 7)
    return rng.sample(range(base, base + 4 * n), n)


def long_page(seed: int, idx: int, n_docs: int) -> Dict:
    rng = _rng(seed, "long%d" % idx)
    docs = [build_document(rng.randrange(10 ** 8)) for _ in range(n_docs)]
    text = "\n".join(d["text"] for d in docs)
    conllu = "\n\n".join(d["conllu"] for d in docs)
    return {"url": "https://longform.example.com/%d/story%04d.html" % (seed, idx),
            "warc_ts": _ts(rng), "html": _page_html("long %d" % idx, text, conllu),
            "text": text, "lang": "en"}


def malformed_page(seed: int, idx: int, doc_id: int) -> Tuple[Dict, str]:
    kind = MALFORMED_KINDS[idx % len(MALFORMED_KINDS)]
    page = build_page(doc_id)
    page["url"] = "https://broken.example.net/%d/page%04d.html" % (seed, idx)
    html = page["html"]
    if kind == "non_utf8":
        cut = html.index(b"</article>")
        html = html[:cut] + b"\xff\xfe" + html[cut:]
    elif kind == "missing_markers":
        html = html.replace(b"<article>", b"<div>").replace(b"</article>", b"</div>")
    else:
        # cut the last token line of the first sentence to 4 columns
        head, sep, rest = html.partition(b"\n\n")
        lines = head.split(b"\n")
        lines[-1] = b"\t".join(lines[-1].split(b"\t")[:4])
        html = b"\n".join(lines) + sep + rest
    page["html"] = html
    return page, kind


def batch_pages(seed: int, n_native: int, long_shapes=LONG_SHAPES
                ) -> Tuple[List[Dict], Dict[str, str]]:
    """The kg_batch pages and a url -> kind map (native, long, dup,
    malformed:<kind>).  ``DUP_SHARE`` of all pages are copies; the seed
    picks the content, the duplicated pages and the order."""
    pages: List[Dict] = []
    kinds: Dict[str, str] = {}
    for doc_id in _native_ids(seed, "native", n_native):
        page = build_page(doc_id)
        pages.append(page)
        kinds[page["url"]] = "native"
    natives = list(pages)
    idx = 0
    rng = _rng(seed, "long")
    for count, (lo, hi) in long_shapes:
        for _ in range(count):
            page = long_page(seed, idx, rng.randint(lo, hi))
            pages.append(page)
            kinds[page["url"]] = "long"
            idx += 1
    bad_ids = _native_ids(seed, "malformed", MALFORMED_PER_KIND * len(MALFORMED_KINDS))
    for i, doc_id in enumerate(bad_ids):
        page, kind = malformed_page(seed, i, doc_id)
        pages.append(page)
        kinds[page["url"]] = "malformed:" + kind
    rng = _rng(seed, "dups")
    for i in range(int(round(DUP_SHARE * len(pages) / (1.0 - DUP_SHARE)))):
        src = rng.choice(natives)
        page = dict(src, url="https://mirror%02d.example.net/%d/copy%05d.html"
                    % (i % 7, seed, i))
        pages.append(page)
        kinds[page["url"]] = "dup"
    _rng(seed, "order").shuffle(pages)
    return pages, kinds


def write_pages(pages: List[Dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_ARROW), path)


def kind_shares(kinds: Dict[str, str]) -> Dict[str, float]:
    n = len(kinds)
    out = {"pages": n}
    for key in ("long", "dup"):
        out[key + "_share"] = round(sum(v == key for v in kinds.values()) / n, 5)
    out["malformed_share"] = round(
        sum(v.startswith("malformed") for v in kinds.values()) / n, 5)
    return out


def stream_files(seed: int, out_dir: str, n_files: int, pages_per_file: int
                 ) -> List[str]:
    """``n_files`` parquet files of short native pages in ``out_dir``;
    returns the file names in landing order."""
    os.makedirs(out_dir, exist_ok=True)
    ids = _native_ids(seed, "stream", n_files * pages_per_file)
    names = []
    for f in range(n_files):
        chunk = ids[f * pages_per_file:(f + 1) * pages_per_file]
        name = "drop-%05d.parquet" % f
        write_pages([build_page(i) for i in chunk], os.path.join(out_dir, name))
        names.append(name)
    return names


def ops_tables(seed: int, pages: List[Dict], out_dir: str, n_vecs: int) -> Dict:
    """``documents.parquet`` (the text of ``pages`` plus near-duplicate
    edits) and ``embeddings.parquet`` (``n_vecs`` isotropic unit vectors)
    in ``out_dir``; returns what the operators' row counts follow from."""
    from xrenner_spark.operators.similarity import EMB_DIM
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "ops")
    originals = [p["text"] for p in pages]
    texts = list(originals)
    for i in range(int(round(NEAR_DUP_SHARE * len(pages)))):
        words = rng.choice(originals).split(" ")
        words[rng.randrange(len(words))] = "edit%d" % i
        texts.append(" ".join(words))
    docs = [{"doc_id": i, "text": t, "lang": "en",
             "source": "src%d" % (i % 20), "n_chars": len(t)}
            for i, t in enumerate(texts)]
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCUMENTS_ARROW),
                   os.path.join(out_dir, "documents.parquet"))
    npr = np.random.default_rng(rng.randrange(2 ** 32))
    labels = npr.integers(0, EMB_LABELS, n_vecs)
    vecs = npr.normal(0.0, 1.0, (n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.Table.from_pydict({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32)}, schema=EMBEDDINGS_ARROW),
        os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": len(docs), "distinct_texts": len(set(texts)), "vecs": n_vecs}
