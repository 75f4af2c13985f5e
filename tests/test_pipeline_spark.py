"""End-to-end Spark pipeline tests: the SQL chain/triple stage must agree
with the plain-Python extractor, the byte-identity invariant must hold on
every row, and a killed/rerun job must resume from checkpoints."""

import os
import shutil
from collections import Counter

import pytest

from xrenner_spark import load_lex
from xrenner_spark.catalog import Catalog
from xrenner_spark.corpus import build_document
from xrenner_spark.kernel import analyze_document
from xrenner_spark.pipeline import generate_pages, run_pipeline
from xrenner_spark.triples import extract_triples, parse_verbs

N_DOCS = 40


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    pages = generate_pages(spark, N_DOCS, partitions=4)
    run_pipeline(spark, pages, wh, partitions=4)
    # a pristine copy of the cold run: the kill-point cases resume from
    # parts of it and compare against it
    shutil.copytree(wh, wh + "_cold")
    return wh


def test_byte_identity_invariant(spark, warehouse):
    cat = Catalog(spark, warehouse)
    extracted = cat.read("stage_extract")
    bad = extracted.filter(~extracted.byte_identical).count()
    assert bad == 0
    lineage = cat.lineage("extract")
    assert lineage.selectExpr("sum(invariant_violations)").first()[0] == 0


def test_kernel_stage_clean(spark, warehouse):
    from xrenner_spark.pipeline import docs_view
    cat = Catalog(spark, warehouse)
    docs = docs_view(cat.read("stage_kernel"))
    assert docs.count() == N_DOCS
    assert docs.filter(docs.error != "").count() == 0


def test_sql_triples_match_python_extractor(spark, warehouse):
    """The distributed SQL stage (groupBy canonicalization + verb joins)
    must produce exactly the triples the sequential extractor computes."""
    cat = Catalog(spark, warehouse)
    rows = cat.read("triples").collect()
    spark_keys = {(r.url, r.subj, r.pred, r.obj, r.sent_num) for r in rows}

    lex = load_lex()
    py_keys = set()
    kernel_urls = {r.url for r in cat.read("stage_kernel").select("url").collect()}
    url_by_doc = {}
    for doc_id in range(N_DOCS):
        from xrenner_spark.corpus import build_page
        url_by_doc[doc_id] = build_page(doc_id)["url"]
    assert set(url_by_doc.values()) == kernel_urls
    for doc_id, url in url_by_doc.items():
        conllu = build_document(doc_id)["conllu"]
        result = analyze_document(url, conllu, lex)
        for t in extract_triples(result.mentions, parse_verbs(conllu)):
            py_keys.add((url, t["subj"], t["pred"], t["obj"], t["sent_num"]))
    assert spark_keys == py_keys


def test_resume_from_checkpoint(spark, warehouse, tmp_path):
    """Kill-and-rerun: with stage checkpoints present, a second run must
    not recompute them and must return identical triples."""
    cat = Catalog(spark, warehouse)
    before = sorted(
        (r.url, r.subj, r.pred, r.obj, r.sent_num)
        for r in cat.read("triples").collect())

    # simulate a crash after stage 2: triples output lost, stages intact
    shutil.rmtree(os.path.join(warehouse, "triples"))
    stage_mtime = os.path.getmtime(os.path.join(warehouse, "stage_kernel", "_SUCCESS"))

    # pages input deliberately wrong — if resume touched stage 1/2 it would
    # produce different rows; resume must read checkpoints instead
    bogus_pages = generate_pages(spark, 5, partitions=2)
    run_pipeline(spark, bogus_pages, warehouse, partitions=4)

    after = sorted(
        (r.url, r.subj, r.pred, r.obj, r.sent_num)
        for r in cat.read("triples").collect())
    assert after == before
    assert os.path.getmtime(
        os.path.join(warehouse, "stage_kernel", "_SUCCESS")) == stage_mtime


#: run_pipeline's writes in commit order
WRITES = ("stage_extract", "_lineage_extract", "stage_kernel",
          "_lineage_kernel", "chains", "triples")
#: warehouse states to resume from: everything up to one write, and
#: triples present with chains missing
CRASHES = {"after_" + w: WRITES[:i + 1] for i, w in enumerate(WRITES)}
CRASHES["triples_without_chains"] = tuple(w for w in WRITES if w != "chains")


def _table_rows(spark, wh, name):
    """A table's rows as a multiset, without the placement and timing
    columns a rerun may change."""
    df = (spark.read.parquet(os.path.join(wh, name))
          .drop("part_id", "kernel_ms", "wall_ms"))
    return Counter(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("kept", list(CRASHES.values()), ids=list(CRASHES))
def test_resume_after_any_write(spark, warehouse, tmp_path, kept):
    """Kill at every write point: a warehouse holding only the writes
    made before the crash resumes to every table and lineage sidecar of
    the cold run."""
    cold = warehouse + "_cold"
    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    for name in kept:
        shutil.copytree(os.path.join(cold, name), os.path.join(wh, name))
    run_pipeline(spark, generate_pages(spark, N_DOCS, partitions=4), wh,
                 partitions=4)
    for name in WRITES:
        assert _table_rows(spark, wh, name) == _table_rows(spark, cold, name), name


def test_staged_and_fused_kernel_stages_identical(spark):
    """The shipped staged path (extract_stage -> kernel_stage, as
    run_pipeline runs it) and the fused stage that streaming and bench.py
    run are row-exact equal (modulo the nondeterministic part_id/kernel_ms
    columns)."""
    from xrenner_spark.lex import load_lex
    from xrenner_spark.pipeline import (extract_stage,
                                        fused_extract_kernel_stage,
                                        generate_pages, kernel_stage,
                                        salt_by_url)
    bcast = spark.sparkContext.broadcast(load_lex())
    pages = salt_by_url(generate_pages(spark, 200, partitions=4), 4).persist()
    pages.count()
    staged = kernel_stage(extract_stage(pages), bcast).drop("part_id", "kernel_ms")
    fused = fused_extract_kernel_stage(pages, bcast).drop("part_id", "kernel_ms")
    assert staged.schema == fused.schema
    assert staged.filter("row_type = 'm'").count() > 0
    assert staged.exceptAll(fused).count() == 0
    assert fused.exceptAll(staged).count() == 0
    pages.unpersist()


def test_dedup_kernel_inputs(spark, tmp_path):
    """dedup_kernel_inputs=True: kernel rows are value-identical to the
    plain path for every copy (modulo the documented lineage metrics),
    triples identical, and the kernel demonstrably ran once per distinct
    payload (copies share the representative's exact kernel_ms)."""
    from pyspark.sql import functions as F
    from xrenner_spark.pipeline import docs_view

    pages = generate_pages(spark, 10, partitions=2)
    tiled = None
    for k in range(3):  # 3 copies of each payload under distinct urls
        c = pages.withColumn("url", F.concat(F.lit("copy%d-" % k), F.col("url")))
        tiled = c if tiled is None else tiled.union(c)

    wh_plain = str(tmp_path / "wh_plain")
    wh_dedup = str(tmp_path / "wh_dedup")
    t_plain = run_pipeline(spark, tiled, wh_plain, partitions=4)
    t_dedup = run_pipeline(spark, tiled, wh_dedup, partitions=4,
                           dedup_kernel_inputs=True)

    def triple_keys(df):
        return sorted((r.url, r.subj, r.pred, r.obj, r.sent_num)
                      for r in df.collect())

    assert triple_keys(t_plain) == triple_keys(t_dedup)

    cat_plain, cat_dedup = Catalog(spark, wh_plain), Catalog(spark, wh_dedup)
    kp, kd = cat_plain.read("stage_kernel"), cat_dedup.read("stage_kernel")
    assert kp.schema == kd.schema
    cols = [c for c in kp.columns if c not in ("part_id", "kernel_ms")]
    rows_p = sorted(map(tuple, kp.select(cols).collect()))
    rows_d = sorted(map(tuple, kd.select(cols).collect()))
    assert rows_p == rows_d

    docs = docs_view(kd)
    assert docs.count() == 30
    # one kernel execution per distinct payload: the 3 copies carry the
    # representative's exact timing value
    assert docs.select("text_sha256", "kernel_ms").distinct().count() == 10
    assert docs_view(kp).select("text_sha256", "kernel_ms").distinct().count() == 30


def test_dedup_kernel_inputs_giant_doc(spark, tmp_path):
    """Interaction pin: kernel-input dedup x giant-doc windowing.  A
    >500-sentence page (the pipeline windows it) tiled under two urls
    must produce identical triples in plain and dedup modes — the
    representative's windowed analysis is a pure function of the
    payload, so every copy inherits it exactly."""
    import pandas as pd
    from pyspark.sql import functions as F
    from xrenner_spark.corpus import (_HTML_HEAD, _HTML_MID, _HTML_TAIL,
                                      build_document)
    from xrenner_spark.pipeline import docs_view

    parts = [build_document(i) for i in range(100)]
    text = "\n".join(p["text"] for p in parts)
    conllu = "\n\n".join(p["conllu"] for p in parts)
    html = ((_HTML_HEAD % 0) + text + _HTML_MID + conllu + _HTML_TAIL).encode("utf8")
    rows = [{"url": "https://g.example/copy%d" % k,
             "warc_ts": pd.Timestamp("2024-01-01"),
             "html": html, "text": text, "lang": "en"} for k in range(2)]
    pages = spark.createDataFrame(pd.DataFrame(rows))

    t_plain = run_pipeline(spark, pages, str(tmp_path / "wp"), partitions=2)
    t_dedup = run_pipeline(spark, pages, str(tmp_path / "wd"), partitions=2,
                           dedup_kernel_inputs=True)
    keys = lambda df: sorted((r.url, r.subj, r.pred, r.obj, r.sent_num)
                             for r in df.collect())
    kp, kd = keys(t_plain), keys(t_dedup)
    assert kp == kd and len(kp) > 0

    docs = docs_view(Catalog(spark, str(tmp_path / "wd")).read("stage_kernel"))
    rec = docs.select("n_sentences", "kernel_ms").distinct().collect()
    assert len(rec) == 1          # one kernel execution, both copies
    assert rec[0].n_sentences > 500  # the windowed path actually ran
