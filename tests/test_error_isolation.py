"""One corrupt page must not kill a partition: the kernel stage records
the error on that page's doc row and processes every other document
normally (long-format output: 'd' doc rows carry metrics/errors, 'm'
rows are mentions)."""

import pytest

from xrenner_spark.lex import load_lex
from xrenner_spark.pipeline import (PAGES_SCHEMA, extract_stage,
                                    fused_extract_kernel_stage, kernel_stage)


@pytest.mark.parametrize("path", ["fused", "staged"])
def test_corrupt_pages_are_isolated(spark, path):
    import pandas as pd
    from xrenner_spark.corpus import build_page
    rows = [build_page(i) for i in range(10)]
    rows[3]["html"] = b"<html>no article, no parse</html>"       # unparseable
    rows[7]["html"] = rows[7]["html"].replace(
        b"<article>", b"<article>TAMPERED ")                     # invariant break
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA).repartition(2)
    unparseable, tampered = rows[3]["url"], rows[7]["url"]

    bcast = spark.sparkContext.broadcast(load_lex())
    if path == "fused":
        out = fused_extract_kernel_stage(pages, bcast).collect()
    else:
        extracted = extract_stage(pages).persist()
        flagged = {r.url for r in extracted.filter("NOT byte_identical").collect()}
        assert flagged == {unparseable, tampered}
        out = kernel_stage(extracted, bcast).collect()
        extracted.unpersist()
    docs = [r for r in out if r.row_type == "d"]
    assert sorted(r.url for r in docs) == sorted(r["url"] for r in rows)
    errors = {r.url: r.error for r in docs if r.error != ""}
    if path == "fused":
        # the fused stage checks byte identity itself: both bad pages
        # fail on their 'd' row
        assert set(errors) == {unparseable, tampered}
        assert "byte-identity" in errors[tampered]
        assert all(r.text_sha256 == "" for r in docs if r.url in errors)
    else:
        # the staged path flags both pages in the extract stage; the
        # kernel then runs on what was extracted: nothing for the
        # unparseable page, the intact parse for the tampered one
        assert errors == {}
    mention_urls = {r.url for r in out if r.row_type == "m"}
    for r in docs:
        if r.url in errors or r.url == unparseable:
            assert r.url not in mention_urls
        else:
            assert r.url in mention_urls


def test_serialize_stage_isolates_bad_docs(spark):
    """A corrupt page yields one (url, 'error', ...) row; every other
    document still serializes.  The training dump skips the corrupt page
    and still dumps the others (a document without candidate pairs
    dumps no line)."""
    import pandas as pd

    from xrenner_spark.corpus import build_page
    from xrenner_spark.lex import load_lex
    from xrenner_spark.pipeline import serialize_stage, training_dump_stage

    rows = [build_page(i) for i in range(6)]
    rows[2]["html"] = b"<html>no article here</html>"   # breaks extraction
    pages = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]))
    bcast = spark.sparkContext.broadcast(load_lex())
    out = serialize_stage(pages, bcast, formats=("sgml",)).collect()
    errors = [r for r in out if r.fmt == "error"]
    good = [r for r in out if r.fmt == "sgml"]
    assert len(errors) == 1 and rows[2]["url"] == errors[0].url
    assert len(good) == 5 and all(r.payload for r in good)

    lex = load_lex()
    lex.dump = True
    dumped = training_dump_stage(pages, spark.sparkContext.broadcast(lex)).collect()
    good_urls = {r["url"] for i, r in enumerate(rows) if i != 2}
    assert dumped and {r.url for r in dumped} <= good_urls
    assert all(r.line for r in dumped)
