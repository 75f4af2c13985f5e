"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator and the refusal tests need no Spark.  The small-input runs
start Spark once per workload and trace mode (about a minute each on a
4-CPU host) and check that every metric BENCHMARK.json names is emitted
with its unit, that the layers a workload exercises read above zero, and
that the run's own output checks pass.  The operator test compares each
operator of the operators layer with its DuckDB twin on the seeded
tables, outside any timing.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, ops  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd, *args, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_batch_pages_repeat_for_a_seed_and_differ_across_seeds():
    a, kinds_a = gen.batch_pages(5, 40, long_shapes=((1, (3, 4)),))
    b, _ = gen.batch_pages(5, 40, long_shapes=((1, (3, 4)),))
    c, _ = gen.batch_pages(6, 40, long_shapes=((1, (3, 4)),))
    assert a == b
    assert [p["url"] for p in a] != [p["url"] for p in c]
    shares = gen.kind_shares(kinds_a)
    assert shares["long_share"] > 0 and shares["malformed_share"] > 0
    assert abs(shares["dup_share"] - gen.DUP_SHARE) < 0.02
    assert len({p["url"] for p in a}) == len(a)


def test_malformed_pages_break_extraction_or_the_kernel():
    from xrenner_spark.corpus import extract_conllu, extract_text
    for idx, kind in enumerate(gen.MALFORMED_KINDS):
        page, got = gen.malformed_page(1, idx, 12345)
        assert got == kind
        if kind == "truncated_tokens":
            assert extract_text(page["html"]) == page["text"]
            assert any(0 < len(line.split("\t")) < 10
                       for line in extract_conllu(page["html"]).split("\n") if line)
        else:
            with pytest.raises(Exception):
                extract_text(page["html"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", "kg_batch", "--seed", "1",
                "--seconds", "1", "--trace", "0", timeout=120)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


#: per-layer metrics that must read above zero in a traced small run
EXERCISED = {
    "kg_batch": ["pipeline.%s.%s" % (g, k)
                 for g in ("extract_stage", "kernel_stage", "triples_stage", "chains_stage")
                 for k in ("task_s", "output_bytes")]
    + ["pipeline.%s.write_s" % g for g in ("extract_stage", "kernel_stage",
                                           "triples_stage", "chains_stage", "lineage")]
    + ["pipeline.kernel_stage.python_exec_s", "pipeline.extract_stage.python_exec_s",
       "pipeline.kernel_stage.python_sent_bytes", "pipeline.kernel_stage.python_received_bytes",
       "pipeline.triples_stage.shuffle_write_bytes", "pipeline.layer_coverage",
       "kg_triples_per_s", "kernel.find_antecedent_calls", "kernel.mentions",
       "kernel.doc_ms.short.p50", "kernel.doc_ms.long.p50", "kernel.analyze_document_self_ms",
       "operators.wall_s", "operators.dedup_exact.shuffle_write_bytes",
       "session.get_spark_s", "lex.pickled_bytes", "trace.overhead_ratio"]
    + ["operators.%s.%s" % (name, k) for name in ops.OPS for k in ("plan_s", "exec_s")],
    "kg_stream": ["streaming.batches", "streaming.kernel.python_exec_s",
                  "streaming.trigger_s.p50", "streaming.add_batch_s.p50",
                  "streaming.rows_per_batch.p50", "streaming.backlog_files.max",
                  "stream_latency_p50_s", "stream_latency_p90_s",
                  "session.get_spark_s", "lex.pickled_bytes", "trace.overhead_ratio"],
}
STREAM_ONLY = ("streaming.", "stream_latency_")
SHARED = ("session.", "lex.", "trace.")


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_small_run_emits_every_metric_with_its_unit(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
                "--trace", str(trace), "--small")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().split("\n")
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
        return
    # a layer name the workload does not produce reads 0: it must be one
    # of the other workload's layers, never one of its own
    idle = set(record["layers_not_exercised"])
    own = {n for n in values if n.startswith(STREAM_ONLY) == (workload == "kg_stream")
           or n.startswith(SHARED)}
    assert not idle & own, sorted(idle & own)
    low = [n for n in EXERCISED[workload] if not values[n] > 0]
    assert not low, low
    if workload == "kg_batch":
        assert values["pipeline.kernel_stage.boundary_s"] >= 0
        assert values["pipeline.layer_coverage"] <= 1.0


def _load_check_oracles():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(ROOT, "scripts", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_operators_equal_their_duckdb_twins_on_the_seeded_tables():
    """Each operator of the operators layer against its DuckDB twin, with
    the order-insensitive value hash of ``scripts/check_oracles.py``."""
    import duckdb
    from xrenner_spark.session import get_spark
    from perfbench.harness import driver_mem
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    oracles = _load_check_oracles()
    pages, _ = gen.batch_pages(3, 400)
    sf_dir = tempfile.mkdtemp(prefix="perfbench-ops-")
    shape = gen.ops_tables(3, pages[:300], sf_dir, 1000)
    spark = get_spark("perfbench-oracles", cores=2, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                % (table, sf_dir, table))
    try:
        mismatched = []
        for name, (fn, sql) in ops.queries().items():
            spark.catalog.clearCache()
            sdf = fn(spark, sf_dir)
            rows = [tuple(r) for r in sdf.collect()]
            rel = con.sql(sql)
            orows = rel.fetchall()
            if name in ops.expected_rows(shape):
                assert len(rows) == ops.expected_rows(shape)[name], name
            if (len(rows) != len(orows)
                    or oracles.value_hash(rows, [c.lower() for c in sdf.columns])
                    != oracles.value_hash(orows, [c.lower() for c in rel.columns])):
                mismatched.append((name, len(rows), len(orows)))
        assert not mismatched, mismatched
    finally:
        spark.stop()
        shutil.rmtree(sf_dir, ignore_errors=True)
