"""The ship path: spark-submit --py-files xkg.zip jobs/run_kg.py, exactly
as the run_kg.py header documents — executed for real against a local
master from a NEUTRAL working directory, so the driver can only import
xrenner_spark (and find the bundled model) through the shipped zip.
"""

import os
import shutil
import subprocess
import sys
import zipfile

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(zpath):
    pkg = os.path.join(REPO, "xrenner_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                if fn.endswith(".pyc"):
                    continue
                full = os.path.join(root, fn)
                zf.write(full, os.path.relpath(full, REPO))


def test_spark_submit_local_cluster(tmp_path):
    """The same submission under ``local-cluster[2,4,4096]`` — unlike
    local[N] (one JVM sharing the driver's filesystem view and heap),
    local-cluster spawns REAL separate executor processes with their own
    block managers, python workers, and broadcast transport, so it
    exercises every ship-path assumption a multi-node cluster would
    (zip-shipped package + bundled model, torrent broadcast of the lex,
    executor-side parquet commit protocol).  Triples must be row-equal
    to a plain local[4] run on the identical synthesized input."""
    import duckdb

    zpath = str(tmp_path / "xkg.zip")
    _build_zip(zpath)
    job = str(tmp_path / "run_kg.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_kg.py"), job)

    spark_home = os.path.dirname(pyspark.__file__)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["SPARK_HOME"] = spark_home      # worker launch needs it
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def submit(master, warehouse):
        proc = subprocess.run(
            [os.path.join(spark_home, "bin", "spark-submit"),
             "--master", master,
             "--conf", "spark.sql.shuffle.partitions=8",
             "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
             "--py-files", zpath, job,
             "--synthesize", "120", "--warehouse", warehouse],
            cwd=str(tmp_path), capture_output=True, text=True, timeout=540,
            env=env)
        assert proc.returncode == 0, proc.stderr[-4000:]
        return sorted(duckdb.sql(
            "SELECT * FROM read_parquet('%s/triples/*.parquet')"
            % warehouse).fetchall())

    clustered = submit("local-cluster[2,4,4096]", str(tmp_path / "wh_lc"))
    local = submit("local[4]", str(tmp_path / "wh_l4"))
    assert clustered and clustered == local


def test_run_kg_rejects_iceberg_catalog(tmp_path):
    """run_pipeline always writes a parquet catalog, so a request for
    Iceberg must fail loudly at argument parsing, before any JVM starts
    or the warehouse is touched."""
    warehouse = tmp_path / "wh"
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "run_kg.py"),
         "--warehouse", str(warehouse), "--synthesize", "1",
         "--iceberg-catalog", "x"],
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert "unrecognized arguments: --iceberg-catalog x" in proc.stderr
    assert not warehouse.exists()


def test_spark_submit_py_files(tmp_path):
    zpath = str(tmp_path / "xkg.zip")
    _build_zip(zpath)
    job = str(tmp_path / "run_kg.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_kg.py"), job)
    warehouse = str(tmp_path / "wh")

    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)          # nothing importable but the zip
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def submit():
        return subprocess.run(
            [spark_submit, "--master", "local[4]",
             "--conf", "spark.sql.shuffle.partitions=8",
             "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
             "--py-files", zpath, job,
             "--synthesize", "120", "--warehouse", warehouse],
            cwd=str(tmp_path), capture_output=True, text=True, timeout=540,
            env=env)

    def triple_count(proc):
        counts = [line for line in proc.stdout.splitlines()
                  if line.startswith("triples:")]
        assert counts, proc.stdout[-2000:]
        return int(counts[0].split(":")[1])

    proc = submit()
    assert proc.returncode == 0, proc.stderr[-4000:]
    n_cold = triple_count(proc)
    assert n_cold > 0
    # the pipeline checkpointed its stages into the warehouse
    assert os.path.isdir(warehouse) and os.listdir(warehouse)

    # resume: a second submission against the same warehouse must reuse
    # the stage checkpoints and reproduce the identical triple count
    again = submit()
    assert again.returncode == 0, again.stderr[-4000:]
    assert triple_count(again) == n_cold
