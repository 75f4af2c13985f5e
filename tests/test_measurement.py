"""One measurement harness: ``get_spark`` sizes local Spark from the host,
and every timing script imports and shares perfbench's md5 canary."""

import glob
import importlib
import os

import pytest

from perfbench import harness
from xrenner_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Builder:
    """Stands in for ``SparkSession.builder``: records the conf that
    ``get_spark`` asks for instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, val):
        self.conf[key] = val
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def conf_of(monkeypatch):
    def run(**kwargs):
        monkeypatch.setattr(session.SparkSession, "builder", _Builder())
        return session.get_spark("t", **kwargs)
    return run


def test_get_spark_defaults_fit_the_host(conf_of, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = conf_of()
    cpus = len(os.sched_getaffinity(0))
    assert conf["spark.master"] == "local[%d]" % cpus
    assert conf["spark.driver.memory"] == harness.driver_mem()
    assert conf["spark.sql.shuffle.partitions"] == str(max(32, cpus))
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] \
        == str(8 * cpus)


def test_get_spark_env_and_arguments_override(conf_of, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    conf = conf_of()
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.driver.memory"] == "5g"
    conf = conf_of(cores=2, shuffle_partitions=4)
    assert conf["spark.master"] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "4"


SCRIPTS = sorted(
    os.path.basename(p)[:-3]
    for pattern in ("bench_*.py", "ann_recall_*.py", "profile_kernel.py")
    for p in glob.glob(os.path.join(REPO, "scripts", pattern)))


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_imports(name):
    mod = importlib.import_module("scripts." + name)
    assert callable(mod.main)
    if hasattr(mod, "canary"):
        assert mod.canary is harness.canary
