"""The session factory configures Spark and nothing else: tuning a builder
must not touch this interpreter's import state or the environment that
Spark's Python workers inherit, the local core count defaults to the
box's, and that core count is the engine's one shuffle width."""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

from apache_flink_pratices_spark import session


def test_tune_leaves_interpreter_and_worker_env_alone():
    pythonpath = os.environ.get("PYTHONPATH")
    path = list(sys.path)
    session.tune(SparkSession.builder)
    assert os.environ.get("PYTHONPATH") == pythonpath
    assert sys.path == path
    assert "cloudsdk" not in sys.modules
    assert "AFP_PB_VENDORED_PREJVM" not in os.environ


def test_cpus_falls_back_to_the_box(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "many")
    assert session._cpus() == os.cpu_count()
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session._cpus() == os.cpu_count()


def test_tune_sets_the_shuffle_width_to_the_core_count(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    builder = session.tune(SparkSession.Builder())
    assert builder._options["spark.sql.shuffle.partitions"] == str(session._cpus()) == "3"


def test_tune_sets_only_sql_confs_spark_registers(spark):
    # a misspelt or unregistered key is silently stored and never read:
    # every SQL-level key tune sets must be one this Spark knows
    options = session.tune(SparkSession.Builder())._options
    unknown = [
        k for k in options if k.startswith("spark.sql.") and not spark.conf.isModifiable(k)
    ]
    assert not unknown, unknown



def test_tune_sets_no_sql_conf_to_sparks_own_default(spark):
    # a key set to the value Spark already uses changes nothing: each
    # default is read from a fresh session with the key unset
    def norm(v: str):  # byte sizes ("256k", "1MB", "134217728b") as bytes
        m = re.fullmatch(r"(\d+)([kmgt]?)i?b?", v.strip().lower())
        return int(m[1]) * 1024 ** " kmgt".index(m[2] or " ") if m else v.lower()

    fresh = spark.newSession()
    restated = []
    for key, value in session.tune(SparkSession.Builder())._options.items():
        if key.startswith("spark.sql."):
            fresh.conf.unset(key)
            if norm(fresh.conf.get(key)) == norm(value):
                restated.append(key)
    assert not restated, restated
