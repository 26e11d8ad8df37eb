"""Worker-side deployment: below Python 3.13 the package keeps an unchanged
zip archive's directory across ``importlib.invalidate_caches()``, which
every Python worker task calls, and still re-reads an archive that changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

from apache_flink_pratices_spark import deploy
from apache_flink_pratices_spark.domain.rules import FraudMachine


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


def test_unchanged_zip_keeps_its_directory_and_a_changed_one_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["afp_zip_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("afp_zip_a", "afp_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("afp_zip_a").NAME == "afp_zip_a"

    importlib.invalidate_caches()  # the first call reads the archive
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert zipimport._zip_directory_cache[archive] is files

    _write_zip(archive, ["afp_zip_a", "afp_zip_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("afp_zip_b").NAME == "afp_zip_b"


def test_guard_leaves_python_313_alone(monkeypatch):
    def stdlib_method(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib_method)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    deploy.keep_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stdlib_method


def _worker_dir_ids(spark):
    """{worker pid: id() of its pyspark.zip directory} over 4 tasks."""

    # pickled by value; naming an engine class makes the worker import the
    # package on unpickling, the way every engine function does
    def report(batches):
        machine = FraudMachine()
        for pdf in batches:
            for t in pdf["id"]:
                machine.on_event(int(t), int(t) * 1000, 1.0)
        cache = zipimport._zip_directory_cache
        dirs = [id(cache[a]) for a in cache if os.path.basename(a) == "pyspark.zip"]
        yield pd.DataFrame({"pid": [os.getpid()], "dir_id": [dirs[0] if dirs else -1]})

    rows = spark.range(0, 4, numPartitions=4).mapInPandas(report, "pid long, dir_id long").collect()
    return {r.pid: r.dir_id for r in rows}


def test_python_workers_keep_the_pyspark_zip_directory_across_tasks(spark):
    # a fresh worker's first task re-reads before it imports the package;
    # its next task reads once more and records the archive's stat
    first = _worker_dir_ids(spark)
    second, third = _worker_dir_ids(spark), _worker_dir_ids(spark)
    warm = set(first) & set(second) & set(third)
    assert warm, (first, second, third)
    assert all(second[p] != -1 for p in warm)
    assert {p: second[p] for p in warm} == {p: third[p] for p in warm}
