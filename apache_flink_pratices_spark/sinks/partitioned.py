"""Date-partitioned parquet sink with idempotent backfill (K-superset).

The reference persists its feed to Kafka only; a 100 TB training-data
pipeline additionally lands data in object storage, and the two patterns
that make that operable at scale are:

- **partitioned layout** (``event_date=YYYY-MM-DD/`` directories) so
  readers get partition pruning for free — a day-scoped query touches one
  directory, not the corpus;
- **idempotent backfill**: re-running a day REPLACES exactly that day's
  partitions and nothing else (Spark's *dynamic* partition-overwrite),
  so replays and late-data refills are safe to retry — the batch
  equivalent of the reference's idempotent-producer stance
  (``kafka_producer.py:105-115``: retries must not duplicate).

For streaming, :func:`foreach_batch_writer` returns a ``foreachBatch``
function that lands each micro-batch under ``(event_date, batch_id)``
partitions via the same dynamic overwrite. The batch_id sub-partition is
what makes the replay idempotent WITHOUT clobbering neighbors: two
micro-batches routinely carry the same event date, so overwriting by date
alone would wipe the earlier batch's rows — scoped by batch_id, a replayed
micro-batch (failure between write and checkpoint commit) overwrites
exactly its own previous attempt. Readers still prune on event_date (the
leading partition key); exactly-once *effects* on top of the file sink's
at-least-once replay.

File sizing: ``maxRecordsPerFile`` bounds the large end (no
multi-GB files from a skewed day).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_RECORDS_PER_FILE = 5_000_000


def with_event_date(df: DataFrame) -> DataFrame:
    """Add the partition column: calendar date of the ``ts`` column."""
    return df.withColumn("event_date", F.to_date(F.col("ts")))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("event_date",),
) -> None:
    """Write (or idempotently re-write) ``df``'s partitions under ``path``.

    Only the partitions present in ``df`` are replaced; every other
    partition on disk is untouched (dynamic partition overwrite). Run the
    same input twice and the second run is a no-op in effect.
    """
    # static overwrite would TRUNCATE every partition of the table; dynamic
    # replaces only those present in ``df``. As a writer option it beats the
    # session conf and leaves that conf as the caller set it.
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", _MAX_RECORDS_PER_FILE)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def foreach_batch_writer(path: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` function: idempotent partitioned landing of a
    stream under ``(event_date of ts, batch_id)``. A replayed micro-batch
    dynamically overwrites exactly its own ``batch_id`` sub-partitions —
    no duplicates, and no clobbering of other batches that share the
    event date."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        out = with_event_date(batch_df).withColumn(
            "batch_id", F.lit(batch_id)
        )
        write_partitioned(out, path, ("event_date", "batch_id"))

    return write
