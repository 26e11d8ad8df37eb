"""Sinks (SURVEY.md §2.2): Kafka with key partitioning and per-event-type
topic routing (K2/K3), and the partitioned parquet landing sink with
idempotent dynamic-overwrite backfill and a replay-safe foreachBatch
writer (K-superset, the object-store half of a 100 TB pipeline). The
print sink (K1) needs no wrapper: ``df.show()`` and
``writeStream.format("console")`` are called directly."""
