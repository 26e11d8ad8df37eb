"""Text-format file sources: JSONL and CSV with strict quarantine.

The reference ingests newline-delimited JSON off the wire (the market
pipeline's P4 stage parses the same payloads from a string column); a
batch user of this engine lands the identical records as JSONL or CSV
files. These loaders wrap ``spark.read.json`` / ``spark.read.csv`` with
the non-negotiables for a 100 TB landing zone:

- **explicit schema, always** — schema inference is a full extra pass
  over the data and produces run-dependent types; callers pass the DDL.
- **PERMISSIVE + corrupt-record capture** — a single malformed line must
  neither kill the job (FAILFAST) nor silently vanish (DROPMALFORMED).
  Bad records land in ``_corrupt_record`` and :func:`split_corrupt`
  separates them so the pipeline can quarantine and count them.
- **columnNameOfCorruptRecord pinned** — the session default can be
  rebound; relying on it makes quarantine silently stop working.

Parsing stays entirely inside the JVM scan operator (Jackson/Univocity),
so both loaders keep whole-stage codegen and predicate pushdown on the
parsed columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: str) -> str:
    return f"{schema}, {CORRUPT_COL} string"


def load_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Newline-delimited JSON with the quarantine contract above."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def load_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV with a header row, under the quarantine contract above."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", "true")
        .csv(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, quarantined_raw_lines).

    Spark leaves every schema column null and fills ``_corrupt_record``
    for a malformed line; a well-formed line has it null. The clean side
    drops the capture column so downstream schemas stay closed. The
    quarantine side keeps the FULL row (partially-parsed columns are
    triage signal), and the parsed batch is cached: Spark refuses plans
    whose referenced columns are only the corrupt column of a raw scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — caching the
    parse is the documented resolution, and it also means the files are
    parsed ONCE for both consumers instead of once per side. Callers
    unpersist (or let it age out) after the two sides are materialized.
    """
    df = df.cache()
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad
