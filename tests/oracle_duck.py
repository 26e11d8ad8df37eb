"""The DuckDB side of every oracle check: a connection over a scale dir's
tables or in-memory frames, the row normalisation the oracle suite
compares with, and one stage of a registered oracle read by name."""

from __future__ import annotations

import math
import re

import duckdb

from apache_flink_pratices_spark.io import TABLES, table_path
from apache_flink_pratices_spark.registry import all_specs


def duck(sf_dir: str | None = None, **frames):
    """A DuckDB connection with a view per table of ``sf_dir`` and, for
    each keyword, a view of that name over a Spark DataFrame (moved
    through Arrow, so nullable int64 ids and float arrays keep their exact
    types) or an Arrow table."""
    con = duckdb.connect()
    if sf_dir is not None:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
    for name, frame in frames.items():
        con.register(name, frame.toArrow() if hasattr(frame, "toArrow") else frame)
    return con


def normalize(rows, colnames):
    """Columns sorted by name, NaN made comparable, rows sorted; the
    header row first."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [tuple(colnames[i] for i in order)] + out


def _final_select(sql: str) -> int:
    """Offset of the last SELECT outside every parenthesis and string
    literal: the statement's own projection after its CTE chain."""
    depth, last, i = 0, -1, 0
    while i < len(sql):
        c = sql[i]
        if c == "'":
            i = sql.index("'", i + 1) + 1
            while i < len(sql) and sql[i] == "'":  # '' escapes a quote
                i = sql.index("'", i + 1) + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and re.match(r"SELECT\b", sql[i : i + 7], re.IGNORECASE)
            and not (i and (sql[i - 1].isalnum() or sql[i - 1] == "_"))
        ):
            last = i
        i += 1
    assert last >= 0, "no top-level SELECT"
    return last


def oracle_stage(query: str, cte: str) -> str:
    """The registered oracle of ``query`` with its final projection
    replaced by ``SELECT * FROM <cte>``: one stage of the oracle's own
    CTE chain, byte for byte as the oracle computes it."""
    sql = all_specs()[query].oracle
    assert re.search(rf"\b{cte}\s+AS\s*(MATERIALIZED\s*)?\(", sql), f"{query}: no CTE {cte}"
    return sql[: _final_select(sql)] + f"SELECT * FROM {cte}"


def rows_by(con, sql: str, key: str, *cols: str) -> dict:
    """Run ``sql``; map each row's ``key`` column to the tuple of its
    ``cols``."""
    return {
        r[key]: tuple(r[c] for c in cols)
        for r in con.execute(sql).fetch_arrow_table().to_pylist()
    }
