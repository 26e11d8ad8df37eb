"""Replicates the driver's correctness gate locally: every registered query
must match its DuckDB oracle exactly (row count, column names, values)
on sf0.001. Float aggregates are expected to be *bit-identical* thanks to
the decimal-sum determinism playbook (functions/numeric.py)."""

from __future__ import annotations

import math

import duckdb
import pytest

from apache_flink_pratices_spark.io import TABLES, table_path
from apache_flink_pratices_spark.registry import all_specs

from tests.conftest import SF_SMOKE

SPECS = all_specs()
ORACLE_SPECS = sorted(SPECS)


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
    return con


def _normalize(rows, colnames):
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


@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_matches_oracle(spark, name):
    spec = SPECS[name]
    # the driver runs every query in its own fresh process, but this
    # suite shares one session: a query that persists a frame
    # (corpus_pipeline_e2e deliberately caches the documents scan) must
    # not leak it into later tests' plans (CacheManager substitutes
    # cached subtrees, which broke the plan audits)
    try:
        sdf = spec.fn(spark, SF_SMOKE)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    finally:
        spark.catalog.clearCache()

    con = _duck(SF_SMOKE)
    oracle = con.execute(spec.oracle).fetch_arrow_table()
    con.close()
    d_cols = oracle.column_names
    d_rows = [tuple(r.values()) for r in oracle.to_pylist()]

    # an integer SUM that DuckDB widens to HUGEINT arrives as arrow
    # decimal128 and hash-mismatches the correctness gate even when
    # values are equal: the oracle needs CAST(... AS BIGINT)
    decimals = [f"{f.name}: {f.type}" for f in oracle.schema if "decimal" in str(f.type)]
    assert not decimals, f"{name}: oracle decimal columns {decimals}"
    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"

    sn = _normalize(s_rows, s_cols)
    dn = _normalize(d_rows, d_cols)
    for i, (a, b) in enumerate(zip(sn, dn)):
        assert a == b, f"{name}: first divergence at sorted row {i}:\n  spark={a}\n  duck ={b}"
