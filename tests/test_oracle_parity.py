"""Replicates the driver's correctness gate locally: every registered query
must match its DuckDB oracle exactly (row count, column names, values)
on sf0.001. Float aggregates are expected to be *bit-identical* thanks to
the decimal-sum determinism playbook (functions/numeric.py)."""

from __future__ import annotations

import pytest

from apache_flink_pratices_spark.registry import all_specs

from tests.conftest import SF_SMOKE
from tests.oracle_duck import duck, normalize

SPECS = all_specs()
ORACLE_SPECS = sorted(SPECS)


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

    con = duck(SF_SMOKE)
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

    sn = normalize(s_rows, s_cols)
    dn = normalize(d_rows, d_cols)
    for i, (a, b) in enumerate(zip(sn, dn)):
        assert a == b, f"{name}: first divergence at sorted row {i}:\n  spark={a}\n  duck ={b}"
