"""neardup_method_compare_bench (VERDICT r11 #7): structural invariants
of the minhash-vs-simhash comparison on the planted-pair corpus — the
measured table itself is recorded in docs/scale_notes.md."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def cmp_result(spark):
    from apache_flink_pratices_spark.operators.dedup import (
        neardup_method_compare_bench,
    )

    return neardup_method_compare_bench(spark)


def test_corpus_and_truth_shape(cmp_result):
    tiers = cmp_result["tiers"]
    assert set(tiers) == {"r1", "r2", "r4", "r6"}
    # tier similarity must decrease with replacement count
    js = [tiers[t]["mean_jaccard"] for t in ("r1", "r2", "r4", "r6")]
    assert js == sorted(js, reverse=True)
    # the high tiers sit above the 0.4 threshold, the low one below it
    assert js[0] > 0.8 and js[1] > 0.6
    assert js[3] < 0.45
    assert tiers["r1"]["in_truth"] == tiers["r1"]["planted"]
    assert tiers["r2"]["in_truth"] == tiers["r2"]["planted"]
    assert tiers["r6"]["in_truth"] <= tiers["r6"]["planted"] // 2
    assert cmp_result["truth_pairs"] >= tiers["r1"]["in_truth"] + tiers["r2"]["in_truth"]


def test_minhash_verify_is_truth_predicate(cmp_result):
    # the exact-Jaccard verify IS the truth predicate, so every emitted
    # pair is true: precision exactly 1.0, recall bounded by LSH
    m = cmp_result["minhash_lsh"]
    assert m["precision"] == 1.0
    assert 0 < m["pairs"] <= cmp_result["truth_pairs"]
    # J≈0.86 tier: candidate probability 1-(1-J^4)^4 ≈ 0.95 — demand a
    # loose floor so box noise can't flake the pin
    t1 = cmp_result["tiers"]["r1"]
    assert t1["found_minhash_lsh"] >= int(0.7 * t1["planted"])


def test_simhash_measures_a_stricter_contract(cmp_result):
    s = cmp_result["simhash"]
    assert s["pairs"] >= 1  # finds the tightest pairs...
    assert s["recall"] <= cmp_result["minhash_lsh"]["recall"]  # ...but fewer
    # Hamming<=3 on TF-weighted fingerprints is stricter than J>=0.4 for
    # short docs: by the r4 tier (J~0.5) it finds essentially nothing
    assert cmp_result["tiers"]["r4"]["found_simhash"] <= 2
    for m in ("minhash_lsh", "simhash"):
        assert cmp_result[m]["wall_s"] > 0
