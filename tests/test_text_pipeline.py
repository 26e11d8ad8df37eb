"""Unit tests for the repetition filter, chunking, and domain-mix operators.

Oracle parity at sf0.01 is the driver gate; these pin the algorithmic
invariants on controlled inputs — metric arithmetic on hand-built texts,
chunk-geometry edge cases, and the mix solver's share/feasibility math.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.curation import (
    MIX_TIER_BP,
    domain_mix_resample,
)
from apache_flink_pratices_spark.operators.text import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    doc_chunking,
    quality_repetition,
)

from tests.conftest import SF_SMOKE
from tests.oracle_duck import duck, oracle_stage, rows_by


# --- quality_repetition -----------------------------------------------------


def _rep_metrics(spark, text, tmp_path):
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    path = str(tmp_path / "docs")
    df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("src0")).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return quality_repetition(spark, path).collect()[0]


def test_repetition_all_same_word(spark, tmp_path):
    r = _rep_metrics(spark, "x x x x", tmp_path)
    assert r["n_words"] == 4
    assert r["distinct_word_ratio"] == 0.25
    assert r["top_word_frac"] == 1.0
    # bigrams: 3 total, 1 distinct -> 2/3 duplicated
    assert r["dup_bigram_frac"] == pytest.approx(2 / 3)
    assert not r["keep"]


def test_repetition_all_distinct(spark, tmp_path):
    r = _rep_metrics(spark, "a b c d e", tmp_path)
    assert r["distinct_word_ratio"] == 1.0
    assert r["top_word_frac"] == 0.2
    assert r["dup_bigram_frac"] == 0.0


def test_repetition_single_word_doc(spark, tmp_path):
    # the n_words == 1 branch: no bigrams, dup fraction defined as 0
    r = _rep_metrics(spark, "solo", tmp_path)
    assert r["n_words"] == 1
    assert r["dup_bigram_frac"] == 0.0


def test_repetition_splits_corpus(spark):
    rows = quality_repetition(spark, SF_SMOKE).collect()
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows)


# --- doc_chunking -----------------------------------------------------------


def test_chunking_geometry(spark):
    rows = doc_chunking(spark, SF_SMOKE).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        n = chunks[0]["n_tokens"]
        # contiguous ids, stride geometry, full coverage, bounded size
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c["tok_start"] == c["chunk_id"] * CHUNK_STRIDE
            assert c["tok_end"] - c["tok_start"] == c["chunk_tokens"] <= CHUNK_TOKENS
        assert chunks[-1]["tok_end"] == n
        # every chunk except possibly the last is full or ends at n
        for c in chunks[:-1]:
            assert c["chunk_tokens"] == CHUNK_TOKENS
        # one more chunk would start past the end
        assert len(chunks) * CHUNK_STRIDE >= n - CHUNK_TOKENS + 1 or len(chunks) == 1


def test_chunking_short_doc_single_chunk(spark, tmp_path):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    path = str(tmp_path / "short")
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")
    rows = doc_chunking(spark, path).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_id"] == 0 and rows[0]["chunk_tokens"] == rows[0]["n_tokens"]


# --- domain_mix_resample ----------------------------------------------------


def test_mix_rates_match_target_shares(spark):
    kept = domain_mix_resample(spark, SF_SMOKE)
    rates = kept.select("source", "share_bp", "accept_bp").distinct().collect()
    assert rates
    for r in rates:
        tier = int(r["source"][3:]) % 4
        assert r["share_bp"] == MIX_TIER_BP[tier]
        assert 0 < r["accept_bp"] <= 10000
    # higher target share must not get a lower acceptance rate when counts
    # are uniform (they are in the synthetic corpus)
    by_share = {}
    for r in rates:
        by_share.setdefault(r["share_bp"], set()).add(r["accept_bp"])
    shares = sorted(by_share)
    for lo, hi in zip(shares, shares[1:]):
        assert max(by_share[lo]) <= min(by_share[hi])


def test_mix_is_deterministic(spark):
    a = sorted(r["doc_id"] for r in domain_mix_resample(spark, SF_SMOKE).collect())
    b = sorted(r["doc_id"] for r in domain_mix_resample(spark, SF_SMOKE).collect())
    assert a == b and a


# --- pii_redaction ----------------------------------------------------------


def test_pii_redaction_masks_and_counts(spark, tmp_path):
    from apache_flink_pratices_spark.operators.text import pii_redaction

    text = "reach me at bob.smith+x@corp.io or +82-555-1234 from 192.168.0.1 ok"
    df = spark.createDataFrame(
        [(7, text, "src1")], "doc_id long, text string, source string"
    )
    path = str(tmp_path / "pii")
    df.write.mode("overwrite").parquet(f"{path}/documents.parquet")
    r = pii_redaction(spark, path).collect()[0]
    # 1 organic + 1 injected of each class
    assert r["n_emails"] == 2 and r["n_phones"] == 2 and r["n_ips"] == 2
    red = r["redacted"]
    assert "bob.smith" not in red and "192.168" not in red and "555-1234" not in red
    assert red.count("<EMAIL>") == 2 and red.count("<PHONE>") == 2 and red.count("<IP>") == 2
    # non-PII text survives
    assert red.startswith("reach me at <EMAIL> or <PHONE> from <IP> ok")


def test_gopher_rules_zero_shuffles_and_flag_consistency(spark):
    """The Gopher gate is pure map work (no exchange anywhere in the plan)
    and the pass bit is exactly the conjunction of the four rule flags."""
    from apache_flink_pratices_spark.operators.text import quality_gopher_rules
    from apache_flink_pratices_spark.plans.explain import formatted_plan
    from tests.plan_helpers import exchange_count

    df = quality_gopher_rules(spark, SF_SMOKE)
    assert exchange_count(formatted_plan(df)) == 0
    bad = df.filter(
        F.col("passes_gopher")
        != (
            F.col("rule_word_count")
            * F.col("rule_mean_word_len")
            * F.col("rule_alpha_ratio")
            * F.col("rule_stopwords")
        )
    )
    assert bad.count() == 0


# --- dup_ngram_coverage kernel ---------------------------------------------
def test_dup_ngram_coverage_hand_case(spark, tmp_path):
    """Two docs share a 9-token run (two overlapping 8-gram hits -> merged
    interval of 9 covered positions); a third doc shares nothing."""
    from apache_flink_pratices_spark.operators.dedup import dup_ngram_coverage

    shared = "a b c d e f g h i"  # 9 tokens => 8-gram starts at 0 and 1
    rows = [
        (1, shared + " x y z"),  # 12 tokens, covered 0..8 => 9
        (2, "p q " + shared),  # 11 tokens, covered 2..10 => 9
        (3, "u v w m n o r s t q p z"),  # nothing shared
    ]
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    out = {r.doc_id: r for r in dup_ngram_coverage(spark, str(tmp_path)).collect()}
    assert out[1].n_tokens == 12 and out[1].n_covered == 9
    assert out[2].n_tokens == 11 and out[2].n_covered == 9
    assert out[3].n_covered == 0 and out[3].dup_frac == 0.0
    assert abs(out[1].dup_frac - 9 / 12) < 1e-12


def test_dup_ngram_coverage_short_docs(spark, tmp_path):
    """Docs with fewer than 8 tokens must report zero coverage, not crash:
    sequence(0, size-8) is DESCENDING for short docs and slice(a, 1, 8)
    then throws INVALID_PARAMETER_VALUE.START (ADVICE r5). The guard has
    to match DuckDB's generate_series-returns-empty semantics."""
    from apache_flink_pratices_spark.operators.dedup import dup_ngram_coverage

    shared = "a b c d e f g h i"
    rows = [
        (1, shared),  # exactly n+1 tokens — still shingles
        (2, shared + " tail"),
        (3, "tiny"),  # 1 token
        (4, "a b c d e f g"),  # 7 tokens: one below the shingle width
        (5, ""),  # empty text → split gives [""]
    ]
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    out = {r.doc_id: r for r in dup_ngram_coverage(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].n_covered == 9 and out[2].n_covered == 9
    for short in (3, 4, 5):
        assert out[short].n_covered == 0 and out[short].dup_frac == 0.0


# --- r14: vectorized repetition-metrics kernel pinned to the HOF twin --------


def _rep_token_frame(d):
    return d.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), w -> w <> '')").alias("ws"),
    ).filter(F.size("ws") > 0)


def _rep_kernel_and_oracle(d):
    """(kernel, oracle): doc_id -> (n_words, n_distinct, top_word_cnt,
    n_dup_bigrams) from _repetition_metrics over the token frame, and
    from the quality_repetition oracle's ``m`` stage run by DuckDB over
    the same (doc_id, text) frame."""
    from apache_flink_pratices_spark.operators.text import _repetition_metrics

    t = _rep_token_frame(d).persist()
    t.count()
    got = {r["doc_id"]: tuple(r)[1:] for r in _repetition_metrics(t).collect()}
    t.unpersist()
    con = duck(documents=d)
    ref = rows_by(
        con, oracle_stage("quality_repetition", "m"), "doc_id",
        "n_words", "n_distinct", "top_word_cnt", "n_dup_bigrams",
    )
    con.close()
    return got, ref


def test_repetition_kernel_matches_expression_twin(spark):
    """_repetition_metrics (Arrow kernel) must equal the quality_repetition
    DuckDB oracle's metric stage row for row on the real corpus — every
    output is an integer count, so equality is exact."""
    from apache_flink_pratices_spark.io import load

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    got, ref = _rep_kernel_and_oracle(d)
    assert len(got) > 0 and got == ref


def test_repetition_kernel_twin_on_adversarial_texts(spark):
    """Hand-built shapes the counting logic can get wrong: repeated
    separators, single word, all-same, alternating bigram dups, unicode
    tokens, case folding."""

    texts = [
        "x x x x",
        "a b c d e",
        "solo",
        "a  b   a  b",          # repeated separators -> empty tokens dropped
        "A a B b A a",          # case folding collapses
        "ab cd ab cd ab",       # duplicate bigrams both directions
        "héllo wörld héllo wörld",  # non-ASCII tokens
        "z " * 200,             # long degenerate doc (trailing empty dropped)
    ]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got, ref = _rep_kernel_and_oracle(d)
    assert len(got) == len(texts) and got == ref
