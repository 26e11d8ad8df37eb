"""neardup_method_compare_bench (VERDICT r11 #7): structural invariants
of the minhash-vs-simhash comparison on the planted-pair corpus — the
measured table itself is recorded in docs/scale_notes.md."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from apache_flink_pratices_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    SIMHASH_HAMMING_MAX,
    _jaccard_from_inter,
    _simhash_candidates,
    _simhash_fingerprints_of,
    banded_candidate_pairs,
    minhash_bands_of,
    minhash_signatures_of,
    shingles_of,
)


def planted_pair_text_corpus():
    """(rows, planted): a deterministic planted-pair TEXT corpus for the
    minhash-vs-simhash method comparison (VERDICT r11 #7).

    300 background documents draw ``doc_len`` = 40 tokens
    md5-deterministically from a 200-word vocabulary (random pairs share
    essentially no 3-gram shingles). Each tier plants 10 (A, B) pairs
    where B replaces ``r`` of A's tokens at positions spaced 5 apart
    (each replacement kills ≤3 distinct shingles), so the tiers land at
    shingle-Jaccard ≈ (S-3r)/(S+3r) for S = doc_len-2: r=1→~0.85,
    r=2→~0.73, r=4→~0.52, r=6→~0.36 — two tiers comfortably above the
    0.4 verify threshold, one straddling it, one below. Exact per-pair
    Jaccard is recomputed from the shingle sets by the bench, never
    assumed."""
    import hashlib

    n_background, pairs_per_tier, doc_len, vocab_size = 300, 10, 40, 200
    tiers = (("r1", 1), ("r2", 2), ("r4", 4), ("r6", 6))

    def tok(tag: str) -> str:
        return f"w{int(hashlib.md5(tag.encode()).hexdigest()[:8], 16) % vocab_size:03d}"

    rows: list[tuple[int, str]] = []
    for d in range(n_background):
        rows.append((d, " ".join(tok(f"bg-{d}-{i}") for i in range(doc_len))))
    planted: dict[str, list[tuple[int, int]]] = {}
    for t, (tier, r) in enumerate(tiers):
        planted[tier] = []
        for p in range(pairs_per_tier):
            base = [tok(f"pl-{tier}-{p}-{i}") for i in range(doc_len)]
            partner = list(base)
            for k in range(r):
                partner[3 + 5 * k] = tok(f"rep-{tier}-{p}-{k}")
            a_id = 1_000_000 + t * 10_000 + 2 * p
            b_id = a_id + 1
            rows += [(a_id, " ".join(base)), (b_id, " ".join(partner))]
            planted[tier].append((a_id, b_id))
    return rows, planted


def neardup_method_compare_bench(spark) -> dict:
    """Measured recall/precision/pairs of `dedup_minhash_lsh` vs
    `dedup_simhash` semantics on the planted-pair corpus (VERDICT
    r11 #7) — the method choice, made measurable the way the streaming
    backend policy is.

    Both methods run their production kernels on the same frame:
    minhash = shingles → 16-hash signatures → 4×4 LSH bands →
    banded_candidate_pairs → EXACT Jaccard ≥ 0.4 verify; simhash =
    TF-weighted 64-bit fingerprints → 16-bit bands →
    banded_candidate_pairs → Hamming ≤ 3 verify. Ground truth is the
    UNCAPPED exact shingle-Jaccard join at the same 0.4 threshold
    (affordable at bench scale; never run on real corpora).

    Honest read of the table: minhash's verify IS the truth predicate,
    so its precision is 1.0 by construction and its losses are LSH
    candidate recall (1-(1-J^4)^4: ~0.95 at J=0.85, ~0.74 at 0.73,
    ~0.26 at 0.52). Simhash answers a DIFFERENT question (token-multiset
    Hamming proximity), so measuring it against Jaccard truth is exactly
    the point: its precision and tier recalls quantify how the Hamming≤3
    contract maps onto shingle Jaccard (measured round 12: much stricter
    — tier recalls 0.64/0.28/0.0 vs minhash's 1.0/0.80/0.28 at mean
    Jaccard 0.86/0.73/0.52, precision 1.0 for both)."""
    rows, planted = planted_pair_text_corpus()
    d = spark.createDataFrame(rows, "doc_id long, text string").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    d.count()

    sh = shingles_of(d).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))

    # ground truth: uncapped exact-Jaccard pair set at the shared
    # threshold, plus unthresholded values for the planted pairs
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac_col = F.col("inter").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("inter")
    )
    jac_all = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac_col.alias("jaccard"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one collect serves both: truth is the >= threshold subset
    jac_by_pair = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in jac_all.collect()
    }
    truth = {p for p, j in jac_by_pair.items() if j >= JACCARD_THRESHOLD}

    def measure(build) -> tuple[dict, set]:
        emitted = {(r["doc_a"], r["doc_b"]) for r in build().collect()}
        hit = emitted & truth
        return {
            "pairs": len(emitted),
            "recall": round(len(hit) / max(1, len(truth)), 3),
            "precision": round(len(hit) / max(1, len(emitted)), 3),
        }, emitted

    # upstream frames each method persists, unpersisted in the closing
    # cleanup so they do not outlive the measurement in a long-lived
    # session (the module-scoped test fixture)
    method_persists: list[DataFrame] = []

    def minhash_pairs() -> DataFrame:
        sigs = minhash_signatures_of(sh).persist(StorageLevel.MEMORY_AND_DISK)
        method_persists.append(sigs)
        cand = banded_candidate_pairs(minhash_bands_of(sigs)).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
        s_a = sh.select(F.col("doc_id").alias("__va"), F.col("h").alias("__ha"))
        s_b = sh.select(F.col("doc_id").alias("__vb"), F.col("h").alias("__hb"))
        it = (
            cand.join(s_a, F.col("doc_a") == F.col("__va"))
            .join(
                s_b,
                (F.col("doc_b") == F.col("__vb")) & (F.col("__ha") == F.col("__hb")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
        return _jaccard_from_inter(it, sizes).select("doc_a", "doc_b")

    def simhash_pairs() -> DataFrame:
        fp = _simhash_fingerprints_of(d).persist(StorageLevel.MEMORY_AND_DISK)
        method_persists.append(fp)
        cand = _simhash_candidates(fp)
        fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
        fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
        ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        return (
            cand.join(fa, "doc_a")
            .join(fb, "doc_b")
            .filter(ham <= SIMHASH_HAMMING_MAX)
            .select("doc_a", "doc_b")
        )

    out: dict = {"truth_pairs": len(truth)}
    emitted_by_method: dict[str, set] = {}
    for name, build in (("minhash_lsh", minhash_pairs), ("simhash", simhash_pairs)):
        out[name], emitted_by_method[name] = measure(build)

    tiers_out: dict = {}
    for tier, pls in planted.items():
        canon = [(min(p), max(p)) for p in pls]
        in_truth = [p for p in canon if p in truth]
        js = [jac_by_pair.get(p, 0.0) for p in canon]
        tiers_out[tier] = {
            "planted": len(canon),
            "mean_jaccard": round(sum(js) / len(js), 3),
            "in_truth": len(in_truth),
            **{
                f"found_{m}": sum(1 for p in canon if p in emitted_by_method[m])
                for m in emitted_by_method
            },
        }
    out["tiers"] = tiers_out
    for f in (*method_persists, jac_all, sh, d):
        f.unpersist()
    return out


@pytest.fixture(scope="module")
def cmp_result(spark):
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
