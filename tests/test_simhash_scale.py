"""Scale properties of the SimHash near-dup tier (VERDICT r2 #1).

Two claims the 100 TB design rests on:

1. **Bucket space**: 16-bit bands (65,536 buckets) must prune candidate
   pairs far harder than the old 8-bit bands (256 buckets) — the 256-bucket
   space made candidate generation quadratic (~4·N²/512 pairs) at scale.
   Measured on a synthetic corpus with realistic vocabulary breadth: the
   driver testdata draws every document from a 31-token vocabulary, which
   concentrates TF-weighted fingerprints into a handful of sign patterns no
   band width can spread (a data property — real web corpora have balanced
   fingerprint bits, which is the regime the 100 TB claim is about).
2. **Pigeonhole recall**: with 4 bands and Hamming ≤ 3, every true
   near-dup pair shares at least one exact band — candidate recall is
   100% by construction, not probabilistic. Checked on BOTH the synthetic
   corpus and the driver testdata (where correlated fingerprints make the
   Hamming-≤3 set large — a worst case for recall accounting).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.dedup import (
    SIMHASH_HAMMING_MAX,
    _simhash_candidates,
    _simhash_fingerprints,
    _simhash_fingerprints_of,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def synth_fp(spark):
    """2,000 docs × ~30 tokens from a 50k-word vocabulary, deterministic,
    with 20 planted near-dup pairs (token-order shuffles — SimHash is a
    bag-of-words fingerprint, so a reordered copy lands at Hamming 0 while
    its raw text differs; single-token edits on 30-token docs flip many
    bits because the sign-sums sit near zero at that length)."""
    rng = random.Random(20260813)
    vocab = [f"w{i:05d}" for i in range(50_000)]
    docs = []
    for i in range(2_000):
        toks = rng.sample(vocab, 30)
        docs.append((f"d{i:04d}", " ".join(toks)))
    for j in range(20):  # planted near-dups: same bag of tokens, new order
        toks = docs[j][1].split(" ")
        rng.shuffle(toks)
        docs.append((f"dup{j:02d}", " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    fp = _simhash_fingerprints_of(df).persist()
    fp.count()
    yield fp
    fp.unpersist()


def test_16bit_bands_prune_what_8bit_cannot(synth_fp):
    n = synth_fp.count()
    all_pairs = n * (n - 1) // 2  # ~2.04M

    cand16 = _simhash_candidates(synth_fp, band_bits=16).count()
    cand8 = _simhash_candidates(synth_fp, band_bits=8).count()

    # 8-bit: 8 bands × 256 buckets → expected random collisions
    # ~8·N²/512 ≈ 31k+. 16-bit: 4 bands × 65,536 → ~4·N²/131072 ≈ 62.
    assert cand8 > 20 * cand16, f"8-bit {cand8} vs 16-bit {cand16} (n={n})"
    assert cand16 < all_pairs / 1000, f"16-bit candidates {cand16} ~ all-pairs {all_pairs}"
    # and the planted near-dups are all in there (recall floor)
    assert cand16 >= 20


def test_pigeonhole_recall_synthetic(synth_fp):
    truth = _hamming_truth(synth_fp)
    cand = _simhash_candidates(synth_fp)
    missed = truth.join(cand, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0
    assert truth.count() >= 20  # the planted pairs sit within Hamming ≤ 3


def test_pigeonhole_recall_testdata(spark):
    fp = _simhash_fingerprints(spark, SF).persist()
    truth = _hamming_truth(fp)
    cand = _simhash_candidates(fp)
    missed = truth.join(cand, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0, f"{missed} true near-dup pairs missed by the band join"
    assert truth.count() > 0, "corpus has no near-dup pairs — test is vacuous"
    fp.unpersist()


def _hamming_truth(fp):
    """Brute-force all-pairs Hamming ≤ max — ground truth at test scale only."""
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        fa.crossJoin(fb)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(ham <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b")
    )


# --- adversarial hot-bucket guard (VERDICT r6 #7) ---------------------------
def test_hot_bucket_fanout_is_bounded(spark):
    """A planted pathological bucket (every doc identical ⇒ all bands
    collide) must emit ≤ B·reps pairs per band instead of O(B²), while
    every member stays connected to the bucket's pair graph (so
    dedup-clustering semantics survive the cap)."""
    from apache_flink_pratices_spark.operators.dedup import (
        banded_candidate_pairs,
    )

    B, CAP, REPS = 120, 16, 4
    bands = spark.createDataFrame(
        [(i, 0, 42) for i in range(B)], "doc_id long, band int, bucket long"
    )
    pairs = banded_candidate_pairs(bands, cap=CAP, n_reps=REPS).collect()
    assert len(pairs) <= B * REPS, len(pairs)
    assert len(pairs) >= B - REPS  # every member reaches a representative
    touched = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert touched == set(range(B))
    assert all(r.id_a < r.id_b for r in pairs)
    # connectivity: union-find over the capped pairs keeps ONE component
    parent = list(range(B))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r.id_a)] = find(r.id_b)
    assert len({find(i) for i in range(B)}) == 1


def test_below_cap_pairs_identical_to_plain_self_join(spark):
    """The guard must be a no-op on normal buckets: with every bucket at
    or below the cap, the kernel's pair set equals the unguarded
    self-join's — the invariant that keeps the uncapped DuckDB oracles
    value-hash-green."""
    import itertools
    import random

    from apache_flink_pratices_spark.operators.dedup import (
        banded_candidate_pairs,
    )

    rng = random.Random(7)
    rows = [
        (i, b, rng.randrange(6))  # ~10 docs per (band, bucket): under cap
        for i in range(120)
        for b in range(2)
    ]
    bands = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    got = {
        (r.id_a, r.id_b)
        for r in banded_candidate_pairs(bands, cap=64, n_reps=2).collect()
    }
    by_bucket: dict[tuple, list] = {}
    for i, b, bk in rows:
        by_bucket.setdefault((b, bk), []).append(i)
    want = {
        (min(x, y), max(x, y))
        for members in by_bucket.values()
        for x, y in itertools.combinations(members, 2)
    }
    assert got == want


def test_planted_hot_bucket_through_simhash_pipeline(spark):
    """End to end: 300 identical boilerplate docs (all four bands
    collide) + distinct docs, with a small cap — candidate volume must be
    bounded by 4·B·reps + normal pairs, and the boilerplate block must
    stay one connected component."""
    from apache_flink_pratices_spark.operators.dedup import (
        _simhash_candidates,
        _simhash_fingerprints_of,
    )

    docs = [(f"b{i:03d}", "the same boilerplate text repeated here")
            for i in range(300)]
    docs += [(f"u{i:03d}", f"unique document number {i} with words w{i} x{i * 7} y{i * 13}")
             for i in range(50)]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    fp = _simhash_fingerprints_of(df)
    cand = _simhash_candidates(fp, cap=32, n_reps=4).collect()
    boiler = [r for r in cand if r.doc_a.startswith("b") and r.doc_b.startswith("b")]
    # plain self-join would emit 300*299/2 = 44,850 boilerplate pairs;
    # the guard bounds them to ≤ 4 bands · B · reps (dedup'd below that)
    assert 0 < len(boiler) <= 4 * 300 * 4, len(boiler)
    ids = sorted({r.doc_a for r in boiler} | {r.doc_b for r in boiler})
    assert len(ids) == 300  # every boilerplate doc participates


def test_cluster_offsets_honours_n():
    from apache_flink_pratices_spark.operators.similarity import (
        CLU_N,
        DIM,
        cluster_offsets,
    )

    three = cluster_offsets(n=3)
    assert len(three) == 3 and all(len(row) == DIM for row in three)
    assert len(cluster_offsets()) == CLU_N
    assert cluster_offsets()[:3] == three  # prefix-stable derivation


def test_hot_bucket_guard_bench_contract(spark):
    """The guard measurement (VERDICT r7 #4) must actually exercise the
    above-cap branch: the planted boilerplate block exceeds the
    production cap, the reported pair count stays far below the
    all-pairs fan-out, and the dict carries its pinned keys."""
    from apache_flink_pratices_spark.operators.dedup import (
        HOT_BUCKET_CAP,
        hot_bucket_guard_bench,
    )
    from tests.conftest import SF_SMOKE

    out = hot_bucket_guard_bench(spark, SF_SMOKE)
    assert set(out) == {
        "pairs", "wall_s", "n_boiler", "unguarded_boiler_pairs", "guard_bound_pairs",
    }
    assert out["n_boiler"] == HOT_BUCKET_CAP + 200
    assert out["wall_s"] > 0
    # the guarded total (boiler + normal-corpus pairs) must stay under the
    # unguarded boilerplate fan-out alone — the point of the guard
    assert 0 < out["pairs"] < out["unguarded_boiler_pairs"]
    assert out["guard_bound_pairs"] < out["unguarded_boiler_pairs"]


def test_vectorized_fingerprints_match_expression_twin(spark):
    """The round-8 vectorized fingerprint kernel must be BIT-EQUAL to the
    retained expression twin (the derivation the DuckDB oracles mirror) —
    including negative md5 hashes, where numpy's floor-mod `%` would
    diverge from Spark/DuckDB's truncated `%` (the kernel uses np.fmod),
    and string doc_ids (planted corpora)."""
    from apache_flink_pratices_spark.io import load
    from apache_flink_pratices_spark.operators.dedup import (
        _simhash_fingerprints_expr_of,
        _simhash_fingerprints_of,
    )

    d = load(spark, "/root/testdata/sf0.001", "documents")
    vec = {r.doc_id: r.fp for r in _simhash_fingerprints_of(d).collect()}
    exp = {r.doc_id: r.fp for r in _simhash_fingerprints_expr_of(d).collect()}
    assert vec == exp and len(vec) == 500

    docs = [(f"b{i:03d}", "the same boilerplate text repeated here")
            for i in range(30)]
    docs += [(f"u{i}", f"unique doc {i} w{i} x{i * 7} y{i * 13}")
             for i in range(20)]
    # a NULL doc_id must fingerprint like any other group (Spark groupBy
    # keeps the null key; pandas would drop it without dropna=False)
    docs += [(None, "null id document text")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    vec = {r.doc_id: r.fp for r in _simhash_fingerprints_of(df).collect()}
    exp = {r.doc_id: r.fp for r in _simhash_fingerprints_expr_of(df).collect()}
    assert vec == exp and len(vec) == 51 and None in vec


def test_vectorized_fingerprints_huge_long_ids_with_nulls(spark):
    """Adversarial id-precision guard (VERDICT r8 #4 / ADVICE r8): a
    nullable LONG doc_id batch that contains an actual null reaches a
    pandas kernel as float64, so ids past 2^53 would silently collapse
    onto even neighbours (2^53 and 2^53+1 are the same float64). The
    kernel routes non-string ids through a lossless string round-trip;
    this pins bit-equality with the JVM expression twin on exactly the
    corrupting corpus: adjacent ids straddling 2^53, int64 extremes, and
    a null id in the same batch — and that every id survives verbatim."""
    from apache_flink_pratices_spark.operators.dedup import (
        _simhash_fingerprints_expr_of,
        _simhash_fingerprints_of,
    )

    big = 1 << 53
    ids = [big, big + 1, big + 2, big + 3, (1 << 63) - 1, -(1 << 63),
           -(big + 1), 7, None]
    docs = [(i, f"doc text body w{k} x{k * 3} shared tail tokens")
            for k, i in enumerate(ids)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = _simhash_fingerprints_of(df)
    assert out.schema["doc_id"].dataType.simpleString() == "bigint"
    vec = {r.doc_id: r.fp for r in out.collect()}
    exp = {r.doc_id: r.fp for r in _simhash_fingerprints_expr_of(df).collect()}
    assert set(vec) == set(ids)  # every id verbatim — no float64 collapse
    assert vec == exp and len(vec) == len(ids) and None in vec


def test_simhash_kernel_keys_exact_ids_without_pandas_deprecation():
    """The Arrow kernel groups rows by doc_id through ``pd.factorize``:
    ints past 2^53, strings and the null group must come back verbatim,
    each id's rows summed into one fingerprint, and no pandas
    FutureWarning raised (factorizing a plain list is deprecated)."""
    import warnings

    import pyarrow as pa

    from apache_flink_pratices_spark.operators.dedup import _simhash_kernel

    def run(ids, typ, hms):
        batch = pa.record_batch(
            [pa.array(ids, typ), pa.array(hms, pa.int64()),
             pa.array([1] * len(ids), pa.int64())],
            names=["doc_id", "hm", "cnt"],
        )
        with warnings.catch_warnings():
            warnings.simplefilter("error", FutureWarning)
            (out,) = list(_simhash_kernel()([batch]))
        assert out.schema.field("doc_id").type == typ
        return dict(zip(out.column("doc_id").to_pylist(),
                        out.column("fp").to_pylist()))

    big = 1 << 53
    for ids, typ in (
        ([big, big + 1, None, big, -(1 << 63), None], pa.int64()),
        (["a", None, "b", "a"], pa.string()),
    ):
        hms = [(k + 1) * -0x9E3779B97F4A7C15 % (1 << 63) for k in range(len(ids))]
        got = run(ids, typ, hms)
        assert set(got) == set(ids)
        for i in set(ids):  # one id alone fingerprints like its group
            rows = [k for k, x in enumerate(ids) if x == i]
            assert run([i] * len(rows), typ, [hms[k] for k in rows]) == {
                i: got[i]
            }


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        cap=st.integers(min_value=4, max_value=24),
        n_reps=st.integers(min_value=1, max_value=4),
    )
    def test_banded_pairs_property(spark, seed, cap, n_reps):
        """Property form of the fixed-case guard tests: for ARBITRARY
        bucket-size distributions straddling the cap, (a) below-cap
        buckets contribute exactly their all-pairs sets, (b) every
        above-cap bucket's fan-out is bounded by B·reps and stays one
        connected component, (c) no pair crosses buckets."""
        import itertools
        import random

        from apache_flink_pratices_spark.operators.dedup import (
            banded_candidate_pairs,
        )

        rng = random.Random(seed)
        rows, next_id = [], 0
        sizes = {}
        for b in range(2):
            for bk in range(rng.randint(1, 4)):
                # mix of tiny, at-cap, and pathological bucket sizes
                size = rng.choice([1, 2, cap, cap + 1, 3 * cap + rng.randint(0, 9)])
                sizes[(b, bk)] = list(range(next_id, next_id + size))
                rows += [(i, b, bk) for i in sizes[(b, bk)]]
                next_id += size
        bands = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
        got = {
            (r.id_a, r.id_b)
            for r in banded_candidate_pairs(bands, cap=cap, n_reps=n_reps).collect()
        }
        want_below = set()
        for (b, bk), members in sizes.items():
            pairs_in_bucket = {
                p for p in got
                if p[0] in set(members) and p[1] in set(members)
            }
            if len(members) <= cap:
                exact = {
                    (min(x, y), max(x, y))
                    for x, y in itertools.combinations(members, 2)
                }
                want_below |= exact
                assert exact <= got, (b, bk, len(members))
            else:
                assert 0 < len(pairs_in_bucket) <= len(members) * n_reps
                touched = {x for p in pairs_in_bucket for x in p}
                assert touched == set(members)
                # connectivity via union-find
                parent = {i: i for i in members}

                def find(x):
                    while parent[x] != x:
                        parent[x] = parent[parent[x]]
                        x = parent[x]
                    return x

                for a, bb in pairs_in_bucket:
                    parent[find(a)] = find(bb)
                assert len({find(i) for i in members}) == 1
        # ids are globally unique per bucket here, so every emitted pair
        # must come from exactly one bucket's member set
        all_bucket_pairs = set()
        for members in sizes.values():
            ms = set(members)
            all_bucket_pairs |= {p for p in got if p[0] in ms and p[1] in ms}
        assert got == all_bucket_pairs

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        n_nodes=st.integers(min_value=2, max_value=24),
        n_edges=st.integers(min_value=1, max_value=60),
        cap=st.integers(min_value=1, max_value=8),
    )
    def test_wedge_rescue_property(spark, seed, n_nodes, n_edges, cap):
        """Property form of the wedge-rescue guard: on an ARBITRARY
        verified graph, the kernel's output must equal the brute-force
        2-hop closure through pivots of degree ≤ cap — no pair invented,
        no pair missed, hubs contributing nothing."""
        import itertools
        import random

        from apache_flink_pratices_spark.operators.dedup import (
            wedge_rescue_pairs,
        )

        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(n_nodes)]
        edges = set()
        for _ in range(n_edges):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
        v = spark.createDataFrame(
            sorted(edges), "doc_a string, doc_b string"
        )
        got = {
            (r.doc_a, r.doc_b)
            for r in wedge_rescue_pairs(v, deg_cap=cap).collect()
        }
        adj: dict[str, set] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = set()
        for p, nbrs in adj.items():
            if len(nbrs) <= cap:
                for x, y in itertools.combinations(sorted(nbrs), 2):
                    want.add((x, y))
        assert got == want

except ImportError:  # hypothesis is baked in; belt+braces
    pass


def test_wedge_rescue_low_degree_pivot_closes_high_degree_skips(spark):
    """The 2-hop rescue (VERDICT r8 #3) must close wedges ONLY through
    pivots at or below the degree cap: a hub (a boilerplate block's
    representative) re-creating the quadratic blowup is exactly what the
    hot-bucket cap exists to prevent, so the rescue skips it."""
    from apache_flink_pratices_spark.operators.dedup import wedge_rescue_pairs

    # star around hub "h" (degree 5) + a cherry around pivot "p" (degree 2)
    edges = [("h", f"s{i}") for i in range(5)] + [("p", "x"), ("p", "y")]
    v = spark.createDataFrame(edges, "doc_a string, doc_b string")
    got = {
        (r.doc_a, r.doc_b)
        for r in wedge_rescue_pairs(v, deg_cap=2).collect()
    }
    # only the cherry closes; every pair is canonical (a < b) and distinct
    assert got == {("x", "y")}
    full = {
        (r.doc_a, r.doc_b)
        for r in wedge_rescue_pairs(v, deg_cap=5).collect()
    }
    import itertools

    assert full == {("x", "y")} | {
        tuple(sorted(p)) for p in itertools.combinations([f"s{i}" for i in range(5)], 2)
    }
    assert all(a < b for a, b in full)


def test_hot_bucket_recall_classes(spark):
    """Measured verified-pair recall above the cap (VERDICT r8 #3) — pins
    the class expectations the guard's trade-off documentation makes:

    - in-mass pairs: component recall 1.0 (representative star keeps the
      block connected) while direct pairs stay representative-bounded;
    - control pairs: 1.0 — a pair sharing ANY private below-cap band is
      found by the normal join (pigeonhole), which is what bounds the
      fringe loss in real corpora;
    - fringe / orphan pairs: 0.0 — the honest irreducible loss (members
      ≥ 4 bits from every representative, agreeing only on hot bands);
    - wedge pairs: 0.0 direct but 1.0 AFTER the 2-hop rescue — the
      near-threshold case the rescue ships for."""
    from apache_flink_pratices_spark.operators.dedup import (
        hot_bucket_recall_bench,
    )

    r = hot_bucket_recall_bench(spark)
    m, h = r["mass"], r["het"]
    assert m["in_mass"] == {"direct": 0.0, "component": 1.0, "rescued": 0.0}
    assert m["control"]["direct"] == 1.0
    assert m["fringe"] == {"direct": 0.0, "component": 0.0, "rescued": 0.0}
    assert h["wedge"] == {"direct": 0.0, "component": 1.0, "rescued": 1.0}
    assert h["orphan"] == {"direct": 0.0, "component": 0.0, "rescued": 0.0}


def test_build_candidate_pairs_rescue_branch_dedups(tmp_path, spark, monkeypatch):
    """Above the cap, _build_candidate_pairs unions the wedge-rescued
    pairs in; the union must stay duplicate-free with consistent hamming
    (the artifact consumers join on (doc_a, doc_b) expecting unique keys)."""
    from pyspark.sql import functions as F

    from apache_flink_pratices_spark.operators import dedup as dd

    # an above-cap corpus at text level: identical boilerplate block past
    # the (monkeypatched, small) cap plus a few unique docs
    monkeypatch.setattr(dd, "HOT_BUCKET_CAP", 32)
    docs = [(i, "the same boilerplate footer text on every page") for i in range(40)]
    docs += [(100 + i, f"unique doc {i} alpha{i} beta{i * 3} gamma{i * 7}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out_dir = str(tmp_path / "corpus")
    df.coalesce(1).write.parquet(out_dir)
    import glob
    import os
    import shutil

    part = glob.glob(os.path.join(out_dir, "part-*.parquet"))[0]
    shutil.move(part, str(tmp_path / "documents.parquet"))

    pairs, fp = dd._build_candidate_pairs(spark, str(tmp_path))
    rows = pairs.collect()
    keys = [(r.doc_a, r.doc_b) for r in rows]
    assert len(keys) == len(set(keys))  # no duplicate (a, b)
    assert all(a < b for a, b in keys)
    # hamming column must equal the recomputed bit_count for every row
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"))
    bad = (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .filter(
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
            != F.col("hamming")
        )
        .count()
    )
    assert bad == 0
    # the boilerplate block (identical fingerprints) stays fully connected
    # in the verified graph: every member reaches doc 0 via representatives
    ver = [
        (r.doc_a, r.doc_b) for r in rows if r.hamming <= dd.SIMHASH_HAMMING_MAX
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in ver:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(40)}) == 1
    fp.unpersist()
