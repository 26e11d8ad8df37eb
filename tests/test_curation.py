"""Unit tests for the corpus-curation operators (operators/curation.py).

Oracle parity at sf0.001 is covered by test_oracle_parity; these pin the
algorithmic invariants on controlled inputs — the graph kernel on known
topologies, packing arithmetic, sampling determinism and stratum rates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_flink_pratices_spark.operators.curation import (
    CC_MAX_ROUNDS,
    EVAL_MOD,
    PACK_BUDGET,
    PACK_DOCS_PER_SHARD,
    SAMPLE_RATES_BP,
    connected_components,
    contamination_ngrams,
    dedup_clusters,
    doc_packing,
    doc_packing_frame,
    stratified_sample,
)

from tests.conftest import SF_SMOKE


def _cc(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs], "src long, dst long"
    )
    rows = connected_components(nodes, edges).collect()
    return {r["id"]: r["label"] for r in rows}


def test_cc_chain_triangle_singleton(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, singleton 99
    labels = _cc(
        spark,
        [1, 2, 3, 4, 10, 11, 12, 99],
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
    )
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_cc_propagates_against_edge_direction(spark):
    # min id at the "sink" end: propagation must flow both ways
    labels = _cc(spark, [5, 6, 1], [(5, 6), (6, 1)])
    assert labels == {5: 1, 6: 1, 1: 1}


def test_cc_two_merging_chains(spark):
    # two chains meeting at a hub — worst diameter the corpus graph can
    # reasonably show; must converge well inside CC_MAX_ROUNDS
    edges = [(1, 2), (2, 3), (3, 7), (4, 5), (5, 6), (6, 7)]
    labels = _cc(spark, [1, 2, 3, 4, 5, 6, 7], edges)
    assert set(labels.values()) == {1}
    assert CC_MAX_ROUNDS >= 8


def test_dedup_clusters_covers_every_doc_once(spark):
    out = dedup_clusters(spark, SF_SMOKE).collect()
    docs = [r["doc_id"] for r in out]
    assert len(docs) == len(set(docs))  # one row per document
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        # cluster id is the min member, which is the single canonical row
        assert cid == min(m["doc_id"] for m in members)
        assert sum(m["is_canonical"] for m in members) == 1
        assert all(m["cluster_size"] == len(members) for m in members)


def test_cluster_label_artifact_matches_live_cc(spark, tmp_path, monkeypatch):
    """The write-once label artifact (round 12) must be bit-equal to a
    live connected_components run over the verified pair artifact, and a
    second call must SERVE the artifact, not rebuild it."""
    from pyspark.sql import functions as F

    from apache_flink_pratices_spark.io import load
    from apache_flink_pratices_spark.operators import curation
    from apache_flink_pratices_spark.operators.dedup import (
        simhash_verified_pairs,
    )

    # isolated artifact base so this test always exercises a FRESH build
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    art = {
        r["doc_id"]: r["cluster_id"]
        for r in curation.neardup_cluster_labels(spark, SF_SMOKE).collect()
    }
    pairs = simhash_verified_pairs(spark, SF_SMOKE)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    nodes = load(spark, SF_SMOKE, "documents").select(F.col("doc_id").alias("id"))
    live = {
        r["id"]: r["label"]
        for r in curation.connected_components(nodes, edges).collect()
    }
    assert art == live and art

    # second call must read the artifact: a rebuild would call
    # connected_components again
    calls = []
    real_cc = curation.connected_components
    monkeypatch.setattr(
        curation,
        "connected_components",
        lambda *a, **k: calls.append(1) or real_cc(*a, **k),
    )
    again = {
        r["doc_id"]: r["cluster_id"]
        for r in curation.neardup_cluster_labels(spark, SF_SMOKE).collect()
    }
    assert again == art
    assert calls == []


def test_contamination_excludes_eval_docs(spark):
    out = contamination_ngrams(spark, SF_SMOKE).collect()
    assert all(r["doc_id"] % EVAL_MOD != 0 for r in out)
    for r in out:
        assert 0 < r["n_shared"] <= r["n_shingles"]
        assert r["contamination_ratio"] == pytest.approx(r["n_shared"] / r["n_shingles"])


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    a = stratified_sample(spark, SF_SMOKE)
    b = stratified_sample(spark, SF_SMOKE)
    ra = sorted(r["event_id"] for r in a.collect())
    rb = sorted(r["event_id"] for r in b.collect())
    assert ra == rb  # hash-gated: identical across runs

    totals = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept = {
        r["event_type"]: r["n"]
        for r in a.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert kept.get("error", 0) == totals["error"]  # 100% stratum keeps all
    for etype, bp in SAMPLE_RATES_BP.items():
        if bp < 10000 and totals.get(etype, 0) >= 100:
            frac = kept.get(etype, 0) / totals[etype]
            assert abs(frac - bp / 10000) < 0.15, (etype, frac, bp)


def test_doc_packing_bins_are_contiguous_and_budgeted(spark):
    import math

    rows = doc_packing(spark, SF_SMOKE).collect()
    n_shards = max(1, math.ceil(len(rows) / PACK_DOCS_PER_SHARD))
    by_shard: dict[int, list] = {}
    for r in rows:
        assert r["shard"] == r["doc_id"] % n_shards
        by_shard.setdefault(r["shard"], []).append(r)
    for members in by_shard.values():
        members.sort(key=lambda r: r["doc_id"])
        prefix = 0
        for r in members:
            assert r["prefix_tokens"] == prefix
            assert r["bin"] == prefix // PACK_BUDGET
            prefix += r["n_tokens"]
        bins = [r["bin"] for r in members]
        assert bins == sorted(bins)  # bins fill in doc order, never reopen


@pytest.mark.parametrize("shards", [4, 32])
def test_doc_packing_oracle_green_at_fixed_shard_counts(spark, shards):
    """VERDICT r3 #4 done-criterion: the parameterized packing matches its
    DuckDB twin at two different shard counts (the registered query uses
    the input-scaled count; this pins the shared parameterization)."""
    import duckdb

    from apache_flink_pratices_spark.io import load, table_path
    from apache_flink_pratices_spark.operators.curation import _pack_oracle

    d = load(spark, SF_SMOKE, "documents").filter(F.length("text") > 0)
    got = sorted(
        (r["doc_id"], r["shard"], r["n_tokens"], r["prefix_tokens"], r["bin"])
        for r in doc_packing_frame(d, shards=shards).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{table_path(SF_SMOKE, 'documents')}')"
    )
    want = sorted(tuple(r) for r in con.execute(_pack_oracle(str(shards))).fetchall())
    con.close()
    assert got == want


def test_split_assign_is_stable_under_corpus_growth(spark):
    """Hash-based split: a document's assignment must not depend on what
    else is in the corpus (random-split would fail this)."""
    from apache_flink_pratices_spark.operators.curation import (
        corpus_split_assign,
    )

    full = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in corpus_split_assign(spark, SF_SMOKE).collect()
    }
    # recompute on a "smaller corpus" by filtering inside the same query
    from apache_flink_pratices_spark.io import load
    from pyspark.sql import functions as F

    sub_ids = {r["doc_id"] for r in
               load(spark, SF_SMOKE, "documents").filter(F.col("doc_id") % 2 == 0)
               .select("doc_id").collect()}
    sub = {k: v for k, v in full.items() if k in sub_ids}
    assert all(full[k] == sub[k] for k in sub)


def test_split_assign_zero_shuffles(spark):
    from apache_flink_pratices_spark.operators.curation import (
        corpus_split_assign,
    )
    from apache_flink_pratices_spark.plans.explain import (
        exchange_count,
        formatted_plan,
    )

    assert exchange_count(formatted_plan(corpus_split_assign(spark, SF_SMOKE))) == 0


def test_cdc_compaction_partial_agg_no_sort(spark):
    """Latest-state must come from a hash aggregate with map-side partial
    combine (partial_max_by before the exchange), never a per-key sort
    window — the sort formulation rewrites 100 TB of changelog through
    a full sort per key group."""
    from apache_flink_pratices_spark.operators.curation import cdc_upsert_compaction
    from apache_flink_pratices_spark.plans.explain import formatted_plan

    from apache_flink_pratices_spark.plans.explain import exchange_count

    plan = formatted_plan(cdc_upsert_compaction(spark, SF_SMOKE))
    assert "Window" not in plan, plan
    # partial_max_by below the exchange = map-side combine: each input
    # partition sends at most one candidate row per key into the single
    # shuffle (max_by's struct buffer forces SortAggregate — fine; the
    # bounded shuffle is the claim, not the agg implementation)
    assert "partial_max_by" in plan, plan
    assert exchange_count(plan) == 1, plan


def test_cdc_compaction_tombstone_and_tiebreak(spark, tmp_path):
    """A key whose latest row is a tombstone disappears; equal-ts rows
    resolve by event_id."""
    import datetime as dt

    from apache_flink_pratices_spark.operators.curation import cdc_upsert_compaction

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # key 1: upsert then tombstone -> gone
        (1, t0, "click", 1.0, 10),
        (1, t0 + dt.timedelta(seconds=1), "error", 0.0, 11),
        # key 2: tombstone then upsert -> survives with the later value
        (2, t0, "error", 0.0, 20),
        (2, t0 + dt.timedelta(seconds=1), "view", 2.5, 21),
        # key 3: equal ts, higher event_id wins
        (3, t0, "click", 1.0, 30),
        (3, t0, "purchase", 9.0, 31),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double, event_id long"
    )
    path = str(tmp_path / "events.parquet")
    df.write.parquet(path)
    # point the loader at a dir shaped like the testdata layout
    import os

    os.rename(path, str(tmp_path / "events.parquet.tmp"))
    os.rename(str(tmp_path / "events.parquet.tmp"), str(tmp_path / "events.parquet"))
    out = {
        r.user_id: (r.last_event_type, r.last_value)
        for r in cdc_upsert_compaction(spark, str(tmp_path)).collect()
    }
    assert out == {2: ("view", 2.5), 3: ("purchase", 9.0)}


def test_global_dense_ids_no_global_sort_and_dense(spark):
    """The data path must shuffle by bucket (hash), never range-partition
    or single-partition the corpus for a global sort; output ids are the
    dense permutation 0..N-1 in doc_id order."""
    from apache_flink_pratices_spark.operators.curation import global_dense_ids
    from apache_flink_pratices_spark.plans.explain import formatted_plan

    df = global_dense_ids(spark, SF_SMOKE)
    plan = formatted_plan(df)
    # the only SinglePartition exchange allowed is the DENSE_ID_BUCKETS-row
    # offsets table; the corpus-side exchange must be hash-by-bucket
    assert "hashpartitioning(b" in plan, plan
    assert "rangepartitioning" not in plan, plan
    rows = sorted((r["doc_id"], r["global_id"]) for r in df.collect())
    ids = [g for _, g in rows]
    assert ids == list(range(len(rows)))  # dense, monotone in doc_id


def _uf(node_ids, edge_pairs):
    parent = {n: n for n in node_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id canonical labels
    return {n: min(m for m in node_ids if find(m) == find(n)) for n in node_ids}


def _star(spark, node_ids, edge_pairs):
    from apache_flink_pratices_spark.operators.curation import (
        connected_components_star,
    )

    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs], "src long, dst long"
    )
    rows = connected_components_star(nodes, edges).collect()
    return {r["id"]: r["label"] for r in rows}


def test_star_cc_adversarial_topologies(spark):
    """The alternating star kernel must match a union-find reference on
    the topologies that stress it: a long chain (depth), a star whose
    CENTER is the max id (every leaf must route around it), two cliques
    joined by one bridge, and a singleton."""
    import random

    chain = [(i, i + 1) for i in range(100, 160)]
    star = [(999, leaf) for leaf in range(200, 230)]
    cliq1 = [(a, b) for a in range(300, 306) for b in range(a + 1, 306)]
    cliq2 = [(a, b) for a in range(400, 406) for b in range(a + 1, 406)]
    bridge = [(305, 400)]
    edges = chain + star + cliq1 + cliq2 + bridge
    nodes = sorted({x for e in edges for x in e} | {777})
    got = _star(spark, nodes, edges)
    assert got == _uf(nodes, edges)


def test_star_cc_matches_pointer_jumping_on_random_graph(spark):
    """Both kernels are exact: they must agree with each other (and the
    union-find reference) on a seeded random graph."""
    import random

    rng = random.Random(7)
    nodes = list(range(1, 120))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(140)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = _uf(nodes, edges)
    assert _star(spark, nodes, edges) == want
    assert _cc(spark, nodes, edges) == want


def test_global_dense_ids_pathological_id_distribution(spark, tmp_path):
    """Clustered ids with huge gaps put almost everything in few range
    buckets — ordinals must still be the exact dense permutation."""
    ids = (
        list(range(1, 40))
        + list(range(10_000_000, 10_000_030))
        + [2**40, 2**40 + 7]
    )
    import random

    rng = random.Random(3)
    shuffled = ids[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame([(i,) for i in shuffled], "doc_id long")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    from apache_flink_pratices_spark.operators.curation import global_dense_ids

    rows = sorted(
        (r["doc_id"], r["global_id"])
        for r in global_dense_ids(spark, str(tmp_path)).collect()
    )
    assert [g for _, g in rows] == list(range(len(ids)))
    assert [d for d, _ in rows] == sorted(ids)


def test_cdc_compaction_matches_python_model(spark, tmp_path):
    """Randomized changelogs: the operator must agree with a direct
    python latest-state model (ordering by (ts, event_id), 'error'
    tombstones)."""
    import datetime as dt
    import random

    rng = random.Random(11)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for eid in range(300):
        uid = rng.randrange(12)
        ts = t0 + dt.timedelta(seconds=rng.randrange(50))
        etype = rng.choice(["click", "view", "error", "purchase"])
        rows.append((uid, ts, etype, float(rng.randrange(100)), eid))
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double, event_id long"
    ).write.parquet(str(tmp_path / "events.parquet"))

    latest = {}
    for uid, ts, etype, val, eid in rows:
        k = (ts, eid)
        if uid not in latest or k > latest[uid][0]:
            latest[uid] = (k, etype, val, ts)
    want = {
        uid: (ts, etype, val)
        for uid, (_, etype, val, ts) in latest.items()
        if etype != "error"
    }
    from apache_flink_pratices_spark.operators.curation import cdc_upsert_compaction

    got = {
        r["user_id"]: (r["last_ts"], r["last_event_type"], r["last_value"])
        for r in cdc_upsert_compaction(spark, str(tmp_path)).collect()
    }
    assert got == want


def test_dedup_keep_best_policy(spark, tmp_path):
    """Keeper = longest n_chars, doc_id tiebreak (the corpus has no exact
    dups, so the policy branch needs a synthetic group)."""
    rows = [
        (1, "same text", "en", "s0", 50),
        (2, "same text", "en", "s0", 90),   # winner: longest
        (3, "same text", "en", "s0", 90),   # same length, higher id loses
        (4, "other", "en", "s0", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    from apache_flink_pratices_spark.operators.dedup import dedup_keep_best

    got = {
        r["keep_doc_id"]: (r["n_copies"], r["kept_n_chars"])
        for r in dedup_keep_best(spark, str(tmp_path)).collect()
    }
    assert got == {2: (3, 90), 4: (1, 10)}


def test_star_cc_round_count_logarithmic_on_long_chain(spark):
    """A 256-node chain (diameter 255) must converge in O(log n) star
    rounds — the property that separates this kernel from naive
    propagation (255 rounds) at adversarial diameters."""
    from apache_flink_pratices_spark.operators.curation import (
        connected_components_star,
    )

    n = 256
    labels = _star(spark, list(range(n)), [(i, i + 1) for i in range(n - 1)])
    assert set(labels.values()) == {0}
    assert connected_components_star.last_rounds <= 12, (
        connected_components_star.last_rounds
    )


def test_negative_sampling_cross_source_and_deterministic(spark):
    """Every sampled negative comes from a different source than its
    anchor, anchors are exactly the doc_id % 10 == 0 set (minus probes
    whose bucket held no cross-source candidate), and two runs produce
    identical pairs (replay idempotence — the property random sampling
    breaks)."""
    from apache_flink_pratices_spark.operators.curation import (
        NEG_ANCHOR_MOD,
        NEG_PER_ANCHOR,
        negative_sampling_pairs,
    )
    from apache_flink_pratices_spark.io import load

    SF = "/root/testdata/sf0.001"
    pairs = sorted(
        (r.anchor_id, r.j, r.neg_id)
        for r in negative_sampling_pairs(spark, SF).collect()
    )
    again = sorted(
        (r.anchor_id, r.j, r.neg_id)
        for r in negative_sampling_pairs(spark, SF).collect()
    )
    assert pairs == again
    src = {
        r.doc_id: r.source
        for r in load(spark, SF, "documents").select("doc_id", "source").collect()
    }
    for a, j, n in pairs:
        assert a % NEG_ANCHOR_MOD == 0 and 1 <= j <= NEG_PER_ANCHOR
        assert src[a] != src[n] and a != n


def test_scd2_intervals_tile_and_single_current(spark):
    """Per user: versions are 1..n contiguous, intervals tile exactly
    (valid_to of version k == valid_from of k+1), and exactly ONE open
    (is_current) row exists — the SCD2 invariants a point-in-time join
    relies on."""
    from apache_flink_pratices_spark.operators.curation import scd2_history

    rows = scd2_history(spark, "/root/testdata/sf0.001").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1))
        assert sum(r.is_current for r in vs) == 1 and vs[-1].is_current == 1
        assert vs[-1].valid_to is None
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to == b.valid_from, (uid, a.version)


def test_quality_temperature_sample_gate_quality_and_plan(spark):
    """Temperature sampling is (a) deterministic, (b) exactly the
    hash-vs-q_bp^2 gate — pinned by an INDEPENDENT plain-Python recompute
    of quality and gate from the raw corpus, not the mirrored SQL — and
    (c) map-only: zero exchanges in the physical plan."""
    import hashlib

    from apache_flink_pratices_spark.operators.curation import (
        QTS_SEED,
        QTS_WORD_NORM,
        quality_temperature_sample,
    )
    from apache_flink_pratices_spark.operators.text import STOPWORDS
    from apache_flink_pratices_spark.plans.explain import (
        exchange_count,
        formatted_plan,
    )

    a = quality_temperature_sample(spark, SF_SMOKE)
    kept = {r["doc_id"]: r for r in a.collect()}
    again = sorted(r["doc_id"] for r in quality_temperature_sample(spark, SF_SMOKE).collect())
    assert sorted(kept) == again  # hash-gated: identical across runs

    def gate(doc_id: int) -> int:
        h = hashlib.md5(f"{QTS_SEED}|qts|{doc_id}".encode()).hexdigest()
        return int(h[:14], 16) % 10000

    expected = {}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    for d in docs:
        ws = d["text"].lower().split(" ")
        n_words, n_stop = len(ws), sum(w in STOPWORDS for w in ws)
        if n_words == 0:
            continue
        q_bp = (
            min(10000, n_words * 10000 // QTS_WORD_NORM)
            * (n_words - n_stop)
            // n_words
        )
        if gate(d["doc_id"]) * 10000 < q_bp * q_bp:
            expected[d["doc_id"]] = q_bp
    assert {k: r["q_bp"] for k, r in kept.items()} == expected
    for r in kept.values():
        assert r["accept_bp"] == r["q_bp"] * r["q_bp"] // 10000

    assert exchange_count(formatted_plan(a)) == 0  # map-only, no shuffle


def test_bloom_no_false_negatives_and_fpr_bounded():
    """The bloom contract the operator's exactness rests on: every
    inserted hash tests positive (no false negatives — same position
    function on both sides), and the false-positive rate at realistic
    fill stays far below the exact-verify stage's capacity."""
    import numpy as np

    from apache_flink_pratices_spark.operators.curation import (
        BLOOM_M,
        _bloom_positions,
    )

    rng = np.random.default_rng(7)
    members = rng.integers(0, 1 << 56, size=200_000, dtype=np.int64)
    others = rng.integers(0, 1 << 56, size=200_000, dtype=np.int64)
    others = others[~np.isin(others, members)]

    words = np.zeros(BLOOM_M // 64, dtype=np.uint64)
    for p in _bloom_positions(members):
        np.bitwise_or.at(
            words,
            (p >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (p & np.uint64(63)),
        )

    def test(h):
        hit = np.ones(len(h), dtype=bool)
        for p in _bloom_positions(h):
            hit &= (
                (words[(p >> np.uint64(6)).astype(np.int64)]
                 >> (p & np.uint64(63)))
                & np.uint64(1)
            ).astype(bool)
        return hit

    assert test(members).all()  # no false negatives, ever
    fpr = test(others).mean()
    assert fpr < 0.01, fpr  # 200k keys in 2^22 bits, k=4


def test_decontaminate_bloom_partitions_train_with_contamination(spark):
    """clean (decontaminate_bloom) and dirty (contamination_ngrams'
    doc_ids) must exactly partition the train docs that HAVE shingles;
    shingle-less train docs are clean with n_shingles = 0."""
    from apache_flink_pratices_spark.operators.curation import (
        EVAL_MOD,
        contamination_ngrams,
        decontaminate_bloom,
    )

    clean = {r["doc_id"]: r["n_shingles"] for r in decontaminate_bloom(spark, SF_SMOKE).collect()}
    dirty = {r["doc_id"] for r in contamination_ngrams(spark, SF_SMOKE).collect() if r["n_shared"] > 0}
    train = {
        r["doc_id"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
        if r["doc_id"] % EVAL_MOD != 0
    }
    assert set(clean) | dirty == train
    assert not (set(clean) & dirty)


def test_decontaminate_bloom_stats_consistent(spark):
    """The measured-evidence stats must be internally consistent with
    the exact sets: positives cover every truly-shared row (no false
    negatives), the candidate fraction bounds the verify join's input,
    and the realized FPR stays inside the same order as the analytic
    sizing (<1% at shipped fill)."""
    from apache_flink_pratices_spark.operators.curation import (
        _bloom_probed,
        decontaminate_bloom_stats,
    )

    s = decontaminate_bloom_stats(spark, SF_SMOKE)
    assert 0 < s["bloom_positive_rows"] <= s["train_shingle_rows"]
    assert 0.0 <= s["false_positive_rate"] < 0.01

    # the end-to-end no-false-negative property on the real corpus: a
    # bloom-NEGATIVE train shingle row must never exist in the exact
    # eval set (this is what lets bloom-clean docs skip the verify join)
    eval_h, probed = _bloom_probed(spark, SF_SMOKE)
    missed = (
        probed.filter(F.col("hit") == 0)
        .join(eval_h.distinct(), "h")
        .count()
    )
    assert missed == 0


def test_lowoverlap_bloom_stats_match_planted_truth(spark):
    """The planted low-overlap corpus (VERDICT r11 #5) at test scale:
    candidate_fraction must land at planted-overlap + FPR (the bloom's
    whole value proposition on the realistic decon shape), with zero
    false negatives by recount and every planted row accounted for."""
    from apache_flink_pratices_spark.operators.curation import (
        decontaminate_bloom_lowoverlap_stats,
    )

    s = decontaminate_bloom_lowoverlap_stats(spark)
    assert s["train_shingle_rows"] == 40_000
    assert s["planted_rows"] == 400
    assert s["false_negatives"] == 0
    # positives = planted + false positives, exactly
    fp_rows = s["bloom_positive_rows"] - s["planted_rows"]
    assert fp_rows >= 0
    assert s["candidate_fraction"] < 0.05  # verify join sees ~1% of train
    # 4k eval entries in a 2^22-bit bloom: fill ~0.4%, FPR ~ (0.004)^4 —
    # essentially zero at test scale; allow a loose ceiling
    assert s["false_positive_rate"] < 0.01
    assert abs(
        s["candidate_fraction"]
        - (s["planted_rows"] + fp_rows) / s["train_shingle_rows"]
    ) < 1e-4


def test_bloom_positions_properties():
    """Property test for the shared position function: every probe lands
    in-table, the stride is odd (full-period walk of the power-of-two
    table), and positions are a pure function of the hash (determinism
    is what makes the no-false-negative contract structural)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from apache_flink_pratices_spark.operators.curation import (
        BLOOM_K,
        BLOOM_M,
        _bloom_positions,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=(1 << 56) - 1),
                    min_size=1, max_size=50))
    def check(hs):
        h = np.array(hs, dtype=np.int64)
        ps = _bloom_positions(h)
        assert len(ps) == BLOOM_K
        again = _bloom_positions(h)
        for a, b in zip(ps, again):
            assert (a == b).all()          # deterministic
            assert (a < BLOOM_M).all()     # in-table
        # consecutive probes differ by a constant odd stride per hash
        stride = (ps[1] - ps[0]) & np.uint64(BLOOM_M - 1)
        assert (stride % np.uint64(2) == 1).all()
        for j in range(2, BLOOM_K):
            d = (ps[j] - ps[j - 1]) & np.uint64(BLOOM_M - 1)
            assert (d == stride).all()

    check()


def test_quality_temperature_gate_is_monotone_in_quality():
    """Pure-python property of the gate arithmetic: for a FIXED hash
    draw, raising q_bp can only turn keep on, never off — the sampler
    is monotone in quality, the property the temperature exponent must
    preserve."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=500, deadline=None)
    @given(st.integers(min_value=0, max_value=9999),
           st.integers(min_value=0, max_value=10000),
           st.integers(min_value=0, max_value=10000))
    def check(gate, q1, q2):
        lo, hi = sorted((q1, q2))
        keep_lo = gate * 10000 < lo * lo
        keep_hi = gate * 10000 < hi * hi
        assert keep_hi or not keep_lo  # keep set grows with quality
        # acceptance matches the quadratic temperature exactly at the
        # basis-point grid: kept iff gate < ceil(q^2/10000) boundary
        assert keep_lo == (gate < (lo * lo + 9999) // 10000)

    check()


def test_quality_topk_two_phase_equals_naive_window(spark):
    """The salted two-phase prune must be EXACT: identical rows to the
    naive one-window-per-source formulation (any global top-k row is in
    its shard's local top-k, so phase 1 is lossless)."""
    from pyspark.sql.window import Window

    from apache_flink_pratices_spark.io import load
    from apache_flink_pratices_spark.operators.curation import (
        TOPK_PER_SOURCE,
        _quality_bp_frame,
        quality_topk_per_source,
    )

    got = sorted(
        tuple(r)
        for r in quality_topk_per_source(spark, SF_SMOKE)
        .select("doc_id", "source", "q_bp", "rank")
        .collect()
    )
    naive_w = Window.partitionBy("source").orderBy(
        F.col("q_bp").desc(), F.col("doc_id")
    )
    want = sorted(
        tuple(r)
        for r in _quality_bp_frame(load(spark, SF_SMOKE, "documents"))
        .withColumn("rank", F.row_number().over(naive_w).cast("long"))
        .filter(F.col("rank") <= TOPK_PER_SOURCE)
        .select("doc_id", "source", "q_bp", "rank")
        .collect()
    )
    assert got == want
    assert len(got) > 0


def test_planted_pipeline_every_stage_keeps_and_removes(spark):
    """Exact per-stage counts of the composed pipeline on the planted
    wide-vocabulary corpus (deterministic: md5-drawn words, hash-gated
    survival) — every stage keeps and removes rows (VERDICT r12 #6)."""
    from apache_flink_pratices_spark.operators.curation import corpus_pipeline_planted_stats

    s = corpus_pipeline_planted_stats(spark)
    assert s.pop("first_wall_s") > 0 and s.pop("wall_s") > 0
    assert s == {
        "n_docs": 800, "n_canonical": 723, "n_gopher_pass": 727,
        "n_decon_dirty": 55, "n_survivors": 320, "n_packed_rows": 320,
        "n_budget_sources": 6, "planned_tokens_total": 124271,
    }
