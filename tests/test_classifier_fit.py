"""quality_classifier_fit + the re-trained quality_linear_classifier
(VERDICT r12 #3): the batch-perceptron loop pinned to an INDEPENDENT
pure-Python trainer (dict arithmetic, no shared code), and the scorer
pinned to bias + learned-weight sums recomputed row-by-row. Oracle
equivalence is covered by tests/test_oracle_parity.py."""

from __future__ import annotations

from apache_flink_pratices_spark.io import load
from apache_flink_pratices_spark.operators.text import (
    CLF_EPOCHS,
    classifier_fit_tables,
    gopher_rules_frame,
)

from tests.conftest import SF_SMOKE


def _labels_and_feats(spark, sf_dir):
    """(labels dict, feats dict) — labels via the oracle-checked Gopher
    gate (the labeler is not under test here; the TRAINER is), features
    as the scorer defines them (distinct non-empty tokens)."""
    d = load(spark, sf_dir, "documents")
    labels = {
        r["doc_id"]: 1 if r["passes_gopher"] == 1 else -1
        for r in gopher_rules_frame(d).select("doc_id", "passes_gopher").collect()
    }
    feats = {
        r["doc_id"]: sorted({w for w in (r["text"] or "").lower().split(" ") if w})
        for r in d.select("doc_id", "text").collect()
    }
    return labels, feats


def py_perceptron(labels, feats, epochs):
    """Independent batch perceptron: integer weights/bias start at 0;
    per epoch every labeled doc with >= 1 feature scores bias + sum of
    its features' weights, and each misclassified doc (y*score <= 0)
    contributes y to its features' weights and to the bias."""
    w: dict[str, int] = {}
    bias = 0
    train = {d: fs for d, fs in feats.items() if fs and d in labels}
    for _ in range(epochs):
        mis = [
            d
            for d, fs in train.items()
            if labels[d] * (bias + sum(w.get(t, 0) for t in fs)) <= 0
        ]
        if not mis:
            break
        for d in mis:
            for t in train[d]:
                w[t] = w.get(t, 0) + labels[d]
            bias += labels[d]
    return {t: v for t, v in w.items() if v != 0}, bias


def test_fit_matches_pure_python_trainer_on_sf0001(spark):
    labels, feats = _labels_and_feats(spark, SF_SMOKE)
    want_w, want_b = py_perceptron(labels, feats, CLF_EPOCHS)
    weights, bias = classifier_fit_tables(load(spark, SF_SMOKE, "documents"))
    got_w = {r["w"]: r["wt"] for r in weights.collect()}
    assert got_w == want_w and bias == want_b
    assert got_w  # the loop actually learned something


def test_fit_matches_pure_python_trainer_on_planted(spark, tmp_path):
    """A planted corpus where the Gopher label is non-trivial: long
    clean docs pass, short/garbage docs fail; the perceptron must
    separate on the planted marker tokens within the epoch budget."""
    clean = "the quick brown fox jumps over a lazy dog near the riverbank " * 5
    dirty = "zzz 111 222"
    rows = [
        (1, clean + "alpha"),
        (2, clean + "beta"),
        (3, dirty + " alpha"),
        (4, dirty),
        (5, ""),  # empty: no features, excluded from training
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    labels = {
        r["doc_id"]: 1 if r["passes_gopher"] == 1 else -1
        for r in gopher_rules_frame(df).select("doc_id", "passes_gopher").collect()
    }
    assert 1 in set(labels.values()) and -1 in set(labels.values())
    feats = {
        d: sorted({w for w in t.lower().split(" ") if w}) for d, t in rows
    }
    want_w, want_b = py_perceptron(labels, feats, CLF_EPOCHS)
    weights, bias = classifier_fit_tables(df)
    got_w = {r["w"]: r["wt"] for r in weights.collect()}
    assert got_w == want_w and bias == want_b


def test_registered_fit_emits_bias_row_as_empty_feature(spark):
    from apache_flink_pratices_spark.registry import all_specs

    out = all_specs()["quality_classifier_fit"].fn(spark, SF_SMOKE).collect()
    feats = [r["feature"] for r in out]
    assert feats.count("") == 1  # exactly one bias row; '' can never be a token
    assert all(r["weight"] != 0 for r in out if r["feature"] != "")


def test_scorer_uses_the_learned_weights(spark):
    """quality_linear_classifier must equal bias + learned-weight sums
    recomputed row-by-row in Python (including empty/NULL-text docs,
    which score exactly the bias)."""
    from apache_flink_pratices_spark.registry import all_specs

    labels, feats = _labels_and_feats(spark, SF_SMOKE)
    w, b = py_perceptron(labels, feats, CLF_EPOCHS)
    got = {
        r["doc_id"]: (r["n_feats"], r["score"], r["passes"])
        for r in all_specs()["quality_linear_classifier"].fn(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(feats)
    for d, fs in feats.items():
        score = b + sum(w.get(t, 0) for t in fs)
        assert got[d] == (len(fs), score, score >= 0), d


def test_weights_artifact_served_not_rebuilt(spark, tmp_path, monkeypatch):
    """trained_classifier_weights (round-13 self-review: fit and scorer
    each re-ran the whole perceptron loop per invocation): first call
    trains and publishes the write-once JSON, bit-equal to a LIVE
    classifier_fit_tables run; the second call must READ the artifact
    (a rebuild would load the documents table again); a corrupt
    artifact is a cache miss that rebuilds, never a crash. The spy
    wraps text.load rather than classifier_fit_tables: the trainer's
    SOURCE is part of the artifact key, so monkeypatching it would
    change the key and force a rebuild by design."""
    import glob
    import os

    import apache_flink_pratices_spark.operators.text as text_mod
    from apache_flink_pratices_spark.operators.text import (
        trained_classifier_weights,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    rows, bias = trained_classifier_weights(spark, SF_SMOKE)
    wdf, live_bias = classifier_fit_tables(load(spark, SF_SMOKE, "documents"))
    assert dict(rows) == {r["w"]: r["wt"] for r in wdf.collect()}
    assert bias == live_bias
    assert rows == sorted(rows)  # deterministic artifact order

    calls = []
    real_load = text_mod.load
    monkeypatch.setattr(
        text_mod, "load", lambda *a, **k: calls.append(1) or real_load(*a, **k)
    )
    assert trained_classifier_weights(spark, SF_SMOKE) == (rows, bias)
    assert calls == []

    art = glob.glob(os.path.join(str(tmp_path), "clf_weights_*.json"))
    assert len(art) == 1
    with open(art[0], "w") as f:
        f.write("{not json")
    assert trained_classifier_weights(spark, SF_SMOKE) == (rows, bias)
    assert calls == [1]  # exactly one documents load: the rebuild


def test_trained_scorer_separates_the_planted_corpus(spark, tmp_path, monkeypatch):
    """End-to-end sanity: after training, the clean planted docs score
    >= 0 and the dirty ones < 0 (the corpus is linearly separable on
    bag-of-words, so the perceptron must find A separator within the
    epoch budget — the classic convergence guarantee scaled down)."""
    clean = "the quick brown fox jumps over a lazy dog near the riverbank " * 5
    dirty = "zzz 111 222"
    rows = [(i, clean + f" doc{i}") for i in range(1, 5)] + [
        (i, dirty + f" doc{i}") for i in range(5, 9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    # scope the weights artifact to the planted corpus's own tempdir —
    # keyed to a path that never repeats, it could not be cache-hit in
    # the shared base (the corpus_pipeline_planted_stats stance)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    from apache_flink_pratices_spark.registry import all_specs

    labels = {
        r["doc_id"]: r["passes_gopher"]
        for r in gopher_rules_frame(df).select("doc_id", "passes_gopher").collect()
    }
    got = {
        r["doc_id"]: r["passes"]
        for r in all_specs()["quality_linear_classifier"].fn(spark, sf).collect()
    }
    mis = sum(1 for d in labels if bool(labels[d]) != got[d])
    assert mis == 0, (labels, got)
