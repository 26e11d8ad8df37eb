"""Per-query bench subprocess (harness v2, VERDICT r8 #2).

Round 8's escalation rule fired: full-session per-query minima for the
banded-dedup family sat >10 % above round 6 for two consecutive rounds
while fresh-session isolation stayed flat — and the single biggest r8
mover (`quality_repetition`, +46 %) had no code change at all. The
session-position mechanism is documented in docs/scale_notes.md
(accumulated heap/JIT/session debris inflates later sub-second queries'
minima); the streaming section already proved the subprocess pattern in
round 8. Harness v2 extends it to every headline query: ``bench.py``
forks ONE fresh engine per query, so a number's round-over-round delta
is attributable to code again, never to the query's position in a
growing shared session.

Per-query recipe (identical to the "isolated fresh-session" probes the
scale notes used to diagnose the drift, so v2 bench numbers and those
probes are directly comparable):

- fresh ``get_spark`` engine session (local[$SPARK_GRAFT_CPUS]);
- one small parquet read (spins the reader/codegen framework classes),
  then ``$SPARK_GRAFT_BENCH_WARMUPS`` (default 3) untimed executions of
  the query — one warm-up leaves min-of-N on the C2 compile ramp for
  sub-second queries (VERDICT r9 #2: ±45% driver-vs-preflight disagreement
  on identical code); the measured ann_pq plateau needs ~3;
- exactly ``$SPARK_GRAFT_BENCH_RUNS`` (default 4) timed noop-format
  writes, cache cleared and GC run between runs (outside the timed
  window) — the same sample count for every query, so mins stay
  comparable run to run;
- one untimed ``count()`` for the sanity row count.

Entry points (each prints ONE JSON line on stdout):

- ``python -m apache_flink_pratices_spark.bench_query <name>`` —
  ``{"name", "min", "median", "spread_pct", "runs", "rows"}``;
- ``python -m apache_flink_pratices_spark.bench_query --extras`` —
  the untimed scale-evidence extras (clustered-ANN candidate fraction,
  hot-bucket guard) in their own fresh session.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _run_query(name: str) -> dict:
    from apache_flink_pratices_spark.registry import bench_specs
    from apache_flink_pratices_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "4"))
    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUPS", "3"))
    spec = bench_specs()[name]
    spark = get_spark(f"afp-bench-{name}")
    spark.sparkContext.setLogLevel("WARN")

    def one_noop_write() -> float:
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        # noop-format write: materializes every output column end-to-end
        # (count() lets Catalyst skip final projections)
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        # drop any persist() the query made so repeats stay independent;
        # GC outside the timed window
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        return dt

    # warm-up, untimed: reader/codegen framework classes, then the query
    # itself n_warm times. ONE warm-up is not enough to reach the C2
    # plateau (measured ann_pq_topk trace in one fresh session: 7.50,
    # 2.28, 1.67, 1.51, 1.91, 1.42 … — min-of-4-after-one-warm-up still
    # rides the ramp, and the r9 driver-vs-preflight gap hit ±45% on
    # sub-second queries; VERDICT r9 #2), so the default is 3.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    for _ in range(n_warm):
        one_noop_write()

    per = [one_noop_write() for _ in range(n_runs)]
    rows = spec.fn(spark, sf_dir).count()  # untimed, for sanity
    spark.stop()
    mn = min(per)
    return {
        "name": name,
        "min": round(mn, 3),
        # median 2-decimal / spread integer-percent: indicators, not the
        # headline metric — and the summary-line worst-case budget is
        # tight (tests/test_bench_contract.py)
        "median": round(statistics.median(per), 2),
        # run-to-run spread: the per-query noise-floor indicator the
        # artifact surfaces (VERDICT r9 #2) — deltas smaller than this
        # are box noise, not code
        "spread_pct": int(round(100.0 * (max(per) - mn) / mn)) if mn else 0,
        "runs": n_runs,
        "rows": rows,
    }


def _run_extras() -> dict:
    from apache_flink_pratices_spark.operators.curation import (
        corpus_pipeline_planted_stats,
        decontaminate_bloom_lowoverlap_stats,
        decontaminate_bloom_stats,
    )
    from apache_flink_pratices_spark.operators.dedup import (
        hot_bucket_guard_bench,
        hot_bucket_recall_bench,
        neardup_method_compare_bench,
    )
    from apache_flink_pratices_spark.operators.similarity import (
        ann_ivf_trained_recall_bench,
        ann_lsh_clustered_candidate_fraction,
    )
    from apache_flink_pratices_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Smoke-scale knob for the PYTEST CONTRACT DRIVE ONLY (r15, VERDICT
    # r14 #5/#6: the full-shape bench CLI test spent ~130 s of its 600 s
    # building the full-size planted evidence corpora at local[4], the
    # single largest line of the suite's 30-minute wall). The extras are
    # UNTIMED scale evidence — shrinking their synthetic corpora changes
    # no timed number and no oracle-checked result; the driver sets no
    # such env, so every committed round artifact still carries the
    # full-size evidence. Values below keep every planted property
    # non-degenerate (overlap planted, clusters present, all stages
    # keep-and-remove).
    small = os.environ.get("SPARK_GRAFT_EXTRAS_SCALE") == "small"
    spark = get_spark("afp-bench-extras")
    spark.sparkContext.setLogLevel("WARN")
    cand_fraction = round(ann_lsh_clustered_candidate_fraction(spark, sf_dir), 4)
    spark.catalog.clearCache()
    # measured trained-vs-hash-grid IVF recall on the planted clusters
    # (VERDICT r12 #4): the recorded evidence that the kmeans codebook
    # beats the stand-in directions where ANN is actually deployed
    ivf_trained = ann_ivf_trained_recall_bench(spark, sf_dir)
    spark.catalog.clearCache()
    hot_guard = hot_bucket_guard_bench(spark, sf_dir)
    spark.catalog.clearCache()
    # measured verified-pair recall above the cap + wedge rescue
    # (VERDICT r8 #3) — synthetic planted corpora, sf-independent
    hot_recall = hot_bucket_recall_bench(spark)
    spark.catalog.clearCache()
    # measured bloom prefilter effectiveness at bench scale (round 10)
    bloom_stats = decontaminate_bloom_stats(spark, sf_dir)
    spark.catalog.clearCache()
    # ... and on the planted ~1%-overlap corpus (VERDICT r11 #5): the
    # realistic eval-decon shape, where candidate_fraction ~ overlap+FPR
    # and the prefilter spares ~99% of the exact verify join
    bloom_low = (
        decontaminate_bloom_lowoverlap_stats(
            spark, n_train=200_000, n_eval=20_000
        )
        if small
        else decontaminate_bloom_lowoverlap_stats(spark)
    )
    spark.catalog.clearCache()
    # minhash-vs-simhash recall/precision on the planted-pair corpus
    # (VERDICT r11 #7): the dedup method choice, measured
    method_cmp = (
        neardup_method_compare_bench(spark, n_background=500, pairs_per_tier=10)
        if small
        else neardup_method_compare_bench(spark)
    )
    spark.catalog.clearCache()
    # the flagship pipeline on a planted WIDE-vocab corpus where every
    # stage keeps and removes rows (VERDICT r12 #6): the headline
    # corpus_pipeline_e2e row's decon stage legitimately empties the
    # driver's 31-word-vocabulary corpus at sf0.1, so packing/budget
    # are measured on real rows HERE
    pipeline_planted = (
        corpus_pipeline_planted_stats(spark, n_docs=800, vocab_size=2500)
        if small
        else corpus_pipeline_planted_stats(spark)
    )
    spark.stop()
    return {
        "ann_lsh_clustered_candidate_fraction": cand_fraction,
        "ann_ivf_trained_recall": ivf_trained,
        "hot_bucket_guard": hot_guard,
        "hot_bucket_recall": hot_recall,
        "decontaminate_bloom": bloom_stats,
        "decontaminate_bloom_lowoverlap": bloom_low,
        "neardup_method_compare": method_cmp,
        "corpus_pipeline_planted": pipeline_planted,
    }


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit(
            "usage: python -m apache_flink_pratices_spark.bench_query "
            "(<query_name> | --extras)"
        )
    arg = sys.argv[1]
    out = _run_extras() if arg == "--extras" else _run_query(arg)
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
