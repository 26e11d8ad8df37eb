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

Entry point: ``python -m apache_flink_pratices_spark.bench_query <name>``
prints ONE JSON line on stdout,
``{"name", "min", "median", "spread_pct", "runs", "rows"}``.
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


def main() -> None:
    if len(sys.argv) != 2:
        raise SystemExit(
            "usage: python -m apache_flink_pratices_spark.bench_query <query_name>"
        )
    out = _run_query(sys.argv[1])
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
