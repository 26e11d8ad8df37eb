"""Dump EXPLAIN FORMATTED plans for registered queries into plans/.

Usage:
    python tools/dump_plans.py <suffix> <query> [<query> ...]
    python tools/dump_plans.py before corpus_pipeline_e2e dedup_simhash

Writes plans/<query>_<suffix>.txt for each query — the committed evidence
that plan-shape claims (Exchange counts, join strategies, PushedFilters,
Python-boundary nodes) match the code. plans/r14/ and plans/r15/ hold
earlier dumps.

The frame is BUILT but not executed: explain() runs no jobs, though some
query builders run bounded driver-side jobs (artifact builds, training
loops) while constructing the frame. Uses the same sf dir as the bench
($SPARK_GRAFT_SF_DIR, default sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit("usage: python tools/dump_plans.py <suffix> <query>...")
    suffix = sys.argv[1]
    names = sys.argv[2:]

    from apache_flink_pratices_spark.plans.explain import formatted_plan
    from apache_flink_pratices_spark.registry import all_specs
    from apache_flink_pratices_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = all_specs()
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    out_dir = os.path.join(REPO, "plans")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("afp-dump-plans")
    spark.sparkContext.setLogLevel("WARN")
    try:
        for name in names:
            df = specs[name].fn(spark, sf_dir)
            plan = formatted_plan(df)
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
                if not plan.endswith("\n"):
                    f.write("\n")
            print(f"wrote {path}")
            spark.catalog.clearCache()
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
