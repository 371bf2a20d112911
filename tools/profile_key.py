#!/usr/bin/env python
"""Profile one or more query keys: wall time, Spark job count, and stage/task
totals per sample. The job count is the fixed-cost multiplier for the
scenario keys (each local-mode job pays scheduler+planning latency), so
"fewer jobs, same result" is the measurable win this tool verifies.

Usage:
  python tools/profile_key.py KEY [KEY...] [--runs N] [--sf DIR] [--explain]

Writes explain output to plans/$SPARK_GRAFT_PLANS_DIR/<key>_<tag>.txt (default r13) with --explain TAG.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain", default=None, help="tag: write plans/$SPARK_GRAFT_PLANS_DIR/<key>_<tag>.txt (default r13)")
    args = ap.parse_args()

    from incremental_etl_on_lakehouse_spark.queries import (
        QUERIES,
        reset_memoized_state,
    )
    from incremental_etl_on_lakehouse_spark.session import get_spark

    # NOTE: unlike bench.py, do NOT clear /tmp/lakequery-* here — a
    # concurrently running suite/sweep owns live tables under that prefix
    # (this exact interference failed a suite run once).
    spark = get_spark("profile")
    sc = spark.sparkContext
    # warm-up mirrors bench.py
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(args.sf, "region.parquet")).count()
    warm_sf = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_sf):
        warm_sf = args.sf
    QUERIES["agg_incremental_cdf"](spark, warm_sf).collect()

    tracker = sc.statusTracker()

    for key in args.keys:
        fn = QUERIES[key]
        results = []
        for i in range(args.runs):
            reset_memoized_state()
            jobs_before = tracker.getJobIdsForGroup(None) or []
            # job ids are global and increasing; snapshot the max
            t0 = time.perf_counter()
            sc.setJobDescription(f"profile:{key}")
            df = fn(spark, args.sf)
            t_build = time.perf_counter() - t0
            df.write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
            sc.setJobDescription(None)
            jobs_after = tracker.getJobIdsForGroup(None) or []
            n_jobs = len(set(jobs_after) - set(jobs_before))
            results.append((wall, t_build, n_jobs))
            print(
                f"# {key} run{i}: wall {wall:.3f}s (build {t_build:.3f}s)"
                f" jobs {n_jobs}",
                flush=True,
            )
        best = min(results)
        print(
            f"{key}: min wall {best[0]:.3f}s build {best[1]:.3f}s"
            f" jobs {sorted(r[2] for r in results)}",
            flush=True,
        )
        if args.explain:
            reset_memoized_state()
            df = fn(spark, args.sf)
            out_dir = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "plans",
                os.environ.get("SPARK_GRAFT_PLANS_DIR", "r13"),
            )
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{key}_{args.explain}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
    spark.stop()


if __name__ == "__main__":
    main()
