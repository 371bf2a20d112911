#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full materialization, no
driver collect cost). Timings are wall-clock per query, value = total.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "q1_pricing_summary",
    "agg_sum_groupby",
    "q_top_customers",
    "q_events_enriched",
    "win_row_number_dedup",
    "sort_multi_key",
    "join_merge_key",
    "ext_dedup_exact",
    "ext_fingerprint",
    "ext_text_analysis",
    "ext_quality_score",
    "ext_lang_id",
    "ext_sim_topk",
    "ext_dedup_fuzzy",
    "merge_cdc_upsert",
    "agg_incremental_cdf",
    # round-2 lake ops, tracked here before/while they hold driver sweep
    # slots (r2 verdict #7): the SQL MERGE front-end and Z-order compaction
    "snk_merge_sql",
    "util_optimize_zorder",
    # round-3 additions tracked before their sweep rotation: the heaviest
    # new TPC-H shape (Q21's decorrelated double-aggregate) and the
    # benchmark-decontamination overlap join
    "q21_waiting_suppliers",
    "ext_decontaminate",
    # round-4: deletion-vector DELETE+UPDATE end-to-end (create, append,
    # DV delete, DV update, masked read) — tracks the sidecar read path
    "util_deletion_vectors",
    # round-4: SCD2 history merge — two classify-join + staged-union MERGE
    # rounds over the CDC batches (tracks the new multi-clause merge path)
    "merge_scd2",
    # round-4: Bloom-prefiltered decontamination — measured next to
    # ext_decontaminate so the exact-vs-bloom cost gap stays visible
    "ext_decontaminate_bloom",
    # round-5: full-sync merge (WHEN NOT MATCHED BY SOURCE) — tracks the
    # added target-sided anti-join probe next to merge_cdc_upsert
    "merge_by_source",
    # round-7: the two re-planned scale paths, tracked so any regression
    # back to a global-sort shape shows up as a wall-clock move (bm25 now
    # TakeOrderedAndProject; quality buckets now broadcast thresholds) —
    # NOT part of the 16 baseline-comparable keys
    "ext_bm25_topk",
    "ext_quality_buckets_scale",
    # round-8: three representative new-surface keys — the token-keyed
    # inverted-index build (heaviest new ext shape), the Expand-strategy
    # multi-distinct aggregate, and the iterative recursive-CTE walk —
    # NOT part of the 16 baseline-comparable keys
    "ext_inverted_index",
    "agg_count_distinct_multi",
    "sql_recursive_cte",
    # round-9: row tracking exercises the id-materializing rewrite path
    # (compact + update + merge on one table) — tracked so a regression
    # in the __row_id plumbing shows as a wall-clock move; NOT part of
    # the 16 baseline-comparable keys
    "util_row_tracking",
    # round-10: the full BPE training loop (6 argmax rounds over the
    # wid-clustered symbol table — tracks the shuffle-free round design)
    # and the three-level catalog attestation (metadata-bound); NOT part
    # of the 16 baseline-comparable keys
    "ext_bpe_train",
    "ddl_catalog_3level",
    # round-10: incremental top-k CDF maintenance (the newest
    # non-subtractable aggregate path); NOT baseline-comparable
    "agg_incremental_topk",
    # round-11: byte-budget ingest pacing (maxBytesPerTrigger through a
    # real availableNow drain — fixed-cost streaming scenario, tracks the
    # file-source pacing machinery); NOT baseline-comparable
    "stream_paced_bytes",
    # round-12: incrementally-maintained JOIN view (delta-join algebra
    # from both change feeds, stats-pruned snapshot side) — tracks the
    # two-feed maintenance merge path; NOT baseline-comparable
    "view_incremental_join",
]


def main() -> None:
    from incremental_etl_on_lakehouse_spark.queries import (
        QUERIES,
        reset_memoized_state,
    )
    from incremental_etl_on_lakehouse_spark.session import get_spark

    # clear stale scratch tables from earlier runs (they are this repo's own
    # /tmp prefix; hundreds of leftover dirs measurably slow the FS)
    import glob
    import shutil

    for d in glob.glob("/tmp/lakequery-*"):
        shutil.rmtree(d, ignore_errors=True)

    spark = get_spark("bench")
    # warm up the JVM/codegen paths so the first timed query isn't charged
    # for session startup
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()
    # warm the merge/CDF machinery too (window codegen, persist, commit log,
    # parquet footer stats) with a miniature end-to-end CDC run, so the
    # timed merge keys measure steady-state work rather than classloading
    warm_sf = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_sf):
        warm_sf = SF_DIR
    from incremental_etl_on_lakehouse_spark.queries import QUERIES as _Q

    _Q["agg_incremental_cdf"](spark, warm_sf).collect()
    sf = None
    for tok in SF_DIR.rstrip("/").split("/"):
        if tok.startswith("sf"):
            try:
                sf = float(tok[2:])
            except ValueError:
                pass

    # Multiple samples per key, report the min: BASELINE.md documents up to
    # 1.7x run-to-run variance on this box, and round-1 recorded a 26.6 s
    # ext_fingerprint sample that re-measured at 3.2 s. The min is the right
    # estimator for "what the plan costs" under one-sided contention noise.
    # Medians ride along (r3 verdict #6): with both estimators recorded, a
    # cross-round 2x move on one of them can be classified as contention
    # (min stable, median moved) vs a real plan change (both moved).
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        runs: list[float] = []
        for _ in range(n_runs):
            reset_memoized_state()
            start = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            runs.append(round(time.perf_counter() - start, 3))
        samples[name] = runs
        timings[name] = min(runs)
        medians[name] = sorted(runs)[len(runs) // 2]
        print(
            f"# {name}: min {timings[name]:.3f}s median {medians[name]:.3f}s"
            f" of {runs}",
            file=sys.stderr,
        )

    # ---- sf1 tier (round-13, additions-only): the sf0.1 bench saturated
    # on fixed driver cost (the 16 comparable keys sum identically at 8
    # and 32 cores in BENCH_r12), so data-path wins are invisible in wall
    # clock there. This block re-times the DATA-BOUND keys at sf1 (a
    # deterministic 10x key-shifted replication of sf0.1 — tools/
    # make_sf1.py — generated once beside the source dir). Evidence-only:
    # it reports via stderr + the bench_detail.json sidecar and does NOT
    # touch the stdout contract line (same 35 keys, same methodology), so
    # cross-round comparisons stay valid. SPARK_GRAFT_SF1=0 skips it.
    sf1_timings: dict[str, float] = {}
    sf1_samples: dict[str, list[float]] = {}
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR") or os.path.join(
        os.path.dirname(SF_DIR.rstrip("/")), "sf1"
    )
    run_sf1 = (
        os.environ.get("SPARK_GRAFT_SF1", "1") != "0"
        and os.path.basename(SF_DIR.rstrip("/")) == "sf0.1"
    )
    if run_sf1 and not os.path.isdir(sf1_dir):
        try:
            import subprocess

            subprocess.run(
                [
                    sys.executable,
                    os.path.join(os.path.dirname(__file__), "tools", "make_sf1.py"),
                    sf1_dir,
                    SF_DIR,
                ],
                check=True,
                capture_output=True,
                timeout=600,
            )
        except Exception as exc:  # no duckdb / read-only parent: skip tier
            print(f"# sf1 generation skipped: {exc}", file=sys.stderr)
            run_sf1 = False
    if run_sf1 and os.path.isdir(sf1_dir):
        sf1_keys = [
            "q1_pricing_summary",
            "agg_sum_groupby",
            "q_top_customers",
            "win_row_number_dedup",
            "sort_multi_key",
            "join_merge_key",
            "q21_waiting_suppliers",
            "ext_dedup_fuzzy",
            "ext_bm25_topk",
            "ext_quality_buckets_scale",
            "ext_decontaminate",
            "ext_decontaminate_bloom",
        ]
        # 1 sample by default: the sf1 walls are multi-second data-bound
        # measurements (10-50x the ~0.3 s noise floor), and the block runs
        # inside every driver bench invocation — keep it to ~45 s
        n_sf1 = max(1, int(os.environ.get("SPARK_GRAFT_SF1_RUNS", "1")))
        for name in sf1_keys:
            fn = QUERIES[name]
            runs = []
            for _ in range(n_sf1):
                reset_memoized_state()
                start = time.perf_counter()
                df = fn(spark, sf1_dir)
                df.write.mode("overwrite").format("noop").save()
                runs.append(round(time.perf_counter() - start, 3))
            sf1_timings[name] = min(runs)
            sf1_samples[name] = runs
            print(f"# sf1 {name}: min {min(runs):.3f}s of {runs}", file=sys.stderr)
        print(
            "# sf1 total "
            f"{round(sum(sf1_timings.values()), 3)}s over {len(sf1_keys)} keys",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # stdout carries ONLY the compact contract line: the driver tail-captures
    # ~2000 chars of stdout, and round 4's line (per-key medians + 5-sample
    # arrays riding along) overflowed it, recording "parsed": null. The full
    # diagnostics (medians, samples, n) go to stderr and a sidecar file.
    compact = {
        "metric": "headline_queries_total_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    line = json.dumps(compact)
    assert len(line) < 1500, f"bench stdout line too long: {len(line)}"
    sys.stderr.flush()
    print(line, flush=True)
    # Diagnostics go ONLY to the sidecar file: rounds 4-6 recorded
    # "parsed": null because the driver's tail capture merges stdout and
    # stderr, so even a stderr diagnostics print after the compact line
    # scrolled the contract line out of the captured window.
    diagnostics = dict(
        compact,
        medians=medians,
        median_total=round(sum(medians.values()), 3),
        samples=samples,
        n=n_runs,
        sf1=sf1_timings,
        sf1_samples=sf1_samples,
        sf1_total=round(sum(sf1_timings.values()), 3),
    )
    try:
        with open("bench_detail.json", "w") as fh:
            json.dump(diagnostics, fh, indent=1)
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
