#!/usr/bin/env python3
"""Medallion CDC and corpus-curation benchmark, timed end to end and per layer.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads, their input sizes and which layer
metric should move which end-to-end metric are in ``workloads.json``. Every
workload is a closed loop with one client: the next batch lands only after
the previous one has reached its final commit and the post-batch reads are
done. The engine runs in this process on ``local[<half the cpus>]`` and
sees only the generated landing files and tables.

A timed phase runs batches for about ``--seconds`` (it ends on the batch
boundary nearest to that) and for at least the workload's ``min_batches``.
Times are medians over the phase's batches; ``records_per_s`` is the median
of each batch's records divided by its wall time, landing to the end of its
reads. ``--trace 0`` prints the end-to-end metrics of one timed phase with
tracing off. ``--trace 1`` runs an untraced phase, a traced one and another
untraced one, the untraced ones half as long, and prints the per-layer
metrics of the traced phase together with the tracing overhead (the drop in
records per second from the untraced phases to the traced one).
``--spans FILE`` also writes the traced spans there, one JSON object a line.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes lives
under ``.perfbench_tmp/`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

SETUP_REPEATS = 3


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest rank with at least ten samples
    beyond it; (0, 0) when there are too few samples for one."""
    xs = sorted(samples)
    rank = len(xs) - 10
    if rank < 1:
        return 0.0, 0.0
    return xs[rank - 1], 100.0 * rank / len(xs)


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def lake_tables(lake_root: str) -> list[str]:
    return sorted(os.path.join(lake_root, d) for d in os.listdir(lake_root)
                  if os.path.isdir(os.path.join(lake_root, d, "_lake_log")))


def lake_versions(lake_root: str) -> dict[str, int]:
    from incremental_etl_on_lakehouse_spark.lake.log import latest_version

    return {t: latest_version(t) for t in lake_tables(lake_root)}


def lake_counters(spark, lake_root: str, since: dict[str, int]) -> dict:
    """Commit-log counters over the commits made after ``since``."""
    from incremental_etl_on_lakehouse_spark.lake import LakeTable
    from incremental_etl_on_lakehouse_spark.lake.log import latest_version, read_commit

    m = {"lake.commits": 0, "lake.files_added": 0, "lake.files_removed": 0, "lake.bytes_written": 0,
         "sources.records_in": 0, "sources.quarantined": 0}
    written = changed = touched = snapshot = 0
    for t in lake_tables(lake_root):
        name = os.path.basename(t)
        table = LakeTable(spark, t)
        for v in range(since.get(t, -1) + 1, latest_version(t) + 1):
            c = read_commit(t, v)
            m["lake.commits"] += 1
            m["lake.files_added"] += len(c.add)
            m["lake.files_removed"] += len(c.remove)
            rels = [a["path"] for a in c.add] + ([c.cdf_path] if c.cdf_path else [])
            for rel in rels:
                p = os.path.join(t, rel)
                m["lake.bytes_written"] += tree_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
            if c.operation == "MERGE":
                cm = c.metrics
                written += cm.get("num_written_rows", 0)
                changed += sum(cm.get(k, 0) for k in ("num_updated_rows", "num_inserted_rows", "num_deleted_rows"))
                touched += cm.get("num_touched_files", 0)
                snapshot += len(table.files(v - 1))
            if name in ("bronze", "quarantine") and c.operation == "APPEND":
                n = c.metrics.get("num_inserted_rows", 0)
                m["sources.records_in"] += n
                if name == "quarantine":
                    m["sources.quarantined"] += n
    m["lake.merge.rows_written_per_row_changed"] = written / changed if changed else 0.0
    m["lake.merge.files_touched_frac"] = touched / snapshot if snapshot else 0.0
    silver = os.path.join(lake_root, "silver")
    m["lake.silver_files"] = len(LakeTable(spark, silver).files()) if os.path.isdir(silver) else 0
    return m


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def timed_phase(w, tracer, seconds: float, min_batches: int) -> dict:
    """Run batches of workload ``w`` for about ``seconds`` and at least
    ``min_batches`` of them, so a slow run still gives a median."""
    lake_before = tree_bytes(w.lake_root)
    landing_before = w.landing_bytes
    versions = lake_versions(w.lake_root)
    n_batches = len(getattr(w, "batches", []))
    records, lat, reads, rates, cycles = 0, [], [], [], []
    batches = failed = 0
    t0 = time.perf_counter()
    # stop when another batch would end further past ``seconds`` than
    # stopping now falls short of it
    while batches < min_batches or (
            time.perf_counter() - t0 + (statistics.median(cycles) / 2 if cycles else 0) < seconds):
        tracer.batch = batches
        batches += 1
        tb = time.perf_counter()
        with tracer.span("batch"):
            try:
                r = w.run_batch()
            except Exception:
                log(traceback.format_exc())
                failed += 1
                continue
        cycles.append(time.perf_counter() - tb)
        rates.append(r["records"] / cycles[-1])
        records += r["records"]
        lat += r["latencies"]
        reads.append(r["read_s"])
        if r["failed"]:
            log(f"batch {tracer.batch}: {r['failed']} post-batch read checks failed")
            failed += 1
    wall = time.perf_counter() - t0
    log(f"phase: {len(reads)} batches, {records} records in {wall:.2f}s; latencies "
        f"{[round(x, 2) for x in lat]}; reads {[round(x, 2) for x in reads]}")
    return {"wall": wall, "records": records, "rates": rates, "latencies": lat, "reads": reads,
            "attempted": 2 * batches, "failed": failed, "versions": versions,  # batches and read sets
            "lake_bytes": tree_bytes(w.lake_root) - lake_before,
            "landing_bytes": w.landing_bytes - landing_before, "first_batch": n_batches}


def make_workload(kind: str, spark, root: str, seed: int, sizes: dict, tracer):
    if kind == "cdc":
        from cdc_workload import CdcWorkload
        return CdcWorkload(spark, root, seed, sizes, tracer)
    from corpus_workload import CorpusWorkload
    return CorpusWorkload(spark, root, seed, sizes, tracer)


def start_spark(root: str, trace: bool):
    from incremental_etl_on_lakehouse_spark.session import get_spark

    # half the CPUs for task threads: the Python client, the JIT compiler
    # and the garbage collector then never queue behind them
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # keep the JVMs' scratch files (perf data, temp files) out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={root}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(root, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, spec: dict, root: str) -> dict:
    from tracing import Tracer, install_patches, layer_metrics, read_event_log, remove_patches

    sizes = spec["sizes"]
    t0 = time.perf_counter()
    spark = start_spark(root, args.trace)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer()
        w = make_workload(spec["kind"], spark, os.path.join(root, "work"), args.seed, sizes, tracer)
        t1 = time.perf_counter()
        gen_s = w.generate()
        seed_times = w.setup(SETUP_REPEATS)
        t2 = time.perf_counter()
        warm_failed, warm_lat = 0, []
        for _ in range(sizes["warmup_batches"]):
            r = w.run_batch()
            warm_failed += bool(r["failed"])
            warm_lat += r["latencies"]
        warm_s = time.perf_counter() - t2
        setup_s = session_s + gen_s + statistics.median(seed_times) + warm_s
        log(f"setup: session {session_s:.2f}s, generate {gen_s:.2f}s, "
            f"seed {['%.2f' % x for x in seed_times]}, warm-up {warm_s:.2f}s "
            f"(latencies {[round(x, 2) for x in warm_lat]}; {t2 - t1:.2f}s total before warm-up)")

        # with --trace 1 the untraced phases on either side of the traced one
        # run half as long and need only one batch: they only give the
        # tracing overhead
        untraced = (args.seconds / 2, 1) if args.trace else (args.seconds, sizes["min_batches"])
        plain = timed_phase(w, tracer, *untraced)
        traced = after = None
        if args.trace:
            tracer.enabled = True
            tracer.sc = spark.sparkContext
            client = spark.sparkContext._gateway._gateway_client
            tracer.count_py4j(client)
            undo = install_patches(tracer)
            try:
                traced = timed_phase(w, tracer, args.seconds, sizes["min_batches"])
            finally:
                remove_patches(undo)
                tracer.enabled = False
                del client.send_command
            # an untraced phase on each side of the traced one, so warm-up
            # still under way does not count as tracing overhead
            after = timed_phase(w, tracer, *untraced)

        checks, check_failed = w.final_check()
        phases = [ph for ph in (plain, traced, after) if ph]
        attempted = sum(ph["attempted"] for ph in phases) + sizes["warmup_batches"] + checks
        failed = sum(ph["failed"] for ph in phases) + warm_failed + check_failed
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}

        if not args.trace:
            result["metrics"] = end_to_end(setup_s, plain)
            return result

        m = layer_counters(spark, w, traced, tracer)
        from pyspark import SparkContext
        m["session.peak_rss_mb"] = peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
        st = spark.sparkContext.statusTracker()
        jobs = {f"pb{i}": len(st.getJobIdsForGroup(f"pb{i}")) for i in range(len(tracer.spans))}
    finally:
        stop_spark(spark)
    events = read_event_log(os.path.join(root, "eventlog"))
    m.update(layer_metrics(tracer, events, jobs, traced["wall"]))
    rps_plain = statistics.median(plain["rates"] + after["rates"])
    rps_traced = statistics.median(traced["rates"])
    tail, pct = tail_percentile(plain["latencies"])
    m.update({
        "trace.records_per_s_untraced": rps_plain,
        "trace.records_per_s": rps_traced,
        "trace.overhead_frac": 1.0 - rps_traced / rps_plain,
        "batch_tail_s": tail,
        "batch_tail_pct": pct,
        "batch_samples": len(plain["latencies"]),
        "failed_frac": failed / attempted,
    })
    if args.spans:
        tracer.dump(args.spans)
    result["metrics"] = m
    return result


def end_to_end(setup_s: float, ph: dict) -> dict:
    return {
        "setup_s": setup_s,
        "records_per_s": statistics.median(ph["rates"]),
        "batch_p50_s": statistics.median(ph["latencies"]),
        "read_p50_s": statistics.median(ph["reads"]),
        "lake_bytes_per_input_byte": ph["lake_bytes"] / ph["landing_bytes"],
    }


def layer_counters(spark, w, ph: dict, tracer) -> dict:
    """Counters read after the traced phase: commit log, dedup and LSH ratios."""
    m = lake_counters(spark, w.lake_root, ph["versions"])
    pairs = tracer.captured.get("cdc.dedup_latest", [])
    rows_in = sum(src.count() for src, _ in pairs)
    rows_out = sum(out.count() for _, out in pairs)
    m["cdc.dedup_kept_frac"] = rows_out / rows_in if rows_in else 0.0
    cand = verified = 0
    if hasattr(w, "lsh_counts"):
        cand, verified = w.lsh_counts(ph["first_batch"])
    m["dedup.lsh_candidates"] = cand
    m["dedup.lsh_precision"] = verified / cand if cand else 0.0
    return m


END_TO_END_UNITS = {"setup_s": "s", "records_per_s": "1/s", "batch_p50_s": "s", "read_p50_s": "s",
                   "lake_bytes_per_input_byte": "ratio"}


def unit_of(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    for suffix, unit in (("records_per_s", "1/s"), ("records_per_s_untraced", "1/s"), ("_mb", "MB"),
                         ("_pct", "%"), ("bytes", "bytes"), ("bytes_written", "bytes"), (".s", "s"),
                         ("_s", "s"), ("frac", "ratio"), ("precision", "ratio"), ("coverage", "ratio"),
                         ("_per_row_changed", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="with --trace 1, write the spans to this file")
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)
    if args.workload not in specs:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(specs)}")
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    # fail before starting anything when the engine is not importable
    import incremental_etl_on_lakehouse_spark.pipeline  # noqa: F401

    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.environ["TMPDIR"] = root
    tempfile.tempdir = root
    try:
        result = run(args, specs[args.workload], root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    result["metrics"] = {k: {"value": v, "unit": unit_of(k)} for k, v in result["metrics"].items()}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
