"""Spans recorded from outside the engine, and the per-layer numbers built from them.

A span is (name, start, end, parent, batch). Spans are opened in two ways:

- at call sites in this benchmark (``Tracer.span``), for the calls the
  benchmark makes itself (pipeline stages, corpus operators, reads);
- by ``install_patches``, which wraps the module bindings the engine's own
  callers use (``pipeline.merge_cdc_batch`` is a name imported into
  ``pipeline``, so wrapping ``operators.cdc.merge_cdc_batch`` alone would
  miss every call the pipeline makes).

A layer's self time is its span's duration minus the time its child spans
cover. Spans stay in memory and are turned into metrics once, after the
timed phase.

With tracing on, each span also sets a Spark job group, so every job is
charged to the innermost span that submitted it; py4j round trips are
counted by wrapping the gateway client's ``send_command``; executor run time
and shuffle bytes come from Spark's uncompressed event log.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

# Span-name prefixes reported with a Spark/driver split; "batch" (the root
# of each iteration) and "bench" (landing and checks) are the benchmark's.
SPLIT_LAYERS = ["pipeline", "sources", "lake", "cdc", "text", "dedup", "similarity", "corpus", "reads"]

# Time metrics reported for every workload, so the key set is the same for all.
SPAN_NAMES = [
    "bench.land", "bench.check",
    "pipeline.ingest", "pipeline.silver", "pipeline.gold",
    "sources.read_json", "sources.ledger", "sources.schema",
    "lake.append", "lake.merge", "lake.to_df", "lake.read_changes", "lake.stream_reader",
    "cdc.merge_cdc_batch", "cdc.signed_deltas", "cdc.merge_agg_delta",
    "corpus.load", "text.quality", "text.lang_id",
    "dedup.exact", "dedup.minhash", "dedup.components", "similarity.semantic_dedup",
    "reads.validate",
]


class Tracer:
    """Records spans; a disabled tracer only keeps the call sites cheap.
    Set ``sc`` to a SparkContext to charge jobs to spans."""

    def __init__(self):
        self.enabled = False
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._py4j = 0
        self._own_call = False
        self.batch = None
        # (input, output) frames of wrapped calls made with capture=True
        self.captured: dict[str, list] = {}
        self._epoch = time.time() - time.perf_counter()

    # ---------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "batch": self.batch,
               "start": time.perf_counter(), "end": None, "py4j": 0}
        self.spans.append(rec)
        self._charge_py4j()
        self._stack.append(idx)
        self._set_group(idx)
        try:
            yield
        finally:
            self._charge_py4j()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            rec["end"] = time.perf_counter()

    def innermost(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def wrap(self, name: str, fn, capture: bool = False):
        """``fn`` inside a span, unless the caller is already in the same
        layer (the engine's internal calls stay part of the outer call).
        With ``capture``, keep (first argument, result) for counting later."""
        layer = name.split(".")[0]

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            inner = self.innermost()
            if inner is not None and inner.split(".")[0] == layer:
                out = fn(*args, **kwargs)
            else:
                with self.span(name):
                    out = fn(*args, **kwargs)
            if capture:
                self.captured.setdefault(name, []).append((args[0], out))
            return out

        return traced

    # --------------------------------------------------- spark and py4j hooks

    def _set_group(self, idx: int | None) -> None:
        if self.sc is None:
            return
        self._own_call = True
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", None if idx is None else f"pb{idx}")
        finally:
            self._own_call = False

    def _charge_py4j(self) -> None:
        if self._stack:
            self.spans[self._stack[-1]]["py4j"] += self._py4j
        self._py4j = 0

    def count_py4j(self, gateway_client) -> None:
        """Count every py4j round trip made while a span is open, leaving
        out the tracer's own job-group calls."""
        orig = gateway_client.send_command

        def send_command(*args, **kwargs):
            if not self._own_call:
                self._py4j += 1
            return orig(*args, **kwargs)

        gateway_client.send_command = send_command

    # ------------------------------------------------------------- reporting

    def epoch(self, t: float) -> float:
        return self._epoch + t

    def self_times(self) -> list[float]:
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def install_patches(tracer: Tracer) -> list:
    """Wrap the engine entry points the pipeline and the benchmark call.
    Returns (owner, attribute, original) triples for ``remove_patches``."""
    from incremental_etl_on_lakehouse_spark import pipeline
    from incremental_etl_on_lakehouse_spark.lake import LakeStreamReader, LakeTable
    from incremental_etl_on_lakehouse_spark.operators import cdc
    from incremental_etl_on_lakehouse_spark.sources.discovery import LandingLedger
    from incremental_etl_on_lakehouse_spark.sources.json_source import SchemaTracker

    targets = [
        (pipeline, "read_json_auto_batch", "sources.read_json"),
        (pipeline, "merge_cdc_batch", "cdc.merge_cdc_batch"),
        (pipeline, "cdf_signed_deltas", "cdc.signed_deltas"),
        (pipeline, "merge_agg_delta", "cdc.merge_agg_delta"),
        (cdc, "dedup_latest", "cdc.dedup_latest", True),
        (SchemaTracker, "evolve", "sources.schema"),
        (LakeTable, "append", "lake.append"),
        (LakeTable, "merge", "lake.merge"),
        (LakeTable, "to_df", "lake.to_df"),
        (LakeTable, "read_changes", "lake.read_changes"),
        (LakeStreamReader, "process_available", "lake.stream_reader"),
    ] + [
        (LandingLedger, m, "sources.ledger")
        for m in ("exists_on_disk", "bootstrap", "list_new", "pending", "begin", "complete")
    ]
    undo = []
    for owner, attr, name, *capture in targets:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        undo.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig, capture=bool(capture)))
    return undo


def remove_patches(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ------------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> dict:
    """Per job group: job intervals (epoch s), executor run time (s) and
    shuffle bytes written, from Spark's uncompressed JSON event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(f)]
    stage_group: dict[tuple, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, dict] = {}

    def group(gid):
        return out.setdefault(gid, {"jobs": [], "executor_run_s": 0.0, "shuffle_bytes": 0})

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid:
                        job_group[ev["Job ID"]] = gid
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                elif kind == "SparkListenerJobEnd":
                    gid = job_group.get(ev["Job ID"])
                    if gid:
                        group(gid)["jobs"].append((job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    info = ev["Stage Info"]
                    if gid:
                        stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = gid
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics")
                    if gid and m:
                        g = group(gid)
                        g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                        g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(tracer: Tracer, events: dict, job_counts: dict[str, int], timed_wall: float) -> dict:
    """Self time per span name, the Spark/driver split per layer, and how
    much of the timed wall the non-root spans account for."""
    selfs = tracer.self_times()
    m = {f"{n}.s": 0.0 for n in SPAN_NAMES}
    split = {lay: {"jobs": 0, "py4j_calls": 0, "driver_s": 0.0, "executor_run_s": 0.0, "shuffle_bytes": 0}
             for lay in SPLIT_LAYERS}
    covered = 0.0
    for idx, (s, self_s) in enumerate(zip(tracer.spans, selfs)):
        name = s["name"]
        if name != "batch":
            covered += self_s
        if f"{name}.s" in m:
            m[f"{name}.s"] += self_s
        layer = name.split(".")[0]
        if layer not in split:
            continue
        gid = f"pb{idx}"
        ev = events.get(gid, {"jobs": [], "executor_run_s": 0.0, "shuffle_bytes": 0})
        lo, hi = tracer.epoch(s["start"]), tracer.epoch(s["end"])
        sp = split[layer]
        sp["jobs"] += job_counts.get(gid, 0)
        sp["py4j_calls"] += s["py4j"]
        sp["driver_s"] += max(0.0, self_s - _covered(ev["jobs"], lo, hi))
        sp["executor_run_s"] += ev["executor_run_s"]
        sp["shuffle_bytes"] += ev["shuffle_bytes"]
    totals = {k: 0 for k in ("jobs", "py4j_calls", "driver_s", "executor_run_s", "shuffle_bytes")}
    for lay, sp in split.items():
        for k, v in sp.items():
            m[f"spark.{lay}.{k}"] = v
            totals[k] += v
    for k, v in totals.items():
        m[f"spark.{k}"] = v
    m["trace.coverage"] = covered / timed_wall if timed_wall > 0 else 0.0
    return m
