"""CDC workloads: generated landing files through Bronze, Silver and Gold.

The generator models the key state itself and only emits records whose
effect under the pipeline's documented semantics (latest ``cdc_timestamp``
wins per id, a DELETE removes the id, an identical or older record is a
no-op) is the same as replaying the net-effective log. Deleted ids are never
touched again: a late or re-delivered record for a deleted id would be
re-inserted by a hard-delete MERGE, which is the pipeline's known
re-insertion hole, not something this benchmark measures.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys
import time
from collections import deque

COUNTRIES = ["England", "Wales", "Scotland", "Northern Ireland", "Australia",
             "France", "Spain", "Germany"]
DISTRICTS = [f"District_{i}" for i in range(1, 11)]
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _fmt_us(us: int) -> str:
    return (EPOCH + dt.timedelta(microseconds=us)).strftime("%Y-%m-%d %H:%M:%S.%f")


def _fmt_s(s: int) -> str:
    return (EPOCH + dt.timedelta(seconds=s)).strftime("%Y-%m-%d %H:%M:%S")


class CdcGenerator:
    """Seeded CDC log generator. Record times are microseconds since EPOCH.

    State: ``live`` maps id -> (country, district, visit_s, visitors, cdc_us, op);
    ``landed`` keeps every landed record (for re-delivery picks)."""

    def __init__(self, seed: int, cfg: dict):
        self.rng = random.Random(seed)
        self.cfg = cfg
        self.clock = 0
        self.next_id = 1
        self.live: dict[int, tuple] = {}
        self._ids: list[int] = []  # live ids, swap-remove
        self._pos: dict[int, int] = {}
        self.recent: deque[int] = deque(maxlen=cfg["recent_window"])
        self.landed: list[dict] = []
        # state before the current file of every id it changes
        self.before: dict[int, tuple | None] = {}

    # ------------------------------------------------------------ key state

    def _add(self, k: int, row: tuple) -> None:
        self.before.setdefault(k, self.live.get(k))
        if k not in self.live:
            self._pos[k] = len(self._ids)
            self._ids.append(k)
        self.live[k] = row

    def _drop(self, k: int) -> None:
        self.before.setdefault(k, self.live[k])
        del self.live[k]
        i = self._pos.pop(k)
        last = self._ids.pop()
        if last != k:
            self._ids[i] = last
            self._pos[last] = i

    def _pick_live(self) -> int:
        rng = self.rng
        if self.recent and rng.random() < self.cfg["recent_share"]:
            # recency skew: newest inserts are hit most
            for _ in range(8):
                k = self.recent[-1 - int(len(self.recent) * rng.random() ** 3)]
                if k in self.live:
                    return k
        return self._ids[rng.randrange(len(self._ids))]

    def _tick(self) -> int:
        self.clock += self.rng.randint(1, 2000)
        return self.clock

    # ------------------------------------------------------------ generation

    def seed_rows(self, n: int) -> list[tuple]:
        """The pre-seeded Silver key space: ``n`` INSERTs older than every
        landed record."""
        rng = self.rng
        rows = []
        for _ in range(n):
            k = self.next_id
            self.next_id += 1
            row = (rng.choice(COUNTRIES), rng.choice(DISTRICTS), rng.randrange(86400 * 30),
                   rng.randint(1, 1000), self._tick(), "INSERT")
            self._add(k, row)
            rows.append((k,) + row)
        return rows

    def _record(self, k: int, row: tuple) -> dict:
        country, district, visit_s, visitors, cdc_us, op = row
        return {"id": k, "country": country, "district": district,
                "visit_timestamp": _fmt_s(visit_s), "num_visitors": visitors,
                "cdc_operation": op, "cdc_timestamp": _fmt_us(cdc_us)}

    def batch(self, n: int) -> tuple[list[dict], int]:
        """One landing file's records, in landing order, and an id changed by
        it that is live afterwards (for the post-batch lookup)."""
        rng, mix = self.rng, self.cfg["mix"]
        kinds = list(mix)
        weights = [mix[x] for x in kinds]
        out: list[dict] = []
        prior = len(self.landed)
        self.before = {}
        while len(out) < n:
            kind = rng.choices(kinds, weights)[0]
            if kind == "insert" or not self._ids:
                k = self.next_id
                self.next_id += 1
                row = (rng.choice(COUNTRIES), rng.choice(DISTRICTS), rng.randrange(86400 * 30),
                       rng.randint(1, 1000), self._tick(), "INSERT")
                self._add(k, row)
                self.recent.append(k)
                out.append(self._record(k, row))
            elif kind == "update":
                k = self._pick_live()
                c, d, v, visitors, _, _ = self.live[k]
                if rng.random() < 0.3:
                    c, d = rng.choice(COUNTRIES), rng.choice(DISTRICTS)
                # always a new value, so the content hash differs
                row = (c, d, v + rng.randint(0, 3600), visitors + rng.randint(1, 500), self._tick(), "UPDATE")
                self._add(k, row)
                out.append(self._record(k, row))
            elif kind == "delete":
                if len(self._ids) < 2:
                    continue
                k = self._pick_live()
                row = self.live[k][:4] + (self._tick(), "DELETE")
                self._drop(k)
                out.append(self._record(k, row))
            elif kind == "duplicate":
                if out:
                    out.append(dict(out[rng.randrange(len(out))]))
            elif kind == "redeliver":
                # a verbatim copy of an earlier file's record whose id is still
                # live: either its current record or an older, superseded one
                if prior:
                    r = self.landed[rng.randrange(prior)]
                    if r["id"] in self.live:
                        out.append(dict(r))
            elif kind == "late":
                # arrives after a newer change to the same id: must be ignored
                k = self._pick_live()
                c, d, v, visitors, cur_us, _ = self.live[k]
                old_us = cur_us - rng.randint(1, 10_000_000)
                late = (rng.choice(COUNTRIES), d, v, visitors + rng.randint(1, 500), old_us, "UPDATE")
                out.append(self._record(k, late))
        self.landed.extend(out)
        changed = next(k for k in reversed(self.before) if k in self.live)
        return out, changed


# ---------------------------------------------------------------- oracle


def expected_state(seed_rows: list[tuple], landed: list[dict]) -> dict[int, tuple]:
    """Latest record per id over the seed and every landed record, by
    ``cdc_timestamp``; a DELETE removes the id. Values are
    (country, district, visit_s, visitors, cdc_us)."""
    latest: dict[int, tuple] = {}
    for k, c, d, v, n, t, op in seed_rows:
        latest[k] = (t, op, (c, d, v, n, t))
    for r in landed:
        t = _parse_us(r["cdc_timestamp"])
        k = r["id"]
        if k not in latest or t > latest[k][0]:
            row = (r["country"], r["district"], _parse_s(r["visit_timestamp"]), r["num_visitors"], t)
            latest[k] = (t, r["cdc_operation"], row)
    return {k: row for k, (_, op, row) in latest.items() if op != "DELETE"}


def _parse_us(s: str) -> int:
    d = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f").replace(tzinfo=dt.timezone.utc) - EPOCH
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def _parse_s(s: str) -> int:
    d = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc) - EPOCH
    return d.days * 86400 + d.seconds


def gold_of(state: dict[int, tuple]) -> dict[str, int]:
    out: dict[str, int] = {}
    for row in state.values():
        out[row[0]] = out.get(row[0], 0) + row[3]
    return out


_EPOCH_S = int(EPOCH.timestamp())


def silver_rows(df) -> dict[int, tuple]:
    """Silver as {id: (country, district, visit_s, visitors, cdc_us)}, times
    relative to EPOCH so they compare with the generator's."""
    rows = df.selectExpr(
        "id", "country", "district", f"unix_seconds(visit_timestamp) - {_EPOCH_S} AS v",
        "num_visitors", f"unix_micros(cdc_timestamp) - {_EPOCH_S * 1_000_000} AS t",
    ).collect()
    return {r[0]: (r[1], r[2], r[3], r[4], r[5]) for r in rows}


def diff_count(got: dict, want: dict) -> int:
    keys = set(got) | set(want)
    return sum(1 for k in keys if got.get(k) != want.get(k))


# --------------------------------------------------------------- workload


class CdcWorkload:
    """Closed loop, one client: land one file (or, with ``files_per_batch``
    > 1, a backlog of files at once), drain Bronze -> Silver -> Gold, then run
    the post-batch validation reads before landing the next."""

    def __init__(self, spark, root: str, seed: int, cfg: dict, tracer):
        from incremental_etl_on_lakehouse_spark.pipeline import MedallionPipeline

        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.lake_root = os.path.join(root, "lake")
        os.makedirs(self.landing)
        self.gen = CdcGenerator(seed, cfg)
        self.seed_rows: list[tuple] = []
        self.pipeline = MedallionPipeline(spark, self.lake_root, self.landing)
        self.n_files = 0
        self.landing_bytes = 0

    # ---------------------------------------------------------------- setup

    def seed_silver(self, rows: list[tuple], lake_root: str) -> None:
        """Write ``rows`` as a generated table and append it to a fresh
        pipeline's Silver; Gold absorbs it from Silver's change feed."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from incremental_etl_on_lakehouse_spark.pipeline import (
            SILVER_SCHEMA, MedallionPipeline, augment_bronze, silver_projection,
        )

        cols = list(zip(*rows))
        ts = pa.timestamp("us", tz="UTC")
        table = pa.table({
            "id": pa.array(cols[0], pa.int64()),
            "country": pa.array(cols[1], pa.string()),
            "district": pa.array(cols[2], pa.string()),
            "visit_timestamp": pa.array([(_EPOCH_S + v) * 1_000_000 for v in cols[3]], ts),
            "num_visitors": pa.array(cols[4], pa.int64()),
            "cdc_operation": pa.array(cols[6], pa.string()),
            "cdc_timestamp": pa.array([_EPOCH_S * 1_000_000 + t for t in cols[5]], ts),
        })
        path = lake_root + "-seed.parquet"
        pq.write_table(table, path)
        p = MedallionPipeline(self.spark, lake_root, self.landing)
        p.create_tables()
        src = silver_projection(augment_bronze(self.spark.read.parquet(path)))
        p.silver.append(src.select(*SILVER_SCHEMA.fieldNames()))
        p.silver_to_gold_available()

    def generate(self) -> float:
        """Generate the Silver seed; returns the wall time."""
        t0 = time.perf_counter()
        self.seed_rows = self.gen.seed_rows(self.cfg["seed_keys"])
        return time.perf_counter() - t0

    def setup(self, repeats: int) -> list[float]:
        """Seed Silver ``repeats`` times into fresh lake roots (the last one is
        the one measured); returns each seeding's wall time."""
        times = []
        for i in range(repeats):
            root = self.lake_root if i == repeats - 1 else os.path.join(self.root, f"lake_setup{i}")
            t0 = time.perf_counter()
            self.seed_silver(self.seed_rows, root)
            times.append(time.perf_counter() - t0)
        return times

    # ------------------------------------------------------------- one batch

    def land(self) -> tuple[int, int, list[float]]:
        """Generate and write this batch's landing files. Returns (records,
        changed id, per-file landing times)."""
        records, changed, landed_at = 0, None, []
        for _ in range(self.cfg["files_per_batch"]):
            recs, changed = self.gen.batch(self.cfg["records_per_file"])
            data = json.dumps(recs).encode()
            path = os.path.join(self.landing, f"cdc_{self.n_files:06d}.json")
            self.n_files += 1
            staged = os.path.join(self.root, "staged.json")
            with open(staged, "wb") as f:
                f.write(data)
            os.replace(staged, path)
            landed_at.append(time.perf_counter())
            self.landing_bytes += len(data)
            records += len(recs)
        return records, changed, landed_at

    def run_batch(self) -> dict:
        """Land, drain, read. Returns records, latencies (s) from each file's
        landing to the end of the drain (the Gold commit that includes the
        last file), the read-set wall time and the number of failed checks."""
        tr, p = self.tracer, self.pipeline
        with tr.span("bench.land"):
            records, changed, landed_at = self.land()
        with tr.span("pipeline.ingest"):
            p.ingest_available()
        with tr.span("pipeline.silver"):
            p.bronze_to_silver_available()
        with tr.span("pipeline.gold"):
            p.silver_to_gold_available()
        done = time.perf_counter()
        failed = self.validation_reads(changed)
        return {"records": records, "latencies": [done - t for t in landed_at],
                "read_s": time.perf_counter() - done, "failed": failed}

    def validation_reads(self, changed: int) -> int:
        """The reference's post-batch reads: full Gold, a Silver lookup of a
        changed id, the newest Silver version's change feed, and time travel
        to the version before it. Each result is checked."""
        tr, p = self.tracer, self.pipeline
        with tr.span("reads.validate"):
            gold = {r["country"]: r["sum_visitors"] for r in p.gold.to_df().collect()}
            silver = p.silver
            v = silver.version()
            now = silver_rows(silver.to_df().where(f"id = {changed}"))
            changes = silver.read_changes(v, v).select("id", "_change_type").collect()
            then = silver_rows(silver.to_df(version=v - 1).where(f"id = {changed}"))
        with tr.span("bench.check"):
            failed = 0
            if {c: n for c, n in gold.items() if n} != gold_of(self.gen.live):
                failed += 1
            if now.get(changed) != self.gen.live[changed][:5]:
                failed += 1
            if not any(r[0] == changed for r in changes):
                failed += 1
            # Silver's previous version is the state before the last file
            want = self.gen.before[changed]
            if then.get(changed) != (want[:5] if want else None):
                failed += 1
        return failed

    # --------------------------------------------------------------- checks

    def final_check(self) -> tuple[int, int]:
        """Silver against the net-effective log, Gold against SUM per country
        over that Silver. Returns (checks, failed)."""
        want = expected_state(self.seed_rows, self.gen.landed)
        got = silver_rows(self.pipeline.silver.to_df())
        gold = {r["country"]: r["sum_visitors"] for r in self.pipeline.gold.to_df().collect()}
        failed = 0
        bad = diff_count(got, want)
        if bad:
            print(f"oracle: {bad} Silver ids differ from the net-effective log", file=sys.stderr)
            failed += 1
        if {c: n for c, n in gold.items() if n} != gold_of(want):
            print("oracle: Gold differs from SUM per country over Silver", file=sys.stderr)
            failed += 1
        return 2, failed
