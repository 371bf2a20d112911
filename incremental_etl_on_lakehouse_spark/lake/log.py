"""Commit log for the lake table format.

One JSON file per commit under ``<table>/_lake_log/``; the file name is the
zero-padded version. A commit lists data files added/removed (paths relative
to the table root), the schema, table properties, and operation metadata.

Commits are atomic put-if-absent publications, so a concurrent second
writer of the same version loses cleanly with ``FileExistsError``. The
storage primitives live behind :class:`~.logstore.LogStore` (local POSIX
link-into-place by default; object-store implementations plug in via
``logstore.register_store`` — see that module for the S3/GCS/Azure
conditional-PUT mapping).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from incremental_etl_on_lakehouse_spark.lake.logstore import store_for

LOG_DIR = "_lake_log"
CDF_DIR = "_cdf"
DATA_DIR = "data"


@dataclass
class Commit:
    version: int
    # What wrote the commit. LakeTable writes: CREATE, CONVERT, CLONE,
    # REPLACE (REPLACE TABLE and replaceWhere), ADD/DROP CONSTRAINT,
    # ADD/DROP/RENAME COLUMN(S), SET/UNSET TBLPROPERTIES, APPEND, OVERWRITE,
    # DELETE, UPDATE, MERGE, COMPACT, RESTORE — plus any name a caller passes
    # to ``LakeTable.append(operation=...)`` (e.g. COPY INTO).
    operation: str
    timestamp_ms: int
    add: list[dict] = field(default_factory=list)  # {"path": rel, "rows": int}
    remove: list[str] = field(default_factory=list)
    schema_json: str | None = None
    properties: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    cdf_path: str | None = None  # relative dir of materialized change rows
    # Deletion-vector reassignments: {data_rel_path: dv_rel_path | ""}.
    # A non-empty value REPLACES the file's current DV (the new DV carries
    # the cumulative deleted-row set); "" clears it (e.g. RESTORE to a
    # pre-delete version). Removing a data file implicitly drops its DV.
    dv: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "operation": self.operation,
                "timestamp_ms": self.timestamp_ms,
                "add": self.add,
                "remove": self.remove,
                "schema_json": self.schema_json,
                "properties": self.properties,
                "metrics": self.metrics,
                "cdf_path": self.cdf_path,
                "dv": self.dv,
            }
        )

    @staticmethod
    def from_json(s: str) -> "Commit":
        d = json.loads(s)
        return Commit(
            version=d["version"],
            operation=d["operation"],
            timestamp_ms=d["timestamp_ms"],
            add=d.get("add", []),
            remove=d.get("remove", []),
            schema_json=d.get("schema_json"),
            properties=d.get("properties", {}),
            metrics=d.get("metrics", {}),
            cdf_path=d.get("cdf_path"),
            dv=d.get("dv", {}),
        )


def log_dir(table_path: str) -> str:
    return os.path.join(table_path, LOG_DIR)


def _commit_file(table_path: str, version: int) -> str:
    return os.path.join(log_dir(table_path), f"{version:020d}.json")


def read_log(table_path: str) -> list[Commit]:
    store = store_for(table_path)
    d = log_dir(table_path)
    commits = []
    for name in sorted(store.list_dir(d)):
        if name.endswith(".json") and not name.endswith(".checkpoint.json"):
            commits.append(
                Commit.from_json(store.read_text(os.path.join(d, name)))
            )
    return commits


def latest_version(table_path: str) -> int:
    commits = read_log(table_path)
    return commits[-1].version if commits else -1


def write_commit(table_path: str, commit: Commit) -> None:
    """Atomically publish a commit; raises FileExistsError on version conflict.

    put_if_absent is the OCC primitive: exactly one of N racing writers of
    a version succeeds — the single-table equivalent of Delta's optimistic
    concurrency control.

    In-commit timestamp monotonicity (Delta's inCommitTimestamps): the
    recorded timestamp is clamped to strictly exceed the previous
    commit's, so ``TIMESTAMP AS OF`` stays well-defined even when writers
    run on machines with skewed clocks (on object stores different
    committers routinely disagree by seconds — without the clamp a later
    version could carry an earlier timestamp and time travel would pick
    the wrong snapshot). One extra O(1) commit read per write."""
    store = store_for(table_path)
    store.mkdirs(log_dir(table_path))
    if commit.version > 0 and commit.timestamp_ms is not None:
        try:
            prev = Commit.from_json(
                store.read_text(_commit_file(table_path, commit.version - 1))
            )
            if prev.timestamp_ms is not None:
                commit.timestamp_ms = max(
                    commit.timestamp_ms, prev.timestamp_ms + 1
                )
        except FileNotFoundError:
            pass  # gap implies external surgery; publish as given
    store.put_if_absent(
        _commit_file(table_path, commit.version), commit.to_json()
    )
    maybe_write_checkpoint(table_path, commit.version, commit)


def snapshot_files(commits: list[Commit], version: int | None = None) -> list[str]:
    """Active data files (relative paths) as of ``version`` (default: latest)."""
    active: dict[str, dict] = {}
    for c in commits:
        if version is not None and c.version > version:
            break
        for a in c.add:
            active[a["path"]] = a
        for r in c.remove:
            active.pop(r, None)
    return list(active.keys())


# --------------------------------------------------------------------------
# Log checkpoints: every CHECKPOINT_INTERVAL commits, the full table state
# (active files + schema + properties) is rolled up into one file, so state
# reconstruction reads checkpoint + tail instead of every commit since
# version 0 — the same mechanism as Delta's _delta_log checkpoints. Commit
# files are never deleted (time travel / change feed still read them).
# --------------------------------------------------------------------------

CHECKPOINT_INTERVAL = 20


def _checkpoint_file(table_path: str, version: int) -> str:
    return os.path.join(log_dir(table_path), f"{version:020d}.checkpoint.json")


def list_versions(table_path: str) -> tuple[list[int], list[int]]:
    """(commit versions, checkpoint versions), each sorted ascending."""
    d = log_dir(table_path)
    commits, ckpts = [], []
    for name in store_for(table_path).list_dir(d):
        if name.endswith(".checkpoint.json"):
            ckpts.append(int(name.split(".")[0]))
        elif name.endswith(".json") and not name.endswith(".tmp"):
            stem = name.split(".")[0]
            if stem.isdigit():
                commits.append(int(stem))
    return sorted(commits), sorted(ckpts)


def read_commit(table_path: str, version: int) -> Commit:
    return Commit.from_json(
        store_for(table_path).read_text(_commit_file(table_path, version))
    )


def table_state(table_path: str, version: int | None = None) -> dict | None:
    """Reconstruct {version, active: {path: add-entry}, schema_json,
    properties} as of ``version`` from the nearest checkpoint plus the
    commit tail. Returns None for a non-table path."""
    commit_vs, ckpt_vs = list_versions(table_path)
    if not commit_vs:
        return None
    target = version if version is not None else commit_vs[-1]
    state = {
        "version": -1,
        "active": {},
        "schema_json": None,
        "properties": {},
        "dv": {},
        "row_hwm": 0,
    }
    usable = [v for v in ckpt_vs if v <= target]
    if usable:
        cp = usable[-1]
        state = json.loads(
            store_for(table_path).read_text(
                _checkpoint_file(table_path, cp)
            )
        )
        state.setdefault("dv", {})  # checkpoints written before DV support
        if "row_hwm" not in state:
            # pre-row-tracking checkpoint: derive a high-water mark and
            # bases for the actives it carries. Prefer replaying the
            # available history in COMMIT order — the same assignment a
            # from-zero fold produces — so the same untouched file reports
            # the same _row_id whether a reconstruction starts from this
            # checkpoint or below it (time travel past the checkpoint).
            if commit_vs and commit_vs[0] == 0:
                hwm = 0
                bases: dict[str, int] = {}
                for rv in commit_vs:
                    if rv > cp:
                        break
                    rc = read_commit(table_path, rv)
                    for a in rc.add:
                        b = a.get("base", hwm)
                        bases[a["path"]] = b
                        hwm = max(hwm, b + (a.get("rows") or 0))
                for rel, a in state["active"].items():
                    if "base" not in a:
                        a["base"] = bases.get(rel, hwm)
                state["row_hwm"] = hwm
            else:
                # history below the checkpoint is gone (log retention):
                # sorted-by-path is the only deterministic choice, and ids
                # are then only stable from the upgrade version onward —
                # no below-checkpoint fold can exist to disagree with
                hwm = 0
                for rel in sorted(state["active"]):
                    a = state["active"][rel]
                    if "base" not in a:
                        a["base"] = hwm
                    hwm = max(hwm, a["base"] + (a.get("rows") or 0))
                state["row_hwm"] = hwm
    for v in commit_vs:
        if v <= state["version"] or v > target:
            continue
        c = read_commit(table_path, v)
        for a in c.add:
            # Row-tracking bases (Delta's baseRowId): every add entry gets
            # a fresh id range [base, base + rows) off the table's
            # monotone high-water mark — assigned HERE in the fold, so no
            # write path needs changing and the assignment is a pure
            # function of the log. Entries that already carry a base
            # (RESTORE / CLONE copy folded entries verbatim) keep it:
            # that is exactly what makes row ids survive a rollback.
            if "base" not in a:
                a["base"] = state["row_hwm"]
            state["row_hwm"] = max(
                state["row_hwm"], a["base"] + (a.get("rows") or 0)
            )
            state["active"][a["path"]] = a
        for r in c.remove:
            state["active"].pop(r, None)
            state["dv"].pop(r, None)
        for f_rel, dv_rel in c.dv.items():
            if dv_rel:
                state["dv"][f_rel] = dv_rel
            else:
                state["dv"].pop(f_rel, None)
        if c.schema_json:
            state["schema_json"] = c.schema_json
        # a property committed as None is an UNSET (removal marker)
        for pk, pv in c.properties.items():
            if pv is None:
                state["properties"].pop(pk, None)
            else:
                state["properties"][pk] = pv
        state["version"] = v
    if version is not None and state["version"] != version:
        # versions are contiguous, so a reconstruction that didn't land on
        # the requested version means its history is gone (log retention
        # cleanup) — raise instead of answering from partial state
        raise ValueError(
            f"version {version} is no longer reconstructible (earliest "
            f"available state is v{state['version']}; log retention "
            "cleanup removed older commits)"
            if state["version"] > version
            else f"no commit at version {version}"
        )
    return state


def clean_log(table_path: str, retention_ms: int) -> list[int]:
    """Log retention (Delta's ``delta.logRetentionDuration`` auto-clean):
    delete the maximal PREFIX of commit files older than ``retention_ms``,
    after pinning a checkpoint at the boundary so every retained version
    stays exactly reconstructible. At 100 TB commit rates (a micro-batch
    merge a minute is half a million commits a year) the log itself is a
    scale problem; after cleanup it is O(retention), like the data after
    VACUUM.

    Contract (same as Delta): time travel / CDF / history below the
    boundary raise cleanly instead of answering from partial history;
    everything at or after the boundary is unaffected. Returns the deleted
    versions. Only a contiguous prefix is ever deleted — commits newer
    than an old-but-retained commit wait for it, keeping the retained log
    gap-free."""
    commit_vs, ckpt_vs = list_versions(table_path)
    if not commit_vs:
        return []
    latest = commit_vs[-1]
    # Same eligibility clock as VACUUM (round 11): in-commit timestamps are
    # clamped monotonic and can run AHEAD of the wall clock when commits
    # land faster than it ticks, so age is measured against
    # max(wall-clock, latest commit ts + 1) — otherwise a 0-ms-retention
    # cleanup stops its prefix at the first clamped-ahead commit and
    # deletes less than the retention asks.
    now = now_ms()
    latest_ts = read_commit(table_path, latest).timestamp_ms
    if latest_ts is not None:
        now = max(now, latest_ts + 1)
    horizon = now - retention_ms
    boundary = commit_vs[0]
    for v in commit_vs:
        # never delete the latest commit; the prefix stops at the first
        # young commit
        if v >= latest or read_commit(table_path, v).timestamp_ms >= horizon:
            break
        boundary = v + 1
    doomed = [v for v in commit_vs if v < boundary]
    if not doomed:
        return []
    store = store_for(table_path)
    # pin the boundary state BEFORE deleting anything: the checkpoint at
    # boundary-1 is what keeps state/dv/row-id bases reconstructible for
    # every retained version
    if boundary - 1 not in ckpt_vs:
        state = table_state(table_path, boundary - 1)
        try:
            store.put_if_absent(
                _checkpoint_file(table_path, boundary - 1), json.dumps(state)
            )
        except FileExistsError:
            pass
    for v in doomed:
        store.delete(_commit_file(table_path, v))
    for cv in ckpt_vs:
        if cv < boundary - 1:
            store.delete(_checkpoint_file(table_path, cv))
    return doomed


# per-process cache of each table's effective checkpoint interval (the
# `checkpointInterval` table property — Delta's delta.checkpointInterval).
# Own-process property commits update it immediately; a CONCURRENT
# process's change is picked up lazily (first commit after the cache
# seeds) — benign, because checkpoint placement is derived data: readers
# use the nearest checkpoint <= target regardless of cadence.
# Keys are os.path.abspath-normalized (raw and absolute spellings of the
# same table must share one entry); LakeTable.create/drop invalidate the
# entry so a recreated table never inherits its predecessor's cadence.
_CKPT_INTERVAL_CACHE: dict[str, int] = {}


def _ckpt_cache_key(table_path: str) -> str:
    return os.path.abspath(table_path)


def invalidate_ckpt_interval(table_path: str) -> None:
    """Drop the cached checkpoint cadence for ``table_path`` — called on
    table drop/create so a NEW incarnation at the same path re-reads its
    own ``checkpointInterval`` instead of inheriting the dropped table's."""
    _CKPT_INTERVAL_CACHE.pop(_ckpt_cache_key(table_path), None)
    # legacy un-normalized entries from direct cache pokes
    _CKPT_INTERVAL_CACHE.pop(table_path, None)


def _safe_ckpt_interval(v) -> int:
    """Lenient parse of a ``checkpointInterval`` property value: this is
    evaluated AFTER the commit file is durably written, so a malformed
    value must degrade to the default cadence, never raise — a raising
    parse would make every subsequent write on the table fail post-commit
    until the property is fixed."""
    try:
        return max(1, int(str(v).strip()))
    except (TypeError, ValueError):
        return CHECKPOINT_INTERVAL


def _resolve_checkpoint_interval(table_path: str, commit: Commit) -> int:
    key = _ckpt_cache_key(table_path)
    if "checkpointInterval" in commit.properties:
        v = commit.properties["checkpointInterval"]
        iv = CHECKPOINT_INTERVAL if v is None else _safe_ckpt_interval(v)
        _CKPT_INTERVAL_CACHE[key] = iv
        return iv
    if key not in _CKPT_INTERVAL_CACHE:
        st = table_state(table_path)
        v = (st or {}).get("properties", {}).get("checkpointInterval")
        _CKPT_INTERVAL_CACHE[key] = (
            _safe_ckpt_interval(v) if v else CHECKPOINT_INTERVAL
        )
    return _CKPT_INTERVAL_CACHE[key]


def maybe_write_checkpoint(
    table_path: str, version: int, commit: Commit
) -> None:
    """Roll up a checkpoint after every interval-th commit (interval from
    the table's ``checkpointInterval`` property, default
    CHECKPOINT_INTERVAL)."""
    interval = _resolve_checkpoint_interval(table_path, commit)
    if version == 0 or version % interval != 0:
        return
    state = table_state(table_path, version)
    try:
        store_for(table_path).put_if_absent(
            _checkpoint_file(table_path, version), json.dumps(state)
        )
    except FileExistsError:
        # another writer checkpointed the same version — identical content
        pass


def now_ms() -> int:
    return int(time.time() * 1000)
