"""Iceberg-snapshot emulation over parquet + a manifest JSON.

No Iceberg runtime jar exists in this sandbox (checked: /opt/spark/jars), so
snapshot semantics are emulated with the same guarantees the pipeline needs:
 - atomic commit: data files land in a staging dir, are moved into data/,
   and become visible only when the manifest is atomically replaced
   (os.replace) pointing at the new snapshot
 - resume: read_table() lists only files recorded in the manifest, so a
   crashed run's partial staging output is invisible to the resume anti-join
 - lineage: each snapshot records parent id, file list, and row count

On a real cluster this module is replaced by `df.writeTo(tbl).append()` on
an Iceberg catalog; run_extract_job's logic is unchanged.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"
COMMIT_LOCK = "_commit.lock"
_LOCK_STALE_S = 120.0
_LOCK_TIMEOUT_S = 60.0


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, MANIFEST)


@contextlib.contextmanager
def _commit_lock(table_dir: str):
    """Interprocess mutex around the manifest read-modify-write.

    Two writers (e.g. an incremental append and a concurrent compact())
    each do read prev -> build manifest(parent=prev) -> publish; without
    mutual exclusion the second publish silently discards the first
    commit's files. O_CREAT|O_EXCL on a lock file serializes the critical
    section (atomic on POSIX local filesystems); the lock is held only
    for the manifest swap, never during data-file writes, so contention
    is microseconds. A crashed holder's lock older than _LOCK_STALE_S is
    broken. On a real object store this is replaced by the Iceberg
    catalog's compare-and-swap on the metadata pointer; callers are
    unchanged."""
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, COMMIT_LOCK)
    deadline = time.monotonic() + _LOCK_TIMEOUT_S
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()} {time.time()}\n".encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(path) > _LOCK_STALE_S:
                    os.remove(path)  # break a crashed holder's stale lock
                    continue
            except FileNotFoundError:
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy > {_LOCK_TIMEOUT_S}s: "
                                   f"{path}")
            time.sleep(0.02)
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def _write_json_atomic(path: str, obj: dict) -> None:
    """tmp + os.replace so a crash mid-write never leaves a torn JSON
    (history files are json.load()ed by snapshot_log — a torn file would
    poison every subsequent log/time-travel read)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def read_manifest(table_dir: str) -> dict | None:
    p = _manifest_path(table_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def new_staging(table_dir: str) -> str:
    staging = os.path.join(table_dir, f"_staging-{uuid.uuid4().hex[:12]}")
    os.makedirs(staging, exist_ok=True)
    return staging


def _collect_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(dirpath, fn), root))
    return sorted(out)


def _publish(table_dir: str, staging: str, data_dir: str,
             build: Callable[[dict | None, str, list[str]], dict]) -> str:
    """Move staged files into data/ and atomically publish the manifest
    `build(prev, snapshot_id, moved)` returns, then its history entry.

    The data-file moves happen OUTSIDE the commit lock (they are keyed by a
    fresh snapshot id, so they can't collide with a concurrent writer); only
    the manifest read-modify-write is serialized, and `build` runs inside
    it, so a concurrent append and compact() each land with the other's
    files carried over."""
    snapshot_id = uuid.uuid4().hex[:16]
    moved: list[str] = []
    for rel in _collect_files(staging):
        # keep partition subdirs (bucket=N/...) and avoid name collisions by
        # prefixing the snapshot id
        d, fn = os.path.split(rel)
        dst_rel = os.path.join(d, f"{snapshot_id}-{fn}")
        dst = os.path.join(data_dir, dst_rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(os.path.join(staging, rel), dst)
        moved.append(dst_rel)
    shutil.rmtree(staging, ignore_errors=True)

    with _commit_lock(table_dir):
        manifest = build(read_manifest(table_dir), snapshot_id, moved)
        _write_json_atomic(_manifest_path(table_dir), manifest)  # publish
        # immutable per-snapshot manifest (Iceberg metadata-log analogue) —
        # written AFTER the pointer flip: a crash in between must never
        # leave a never-published snapshot in history (its sequence number
        # would be reused by the next commit, making as_of=<seq>
        # ambiguous). The reverse gap — published but missing from
        # history — is self-healed by snapshot_log() merging the current
        # manifest.
        log_dir = os.path.join(table_dir, "snapshots")
        os.makedirs(log_dir, exist_ok=True)
        _write_json_atomic(
            os.path.join(log_dir,
                         f"{manifest['sequence']:06d}-{snapshot_id}.json"),
            manifest)
    return snapshot_id


def commit(table_dir: str, staging: str, data_dir: str, row_count: int) -> str:
    """Move staged files into data/ and atomically publish a new snapshot
    that appends them to the current file list."""
    def build(prev, snapshot_id, moved):
        return {
            "snapshot_id": snapshot_id,
            "parent_id": prev["snapshot_id"] if prev else None,
            "sequence": (prev["sequence"] + 1) if prev else 0,
            "committed_at": time.time(),
            "row_count_delta": row_count,
            "files": (prev["files"] if prev else []) + moved,
        }

    return _publish(table_dir, staging, data_dir, build)


def snapshot_log(table_dir: str) -> list[dict]:
    """All committed snapshots, oldest first (Iceberg history analogue).
    Self-heals the crash window where the current manifest was published
    but its history file was not yet written."""
    log_dir = os.path.join(table_dir, "snapshots")
    out = []
    if os.path.isdir(log_dir):
        for fn in sorted(os.listdir(log_dir)):
            if not fn.endswith(".json"):
                continue
            try:
                with open(os.path.join(log_dir, fn)) as f:
                    out.append(json.load(f))
            except (OSError, ValueError):
                # a torn/unreadable history file (pre-atomic-write crash
                # debris) must not poison the whole log; the entry is
                # re-healed from the current manifest below if it is the
                # published snapshot, else it was never published at all
                continue
    cur = read_manifest(table_dir)
    if cur and cur["snapshot_id"] not in {s["snapshot_id"] for s in out}:
        out.append(cur)
        os.makedirs(log_dir, exist_ok=True)
        _write_json_atomic(
            os.path.join(log_dir,
                         f"{cur['sequence']:06d}-{cur['snapshot_id']}.json"),
            cur)
    return out


def read_table(spark: SparkSession, table_dir: str,
               as_of: str | int | None = None) -> DataFrame | None:
    """Read the table at the current snapshot, or time-travel to a past one.

    as_of accepts a snapshot_id (str) or a sequence number (int). A
    snapshot's file list is immutable once written, so a time-travel read is
    just a scan of exactly those files — same as Iceberg's
    `VERSION AS OF`. Raises KeyError for an unknown snapshot.
    """
    if as_of is None:
        m = read_manifest(table_dir)
    else:
        key = "sequence" if isinstance(as_of, int) else "snapshot_id"
        m = next((s for s in snapshot_log(table_dir) if s[key] == as_of), None)
        if m is None:
            raise KeyError(f"no snapshot with {key}={as_of!r}")
    if not m or not m["files"]:
        return None
    data_dir = os.path.join(table_dir, "data")
    return spark.read.option("basePath", data_dir).parquet(
        *[os.path.join(data_dir, rel) for rel in m["files"]]
    )


def commit_replace(table_dir: str, staging: str, data_dir: str,
                   replaced: list[str]) -> str:
    """Publish a REPLACE snapshot: staged files swap in for `replaced`
    (relative paths from the current manifest); every other file carries
    over. Row count is unchanged by construction — this is the commit
    primitive for compaction (Iceberg rewrite_data_files analogue). The
    replaced files stay on disk: older snapshots still reference them for
    time travel until expire_snapshots() reclaims them."""
    def build(prev, snapshot_id, moved):
        # prev is read INSIDE the lock: a concurrent append between
        # compact()'s planning scan and this commit adds files that must
        # carry over into `kept` (they were not among the rewritten ones).
        if prev is None:
            raise ValueError("commit_replace on a table with no snapshot")
        missing = set(replaced) - set(prev["files"])
        if missing:
            raise ValueError(
                f"replace of files not in current snapshot: {missing}")
        kept = [f for f in prev["files"] if f not in set(replaced)]
        return {
            "snapshot_id": snapshot_id,
            "parent_id": prev["snapshot_id"],
            "sequence": prev["sequence"] + 1,
            "committed_at": time.time(),
            "row_count_delta": 0,
            "operation": "replace",
            "replaced_files": sorted(replaced),
            "files": kept + moved,
        }

    return _publish(table_dir, staging, data_dir, build)


def compact(spark: SparkSession, table_dir: str,
            target_mb: int = 256, min_files: int = 2,
            max_concurrency: int = 8) -> dict:
    """Small-file compaction (Iceberg rewrite_data_files analogue).

    Append-only snapshot tables accrete one file per task per commit; at
    10^12-doc scale a daily incremental run turns the table into millions
    of KB-sized files and every downstream scan pays the open/footer cost.
    Per partition directory (bucket=N), all files smaller than target_mb
    are rewritten into ceil(total_bytes / target_mb) files and swapped in
    via ONE atomic replace snapshot. Files >= target_mb are left alone
    (rewriting them buys nothing). Returns a report dict.

    Scale shape: each partition compacts independently from a column-
    complete scan of only its small files — no shuffle (coalesce, not
    repartition), no driver-side row movement; the driver only lists file
    metadata. Per-partition rewrite jobs are submitted CONCURRENTLY
    (Spark schedulers accept actions from many driver threads), so a
    10k-partition table is bounded by cluster capacity, not by a serial
    driver loop; `max_concurrency` caps in-flight jobs."""
    m = read_manifest(table_dir)
    if m is None or not m["files"]:
        return {"compacted_partitions": 0, "files_before": 0, "files_after": 0}
    data_dir = os.path.join(table_dir, "data")
    target = target_mb * 1024 * 1024
    by_dir: dict[str, list[str]] = {}
    for rel in m["files"]:
        d = os.path.dirname(rel)
        if os.path.getsize(os.path.join(data_dir, rel)) < target:
            by_dir.setdefault(d, []).append(rel)
    staging = new_staging(table_dir)
    jobs = [(d, rels) for d, rels in sorted(by_dir.items())
            if len(rels) >= min_files]

    def rewrite(d: str, rels: list[str]) -> list[str]:
        total = sum(os.path.getsize(os.path.join(data_dir, r)) for r in rels)
        n_out = max(1, (total + target - 1) // target)
        df = spark.read.option("basePath", data_dir).parquet(
            *[os.path.join(data_dir, r) for r in rels])
        # basePath infers directory partition columns (bucket=N) INTO the
        # DataFrame; writing them out would physically embed them in the
        # rewritten files while the original append-path files don't carry
        # them — mixed per-file schemas in one table. The partition dirs in
        # staging preserve the values for basePath reads, so drop the
        # inferred columns before the rewrite write.
        part_cols = [seg.split("=", 1)[0]
                     for seg in d.split(os.sep) if "=" in seg]
        if part_cols:
            df = df.drop(*part_cols)
        if d:
            out_dir = os.path.join(staging, d)
            df.coalesce(int(n_out)).write.mode("overwrite").parquet(out_dir)
        else:
            # root-level files: never write directly into the shared
            # staging root (mode=overwrite would clobber sibling
            # partitions' already-staged subdirs). Stage into a scratch
            # subdir, then hoist the parquet files up to the root.
            scratch = os.path.join(staging, f"_root-{uuid.uuid4().hex[:8]}")
            df.coalesce(int(n_out)).write.mode("overwrite").parquet(scratch)
            for fn in os.listdir(scratch):
                if fn.endswith(".parquet"):
                    shutil.move(os.path.join(scratch, fn),
                                os.path.join(staging, fn))
            shutil.rmtree(scratch, ignore_errors=True)
        return rels

    replaced: list[str] = []
    n_parts = 0
    if jobs:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=min(max_concurrency,
                                                len(jobs))) as pool:
            for rels in pool.map(lambda jd: rewrite(*jd), jobs):
                replaced.extend(rels)
                n_parts += 1
    if not replaced:
        shutil.rmtree(staging, ignore_errors=True)
        return {"compacted_partitions": 0,
                "files_before": len(m["files"]),
                "files_after": len(m["files"])}
    sid = commit_replace(table_dir, staging, data_dir, replaced)
    after = read_manifest(table_dir)
    return {"snapshot_id": sid, "compacted_partitions": n_parts,
            "files_before": len(m["files"]),
            "files_after": len(after["files"])}


def expire_snapshots(table_dir: str, keep_last: int = 3) -> dict:
    """Retire history older than the last `keep_last` snapshots and delete
    data files no retained snapshot references (Iceberg expire_snapshots
    analogue — the GC half of the compaction pair). The CURRENT snapshot
    is always retained. Time travel to an expired snapshot raises KeyError
    afterward, exactly like Iceberg."""
    log = snapshot_log(table_dir)
    if len(log) <= keep_last:
        return {"expired": 0, "deleted_files": 0}
    retained, expired = log[-keep_last:], log[:-keep_last]
    live = {f for s in retained for f in s["files"]}
    data_dir = os.path.join(table_dir, "data")
    deleted = 0
    for s in expired:
        for rel in s["files"]:
            if rel not in live:
                try:
                    os.remove(os.path.join(data_dir, rel))
                    deleted += 1
                except FileNotFoundError:
                    pass
        # remove the history entry so the log and the data agree
        p = os.path.join(table_dir, "snapshots",
                         f"{s['sequence']:06d}-{s['snapshot_id']}.json")
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    return {"expired": len(expired), "deleted_files": deleted}
