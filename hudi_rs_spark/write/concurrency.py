"""Concurrency control for the write path: instant claims + a
pluggable lock provider.

The timeline's integrity rests on one invariant: AT MOST ONE writer
publishes a given instant. Two writers that resolve the same instant
(clock collision, or an operator launching the same job twice) would
otherwise interleave silently — the second ``publish_bytes`` wins and
the first job's files dangle under a commit that doesn't describe them.
Hudi proper guards this with requested/inflight marker files plus an
optional external lock service; this module is the same design:

- ``claim_instant`` atomically creates
  ``{timeline}/{instant}.{action}.requested`` through the storage
  backend (O_EXCL locally, dict-lock on memory://). A second claimant
  gets ``ConcurrentWriteError`` — loud, before any data lands. The
  marker doubles as the PENDING signal the readers already honor
  (``timeline.pending_timestamps``): a crashed write leaves it behind,
  which keeps archival/cleaning from mistaking the dead instant for
  settled history until rollback removes it.
- ``LockProvider`` is the pluggable interface for mutual exclusion
  beyond one instant (table-level critical sections, e.g. services that
  rewrite shared MDT file groups). ``StorageLockProvider`` implements
  it on the storage ``create_new`` primitive — correct on local/HDFS/
  memory backends; on S3-style stores without conditional PUT it is
  best-effort, so production multi-writer there should inject a real
  provider (DynamoDB/ZooKeeper-backed) — exactly Hudi's own guidance
  for ``hoodie.write.lock.provider``.
- ``publish`` is the one way any committer (the batch and streaming
  writers, compaction, clustering, the bucket services, drop-partition
  and truncate, schema DDL, bootstrap) completes a data-timeline
  instant: under ``commit_lock`` it loads the table, runs
  ``check_commit_conflicts`` against the caller's read point, removes
  the commit's files on a conflict, publishes, and applies the MDT.
  Because the check and the publish hold one lock, no commit can land
  between them.

The streaming sink does NOT call ``claim_instant``: its per-(query,
batch) instant sidecar is already an atomic create-if-absent claim, and
a restart must legitimately REUSE the claimed instant when replaying
the last unacknowledged batch.
"""

from __future__ import annotations

import time


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the instant/lock this writer needs."""


# ---------------------------------------------------------------------------
# instant claims
# ---------------------------------------------------------------------------
def _marker_path(tdir: str, instant: str, action: str) -> str:
    return f"{tdir}/{instant}.{action}.requested"


def claim_instant(cfg, action: str | None = None, max_retries: int = 5) -> str:
    """Atomically claim ``cfg.instant`` on the table's timeline; returns
    the marker path. Raises ConcurrentWriteError when another writer
    already claimed it. Call BEFORE any task writes data. ``action``
    must be the action the instant will PUBLISH as (defaults to
    ``cfg.action``) so the marker parses as that instant's pending
    state for readers/archival.

    Timestamp uniqueness across ACTIONS: marker names embed the action,
    so ``create_new`` alone only serializes same-action writers — a
    deltacommit and a replacecommit landing in the same millisecond
    would otherwise both claim timestamp T, publish two instants that
    share it, and slip past the OCC check (which identifies "self" by
    timestamp). After creating its marker, the claimer lists the
    timeline dir for any OTHER file using the timestamp; on a hit it
    releases the marker and retries on a fresh (strictly later)
    instant. The later creator of a colliding pair always sees the
    earlier one's marker (its list follows its own create), so at most
    one writer keeps a contested timestamp."""
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    action = action or cfg.action
    tdir = timeline_dir(cfg)
    fs = _fs(tdir, cfg.storage_dict())
    marker, cfg.instant = claim_unique_timestamp(
        fs,
        tdir,
        cfg.instant,
        lambda inst: (_marker_path(tdir, inst, action), b""),
        pinned=cfg.instant_pinned,
        path=cfg.path,
        what=action,
        max_retries=max_retries,
    )
    return marker


def claim_unique_timestamp(
    fs,
    tdir: str,
    instant: str,
    make_marker,
    pinned: bool,
    path: str,
    what: str,
    max_retries: int = 5,
) -> tuple[str, str]:
    """Create the ``make_marker(instant) -> (path, payload)`` claim file
    atomically AND verify no other timeline file (marker of another
    action, published instant) uses the same timestamp; on a collision
    regenerate a strictly-later instant and retry (unless ``pinned``).
    Returns (marker_path, final_instant)."""
    from hudi_rs_spark.write.config import new_instant

    for attempt in range(max_retries + 1):
        marker, payload = make_marker(instant)
        if not fs.create_new(marker, payload):
            raise ConcurrentWriteError(
                f"instant {instant} ({what}) is already claimed by "
                f"another writer on {path} — concurrent writes to one "
                "table require distinct instants; retry to obtain a new one"
            )
        own = marker.rsplit("/", 1)[-1]
        taken = [
            e.name
            for e in fs.list_dir(tdir)
            if not e.is_dir
            and e.name != own
            and (
                e.name.startswith(instant + ".")
                or e.name.startswith(instant + "_")
            )
        ]
        if not taken:
            return marker, instant
        fs.remove(marker)
        if pinned or attempt == max_retries:
            raise ConcurrentWriteError(
                f"instant timestamp {instant} is already in use on "
                f"{path} ({sorted(taken)[:3]}) — same-millisecond "
                "collision with a concurrent writer; retry to obtain a "
                "new instant"
            )
        nxt = new_instant()
        while nxt <= instant:
            time.sleep(0.001)
            nxt = new_instant()
        instant = nxt
    raise AssertionError("unreachable")


def release_instant(cfg, action: str | None = None) -> None:
    """Remove the claim marker after the instant is published (or the
    write aborted). A crashed write never reaches this — the surviving
    marker keeps the instant PENDING for readers/archival until
    ``rollback_failed_writes`` reclaims it."""
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    tdir = timeline_dir(cfg)
    _fs(tdir, cfg.storage_dict()).remove(
        _marker_path(tdir, cfg.instant, action or cfg.action)
    )


# ---------------------------------------------------------------------------
# optimistic concurrency control (cross-instant)
# ---------------------------------------------------------------------------
def completed_instant_set(path: str, options: dict | None = None) -> frozenset[str]:
    """Completed data-timeline instants right now — the writer's READ
    POINT snapshot, captured at claim time for ``check_commit_conflicts``.
    Empty for a not-yet-created table."""
    from hudi_rs_spark.write.writer import existing_table

    t = existing_table(path, options)
    if t is None:
        return frozenset()
    return frozenset(i.timestamp for i in t.timeline.instants)


def check_commit_conflicts(
    cfg,
    table,
    read_point: frozenset[str],
    touched: set[tuple[str, str]],
    strict: bool = False,
    ignore_log_anchor: str | None = None,
    nbcc_log_appends: bool = False,
) -> None:
    """Hudi-style optimistic concurrency control, run at COMMIT time
    (after this writer's tasks finished, before its instant publishes):
    every instant that completed since ``read_point`` (the completed-
    instant set captured at claim time) is a concurrent writer; if any
    of them touched a (partition, file_id) this writer also touched —
    or replaced one via clustering/overwrite — the later commit would
    silently drop the earlier one's updates (lost update), so fail loudly
    with ``ConcurrentWriteError`` instead. Disjoint writers pass.

    ``strict`` (overwrite/replace operations): ANY concurrent completed
    data commit conflicts — a replacecommit planned before the other
    write landed cannot exclude file groups it never saw.

    ``table``: the table as ``publish`` loaded it under the commit lock.

    Preserves the linearized-timeline assumption the readers' merge
    semantics rely on (reference merge/record_merger.rs:89-187)."""
    timeline = table.timeline
    # "self" is identified by (timestamp, action), not bare timestamp:
    # claim_unique_timestamp makes cross-action timestamp collisions
    # near-impossible, but if one ever slipped through (e.g. a marker
    # removed by hand), a foreign instant sharing our timestamp must
    # still be treated as concurrent, not silently skipped
    own_action = str(cfg.action)
    concurrent = [
        i
        for i in timeline.instants
        if i.timestamp not in read_point
        and not (i.timestamp == cfg.instant and i.action.value == own_action)
    ]
    if not concurrent:
        return
    if strict:
        raise ConcurrentWriteError(
            f"instant {cfg.instant} ({cfg.operation}) conflicts with "
            f"concurrently completed instant(s) "
            f"{[i.timestamp for i in concurrent]} on {cfg.path}: "
            "overwrite/replace operations cannot exclude file groups "
            "written after their plan was captured — retry the operation"
        )
    for i in concurrent:
        # FAIL CLOSED on unreadable concurrent metadata: every instant in
        # ``timeline.instants`` is a completed DATA action (non-data
        # actions never parse into the timeline), so its metadata must be
        # readable to prove disjointness. Skipping it would silently
        # disable conflict detection for exactly the instant most likely
        # to conflict — the lost update this check exists to prevent.
        # One retry absorbs transient storage errors; then raise the
        # retryable ConcurrentWriteError.
        meta = None
        last_err: Exception | None = None
        for _attempt in range(2):
            try:
                meta = timeline.metadata_for(i)
                break
            except Exception as e:  # noqa: BLE001 — re-raised below
                last_err = e
        if meta is None:
            raise ConcurrentWriteError(
                f"instant {cfg.instant} cannot verify conflicts against "
                f"concurrently completed instant {i.timestamp} on "
                f"{cfg.path}: its commit metadata is unreadable "
                f"({last_err}) — refusing to publish blind; retry the "
                "write"
            ) from last_err
        theirs: set[tuple[str, str]] = set()
        for ws in meta.write_stats:
            name = (ws.path or "").rsplit("/", 1)[-1]
            is_append = name.startswith(".") and (
                ".log." in name or ".cdc." in name
            )
            if ignore_log_anchor is not None and is_append and (
                f"_{ignore_log_anchor}.log." in name
                or f"_{ignore_log_anchor}.cdc." in name
            ):
                # async compaction (write/async_compact.py): a concurrent
                # writer that appended its logs/sidecars ANCHORED AT the
                # scheduled instant wrote against the compaction's future
                # base — that is the protocol working, not a conflict
                continue
            if nbcc_log_appends and is_append:
                # NON_BLOCKING_CONCURRENCY_CONTROL (Hudi 1.0, v8+ MOR):
                # both writers only APPENDED log blocks to the group —
                # the readers' merge linearizes them by ordering field +
                # instant order (completion-time semantics the reference
                # builds its slices on, file_group/builder.rs:69-154),
                # so concurrent appends are not a lost update. Their
                # BASE-file writes (compaction) and replacements still
                # conflict below.
                continue
            theirs.add((ws.partition_path or "", ws.file_id))
        # replaced file groups count as touched too: appending a log
        # block to a group a concurrent clustering just replaced would
        # strand the update in an excluded slice
        for part, fids in (meta.replaced_file_ids or {}).items():
            for fid in fids:
                theirs.add((part or "", fid))
        overlap = touched & theirs
        if overlap:
            raise ConcurrentWriteError(
                f"instant {cfg.instant} conflicts with concurrently "
                f"completed instant {i.timestamp} on {cfg.path}: both "
                f"touched file group(s) {sorted(overlap)[:5]} — the "
                "write was aborted before publishing; retry it (the "
                "tag/index will re-route against the new table state)"
            )


# ---------------------------------------------------------------------------
# lock provider interface
# ---------------------------------------------------------------------------
class LockProvider:
    """Mutual-exclusion contract (Hudi's LockProvider shape). Instances
    are context managers: ``with provider: ...``."""

    def try_lock(self) -> bool:
        raise NotImplementedError

    def unlock(self) -> None:
        raise NotImplementedError

    def lock(self, timeout_s: float = 60.0, poll_s: float = 0.2) -> None:
        deadline = time.monotonic() + timeout_s
        while not self.try_lock():
            if time.monotonic() >= deadline:
                raise ConcurrentWriteError(
                    f"could not acquire {self!r} within {timeout_s}s"
                )
            time.sleep(poll_s)

    def __enter__(self):
        self.lock()
        return self

    def __exit__(self, *exc):
        self.unlock()
        return False


class StorageLockProvider(LockProvider):
    """Lock file under ``{table}/.hoodie/.locks/`` claimed with the
    storage backend's atomic ``create_new``. Correct where the backend
    provides a real conditional create: local O_EXCL, memory://, HDFS,
    or a bucket backend constructed with a native ``conditional_put``
    (S3 If-None-Match / GCS if-generation-match — see
    ``fs/storage.ArrowFSStorage``); check-then-put best-effort on plain
    object stores without one — inject a service-backed provider
    there."""

    def __init__(self, table_path: str, name: str = "table",
                 options: dict | None = None, stale_s: float | None = None):
        import uuid

        from hudi_rs_spark.write.writer import _base, _fs

        base = _base(table_path)
        self._path = f"{base}/.hoodie/.locks/{name}.lock"
        self._fs = _fs(base, options)
        self._stale_s = stale_s
        self._token = uuid.uuid4().hex

    def _payload(self) -> bytes:
        import os

        return f"{self._token} {os.getpid()} {time.time()}\n".encode()

    def try_lock(self) -> bool:
        if self._fs.create_new(self._path, self._payload()):
            return True
        if self._stale_s is not None:
            # crashed-holder recovery: the payload embeds the claim
            # wall-clock; a lock older than stale_s belongs to a writer
            # that died mid-commit (a live commit section is seconds).
            # Break it and retry the conditional create once — losing
            # THAT race to another breaker is fine, someone holds it.
            try:
                raw = self._fs.read_bytes(self._path).decode()
                claimed_at = float(raw.split()[2])
            except (OSError, IndexError, ValueError):
                return False
            if time.time() - claimed_at > self._stale_s:
                try:
                    self._fs.remove(self._path)
                except OSError:
                    pass
                return self._fs.create_new(self._path, self._payload())
        return False

    def unlock(self) -> None:
        # ownership check: if a stale-breaker replaced our lock, removing
        # the file would release THEIR lock — only remove our own
        try:
            raw = self._fs.read_bytes(self._path).decode()
            if raw.split()[0] != self._token:
                return
        except (OSError, IndexError):
            return
        try:
            self._fs.remove(self._path)
        except OSError:
            pass

    def __repr__(self):
        return f"StorageLockProvider({self._path})"


def commit_lock(cfg) -> LockProvider:
    """Table-level lock guarding the OCC critical section (conflict
    check -> publish -> MDT apply) — Hudi's TransactionManager around
    ``commitStats``. Every committer publishes through ``publish``, the
    lock's one holder. Without it two writers can BOTH pass the conflict
    check before EITHER publishes (check-then-publish is not atomic),
    and the second publish is a silent lost update. Cost: one
    conditional create + one delete per commit — metadata-scale at any
    table size. Stale locks from crashed writers break after 10
    minutes (a live commit section is seconds of driver metadata
    work)."""
    return StorageLockProvider(
        cfg.path, "commit", cfg.storage_dict(), stale_s=600.0
    )


# ---------------------------------------------------------------------------
# the one publish path
# ---------------------------------------------------------------------------
def publish(
    cfg,
    stats: list[dict],
    schema_json,
    *,
    read_point: frozenset[str] | None = None,
    touched: set[tuple[str, str]] | None = None,
    strict: bool = False,
    ignore_log_anchor: str | None = None,
    nbcc_log_appends: bool = False,
    replaced: dict[str, list[str]] | None = None,
    extra_metadata: dict[str, str] | None = None,
    action: str | None = None,
) -> str:
    """Publish one data-timeline instant at ``cfg.instant``; every
    committer (writers, services, DDL/DML) goes through here. Under the
    table commit lock, in order:

    1. load the table once;
    2. when the caller has a ``read_point``, ``check_commit_conflicts``
       over ``touched`` (default: the file groups ``stats`` wrote);
    3. on a conflict, remove ``stats``' unpublished files and re-raise;
    4. ``commit_instant`` (``action`` defaults to ``cfg.action``);
    5. record ``stats`` in the MDT when the table keeps one.

    ``schema_json`` may be a function of the locked table (None before
    the table exists). Claim and plan markers stay with the caller, which
    releases them after this returns or raises. Returns the commit file
    path."""
    from hudi_rs_spark.write.writer import (
        _base,
        _fs,
        commit_instant,
        existing_table,
        mdt_enabled,
    )

    with commit_lock(cfg):
        table = existing_table(cfg.path, cfg.storage_dict())
        tc = table.config if table is not None else None
        # a table that does not exist yet has no completed instant
        if read_point is not None and table is not None:
            if touched is None:
                touched = {
                    (s.get("partitionPath", "") or "", s["fileId"])
                    for s in stats
                }
            try:
                check_commit_conflicts(
                    cfg, table, read_point, touched,
                    strict=strict,
                    ignore_log_anchor=ignore_log_anchor,
                    nbcc_log_appends=nbcc_log_appends,
                )
            except ConcurrentWriteError:
                # with no commit naming them, nothing else reclaims them
                base = _base(cfg.path)
                st = _fs(base, cfg.storage_dict())
                for s in stats:
                    try:
                        st.remove(f"{base}/{s['path']}")
                    except OSError:
                        pass
                raise
        if callable(schema_json):
            schema_json = schema_json(table)
        path = commit_instant(
            cfg, stats, schema_json, replaced=replaced,
            extra_metadata=extra_metadata, action=action, table_config=tc,
        )
        if stats and mdt_enabled(cfg, tc):
            from hudi_rs_spark.write.mdt import apply_commit_to_mdt

            apply_commit_to_mdt(cfg, stats)
    return path
