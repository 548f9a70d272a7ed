"""Clean table service: delete file slices no retained snapshot can
reach — the storage-reclamation dual of compaction/clustering, which
both leave superseded slices on disk for time travel.

Three Hudi cleaner policies (``hoodie.cleaner.policy``):

KEEP_LATEST_COMMITS (the default):
- the retention boundary is the ``retain_commits``-th newest completed
  data instant; every snapshot as-of an instant >= boundary must stay
  byte-identical after cleaning;
- per file group, the latest slice at or before the boundary still
  serves ``as_of == boundary`` reads and is KEPT; strictly older slices
  (and their absorbed log files) are deleted;
- file groups replaced by a replacecommit <= boundary are invisible to
  every retained snapshot: ALL their slices are deleted;
- slices at pending instants are never touched (an in-flight writer may
  still complete them); slices at unknown instants (orphans from
  crashed writes) are rollback's job, not clean's.

KEEP_LATEST_BY_HOURS (``hoodie.cleaner.hours.retained``): identical
sweep with the boundary placed by TIME — the earliest completed instant
within ``retain_hours`` of the newest one (instant time, never wall
clock: deterministic and replayable).

KEEP_LATEST_FILE_VERSIONS (``hoodie.cleaner.fileversions.retained``):
per file group, the newest ``retain_file_versions`` completed slices
are kept and older ones deleted — retention bounded per GROUP rather
than by a global snapshot boundary (hot groups lose history faster,
cold groups keep it longer). Savepointed snapshots are still pinned:
the newest slice at-or-before each savepoint survives regardless of
the version count; replaced groups keep only their savepoint-pinned
slices.

Time travel earlier than the boundary (for FILE_VERSIONS: earlier than
a group's oldest retained slice) is undefined after a clean — the
standard Hudi caveat; the boundary is recorded in the ``.clean``
instant's metadata (``earliestCommitToRetain``) so readers/operators
can check. The readers' timeline parser skips ``.clean`` instants (non-
data action), so published clean instants never perturb scans.

Scale note: the work is metadata-sized — one listing (MDT fast path
when enabled) + an O(slices) sweep; deletions are issued through the
storage abstraction on the driver. At 100 TB the deletion fan-out could
be distributed, but the decision set (file names) always fits driver
memory — it is bounded by file COUNT, not data bytes.
"""

from __future__ import annotations

import json
import os

from hudi_rs_spark.write.config import new_instant, service_config

POLICY_COMMITS = "KEEP_LATEST_COMMITS"
POLICY_VERSIONS = "KEEP_LATEST_FILE_VERSIONS"
POLICY_HOURS = "KEEP_LATEST_BY_HOURS"


def _normalize_policy(raw: str) -> str:
    v = str(raw).strip().upper()
    aliases = {
        "COMMITS": POLICY_COMMITS,
        POLICY_COMMITS: POLICY_COMMITS,
        "FILE_VERSIONS": POLICY_VERSIONS,
        "VERSIONS": POLICY_VERSIONS,
        POLICY_VERSIONS: POLICY_VERSIONS,
        "HOURS": POLICY_HOURS,
        POLICY_HOURS: POLICY_HOURS,
    }
    if v not in aliases:
        raise ValueError(
            f"unknown cleaner policy {raw!r}; expected one of "
            f"{POLICY_COMMITS}, {POLICY_VERSIONS}, {POLICY_HOURS}"
        )
    return aliases[v]


def _keep_for_points(eligible, retention):
    """Timestamps of the slices serving each retention point: its
    newest at-or-before eligible slice."""
    keep = set()
    for point in retention:
        at = [ts for ts, _ in eligible if ts <= point]
        if at:
            keep.add(max(at))
    return keep


def clean(
    path: str,
    retain_commits: int = 10,
    instant: str | None = None,
    *,
    policy: str = POLICY_COMMITS,
    retain_file_versions: int = 3,
    retain_hours: float = 24.0 * 7,
) -> int:
    """Apply the selected cleaner policy; returns the number of files
    deleted (0 = nothing to clean, no instant published)."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.fs.fs_view import build_file_groups
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.writer import timeline_dir

    policy = _normalize_policy(policy)
    table = HudiTable(path, spark=None, listing="direct")
    timeline = table.timeline
    completed = sorted(timeline.instants, key=lambda i: i.sort_key())
    if not completed:
        return 0
    if policy == POLICY_COMMITS:
        if len(completed) <= retain_commits:
            return 0
        boundary = completed[-retain_commits].timestamp
    elif policy == POLICY_HOURS:
        from hudi_rs_spark.timeline.instant import parse_hudi_timestamp_millis

        if retain_hours <= 0:
            raise ValueError("retain_hours must be positive")
        floor_ms = parse_hudi_timestamp_millis(
            completed[-1].timestamp
        ) - retain_hours * 3600 * 1000
        inside = [
            i.timestamp for i in completed
            if parse_hudi_timestamp_millis(i.timestamp) >= floor_ms
        ]
        boundary = min(inside) if inside else completed[-1].timestamp
        if boundary == completed[0].timestamp:
            return 0  # whole active timeline inside the window
    else:  # KEEP_LATEST_FILE_VERSIONS: no global boundary
        if retain_file_versions < 1:
            raise ValueError("retain_file_versions must be >= 1")
        boundary = completed[-1].timestamp
    completed_ts = {i.timestamp for i in completed}
    pending_ts = set(timeline.pending_timestamps)
    # savepoints pin additional retention points: every snapshot as-of a
    # pinned instant must survive cleaning (write/savepoint.py)
    from hudi_rs_spark.write.savepoint import savepointed_instants

    savepoints = {
        ts for ts in savepointed_instants(path) if ts <= boundary
    }
    retention = {boundary} | savepoints
    min_retention = min(retention)
    if policy == POLICY_VERSIONS:
        # replaced groups are unreachable from the LATEST snapshot; only
        # a savepoint older than the replace still pins their slices
        replaced_map = timeline.replaced_file_groups_as_of(
            min(savepoints) if savepoints else boundary
        )
    else:
        replaced_map = timeline.replaced_file_groups_as_of(min_retention)

    groups = build_file_groups(path, table._completion_times())
    deleted: dict[str, list[str]] = {}
    to_remove: list[str] = []
    kept_ts: set[str] = set()
    for (partition, fid), group in groups.items():
        slices = sorted(group.slices.items())  # by commit ts ascending
        replace_ts = replaced_map.get((partition, fid))
        if replace_ts is not None:
            # only the slices the replacecommit actually superseded: a
            # slice created AFTER it (bucket merge resurrection) lives
            # by the normal retention rules below
            superseded = [(ts, s) for ts, s in slices if ts <= replace_ts]
            if policy == POLICY_VERSIONS:
                # savepoints older than the replace still pin their slice
                keep = _keep_for_points(
                    [(ts, s) for ts, s in superseded if ts in completed_ts],
                    savepoints,
                )
                victims = [s for ts, s in superseded if ts not in keep]
                kept_ts |= keep
            else:
                victims = [s for _, s in superseded]
            live = [(ts, s) for ts, s in slices if ts > replace_ts]
            if live:
                eligible = [
                    (ts, s) for ts, s in live
                    if ts <= boundary and ts in completed_ts
                ]
                if policy == POLICY_VERSIONS:
                    keep = {ts for ts, _ in eligible[-retain_file_versions:]}
                    keep |= _keep_for_points(eligible, savepoints)
                else:
                    keep = _keep_for_points(eligible, retention)
                victims += [s for ts, s in eligible if ts not in keep]
                kept_ts |= {ts for ts, _ in eligible if ts in keep}
        else:
            eligible = [
                (ts, s) for ts, s in slices
                if ts <= boundary and ts in completed_ts
            ]
            if policy == POLICY_VERSIONS:
                # newest N survive; savepoints pin their serving slice
                # beyond the count
                keep = {ts for ts, _ in eligible[-retain_file_versions:]}
                keep |= _keep_for_points(eligible, savepoints)
            else:
                # each retention point (boundary + savepoints) is served
                # by its newest at-or-before slice; everything else older
                # than the boundary is unreachable
                keep = _keep_for_points(eligible, retention)
            victims = [s for ts, s in eligible if ts not in keep]
            kept_ts |= {ts for ts, _ in eligible if ts in keep}
        for s in victims:
            if s.commit_timestamp in pending_ts:
                continue
            rels = []
            if s.base_file is not None:
                rels.append(s.base_file_relative_path())
            rels.extend(s.log_file_relative_paths())
            for rel in rels:
                to_remove.append(rel)
                deleted.setdefault(partition, []).append(os.path.basename(rel))
    # CDC sidecars (``.{fid}_{instant}.cdc.*``) are not part of any file
    # slice; reclaim those older than every retention point — the change
    # feed below the boundary is undefined after a clean, same caveat as
    # time travel. (Advice r9: without this, a streaming sink's sidecars
    # accumulate forever.)
    from hudi_rs_spark.fs.fs_view import list_data_files
    from hudi_rs_spark.write.rollback import _cdc_instant

    if policy == POLICY_VERSIONS:
        # no global boundary: a group's retained versions may be older
        # than the latest instant — never reclaim a sidecar newer than
        # anything still served
        min_retention = min(kept_ts | retention)
    for partition, name, _size in list(list_data_files(path)):
        if not (name.startswith(".") and ".cdc." in name):
            continue
        ts = _cdc_instant(name)
        if ts and ts < min_retention and ts not in pending_ts:
            rel = f"{partition}/{name}" if partition else name
            to_remove.append(rel)
            deleted.setdefault(partition, []).append(name)

    if not to_remove:
        return 0

    from hudi_rs_spark.write.writer import _fs, completed_instant_name

    st = _fs(path)
    for rel in to_remove:
        try:
            st.remove(f"{path}/{rel}")
        except OSError:
            pass

    config = HudiTableConfig.from_base_path(path)
    instant = instant or new_instant()
    cfg = service_config(config, path, instant, "clean")
    # .clean instant: earliestCommitToRetain + per-partition deletions
    # (the readers' timeline parser skips the action; this is operator
    # metadata, mirroring Hudi's HoodieCleanMetadata essentials)
    from hudi_rs_spark.write.concurrency import claim_instant, release_instant

    claim_instant(cfg)
    instant = cfg.instant  # claim may regenerate on a timestamp collision
    tdir = timeline_dir(cfg)
    name = completed_instant_name(instant, "clean", cfg.table_version)
    meta = {
        "earliestCommitToRetain": (
            min_retention if policy == POLICY_VERSIONS else boundary
        ),
        "policy": policy,
        "totalFilesDeleted": len(to_remove),
        "partitionMetadata": {
            part: {"deletePathPatterns": names}
            for part, names in sorted(deleted.items())
        },
    }
    st.publish_bytes(f"{tdir}/{name}", json.dumps(meta).encode())

    meta_parts = config.props.get("hoodie.table.metadata.partitions", "")
    if "files" in meta_parts:
        from hudi_rs_spark.write.mdt import apply_deletions_to_mdt

        apply_deletions_to_mdt(cfg, deleted)
    release_instant(cfg)
    return len(to_remove)
