"""File-system view: storage listing -> file groups -> file slices.

Behavior of /root/reference/crates/core/src/table/listing.rs:41-201 and
table/fs_view.rs:91-300. Driver-side: listing cost ∝ number of files, and
the result is a compact slice list handed to Spark as parquet paths. (The
reference's MDT/HFile fast path is an optional optimization it itself
falls back from — table/mod.rs:494-506; direct listing is
correctness-equivalent.)
"""

from __future__ import annotations

from collections.abc import Callable

from hudi_rs_spark.fs.file_group import BaseFile, FileGroup, FileSlice, LogFile

BASE_EXTENSIONS = ("parquet", "orc", "lance", "hfile")


def list_data_files(base_path: str):
    """Yield (partition_path, file_name, size) for every data file under
    the table, skipping the .hoodie metadata tree. Goes through the
    storage layer (fs/storage.py): on an object store this is ONE
    recursive LIST, the planner's dominant cost at 100 TB."""
    from hudi_rs_spark.fs.storage import storage_for

    yield from storage_for(base_path).walk_files(
        base_path, skip_dirs=frozenset({".hoodie"})
    )


def build_file_groups(
    base_path: str,
    completion_times: dict[str, str] | None = None,
    partition_filter: Callable[[str], bool] | None = None,
    entries=None,
    compaction_anchors: set[str] | None = None,
) -> dict[tuple[str, str], FileGroup]:
    """Group listed files into FileGroups keyed by (partition, file_id).

    ``completion_times`` maps requested commit ts -> completion ts (from
    the timeline) for v8+ log-file association; None for v6 tables.
    ``partition_filter`` prunes whole partitions before any file work.
    ``entries`` overrides the storage walk with an explicit
    (partition, file_name, size) iterable — the metadata-table listing
    fast path feeds file lists from the MDT instead of O(files) listing.
    ``compaction_anchors``: scheduled-compaction instants — logs whose
    embedded ts is one of these were written by COMMITTED deltacommits
    against the compaction's future base, so they bypass the
    pending-deltacommit invisibility gate (block-level validation still
    drops any uncommitted writer's blocks inside them) and anchor at
    exactly that instant.
    """
    anchors = frozenset(compaction_anchors or ())
    groups: dict[tuple[str, str], FileGroup] = {}
    logs: list[tuple[str, LogFile]] = []
    if entries is None:
        entries = list_data_files(base_path)
    for partition, name, size in entries:
        if partition_filter is not None and not partition_filter(partition):
            continue
        if name.startswith("."):
            if ".log." not in name:
                continue
            try:
                lf = LogFile.parse(name, size)
            except ValueError:
                continue
            if completion_times is not None and lf.timestamp not in anchors:
                ct = completion_times.get(lf.timestamp)
                if ct is None:
                    continue  # pending deltacommit -> its logs are invisible
                lf = LogFile(
                    lf.file_id, lf.timestamp, lf.extension, lf.version,
                    lf.write_token, lf.file_name, lf.size, ct,
                )
            logs.append((partition, lf))
            continue
        ext = name.rpartition(".")[2].lower()
        if ext not in BASE_EXTENSIONS:
            continue
        try:
            bf = BaseFile.parse(name, size)
        except ValueError:
            continue
        key = (partition, bf.file_id)
        if key not in groups:
            groups[key] = FileGroup(bf.file_id, partition,
                                    compaction_anchors=anchors)
        groups[key].add_base_file(bf)

    # ascending anchor order: the earliest log of a log-only (baseless)
    # group creates the slice and later pre-compaction logs attach to it
    logs.sort(key=lambda pl: (pl[1].completion_timestamp or pl[1].timestamp,
                              pl[1].sort_key()))
    for partition, lf in logs:
        key = (partition, lf.file_id)
        group = groups.get(key)
        if group is None:
            # no base file anywhere in the group: log-only file group
            # (the reference rejects these; we merge against empty base)
            group = groups[key] = FileGroup(lf.file_id, partition,
                                            compaction_anchors=anchors)
        group.add_log_file(lf)
    return groups


def get_file_slices(
    groups: dict[tuple[str, str], FileGroup],
    as_of_timestamp: str | None,
    excluded_file_ids: set[str] | None = None,
    valid_commit_timestamps: set[str] | None = None,
    archival_boundary: str | None = None,
    pending_timestamps: set[str] | None = None,
    archived_timestamps: set[str] | None = None,
    archived_load_complete: bool = False,
    compaction_anchors: set[str] | None = None,
    replaced_groups: dict[tuple[str, str], str] | None = None,
) -> list[FileSlice]:
    """As-of slice per group, minus replaced groups
    (table/fs_view.rs:236-254). ``valid_commit_timestamps`` drops base
    files written by pending/unknown commits (uncommitted data must stay
    invisible). ``archival_boundary`` (the earliest ACTIVE instant): a
    commit strictly older is treated archived-completed ONLY if no
    requested/inflight marker survives for it (``pending_timestamps``) —
    archival can archive completed instants that precede a crashed
    write, leaving the crashed write's ts below the boundary until lazy
    rollback runs; its uncommitted files must stay invisible.
    ``archived_timestamps``: positive membership in the loaded archived
    timeline (when the read gate is on) short-circuits as committed.
    Non-membership below the boundary is authoritative (not committed)
    ONLY when the load was COMPLETE (``archived_load_complete`` — no
    unparseable files skipped) AND ts >= min(archived) — an externally
    trimmed archive loses its OLDEST instants first, so below the loaded
    minimum absence proves nothing. Every other case keeps the fail-open
    heuristic: dropping visible data on an incomplete load is the worse
    error (silent data loss on read).

    Replacement exclusion: prefer ``replaced_groups`` — {(partition,
    file_id): replace instant}, partition-scoped (bucket tables reuse a
    file id across partitions) and instant-scoped (slices created AFTER
    the replace resurrect the group — bucket merge recreates a parent
    under its deterministic id). ``excluded_file_ids`` is the legacy
    bare-id form: global, permanent exclusion."""

    archived_min = min(archived_timestamps) if archived_timestamps else None

    def _committed(ts: str) -> bool:
        if valid_commit_timestamps is None or ts in valid_commit_timestamps:
            return True
        if archived_timestamps is not None and ts in archived_timestamps:
            return True
        if archival_boundary is None or ts >= archival_boundary:
            return False
        if pending_timestamps is not None and ts in pending_timestamps:
            return False
        # Below the boundary with no live pending marker: absence from the
        # archive condemns the slice only when the archive is a complete,
        # untrimmed record covering this ts.
        if archived_min is not None and archived_load_complete and ts >= archived_min:
            return False
        return True

    out: list[FileSlice] = []
    for (partition, file_id), group in sorted(groups.items()):
        if replaced_groups is not None:
            replace_ts = replaced_groups.get((partition, file_id))
        elif excluded_file_ids and file_id in excluded_file_ids:
            replace_ts = "~"  # sorts after every timestamp: fully excluded
        else:
            replace_ts = None

        def _visible(ts: str, _r=replace_ts) -> bool:
            # slices at/before the group's replacecommit are excluded;
            # a LATER slice resurrects the group (the replace excluded
            # the files it saw, never future ones — bucket merge)
            return _r is None or ts > _r

        keys_vis = sorted(k for k in group.slices if _visible(k))
        if as_of_timestamp is not None:
            keys_vis = [k for k in keys_vis if k <= as_of_timestamp]
        if not keys_vis:
            continue
        sl = group.slices[keys_vis[-1]]
        if not _committed(sl.commit_timestamp):
            # logs anchored at a SCHEDULED (pending) compaction instant:
            # committed deltacommit data written against the future base
            # — until the compaction lands, merge them onto the previous
            # committed slice (ordering is right: the anchor sorts after
            # every earlier log). Gathered across ALL the group's
            # pending slices so a crashed base landing later cannot hide
            # them behind the fallback.
            pend_logs: list[LogFile] = []
            if compaction_anchors:
                for ts in keys_vis:
                    cand = group.slices[ts]
                    if (
                        cand.base_file is None
                        and cand.log_anchor_timestamp in compaction_anchors
                        and not _committed(ts)
                    ):
                        pend_logs.extend(cand.log_files)
            # base written by a non-completed commit: fall back to the
            # newest older slice that IS committed
            keys = [k for k in keys_vis if _committed(k)]
            if not keys:
                if pend_logs:
                    # scheduled compaction on a group with no committed
                    # earlier slice (log-only history): serve the
                    # pending-anchored logs as a log-only slice
                    out.append(
                        FileSlice(
                            None, partition, list(pend_logs),
                            log_anchor_timestamp=(
                                pend_logs[0].completion_timestamp
                                or pend_logs[0].timestamp
                            ),
                        )
                    )
                continue
            prev = group.slices[keys[-1]]
            if pend_logs:
                sl = FileSlice(
                    prev.base_file, prev.partition_path,
                    prev.log_files + pend_logs,
                    log_anchor_timestamp=prev.log_anchor_timestamp,
                )
            else:
                sl = prev
        out.append(sl)
    return out
