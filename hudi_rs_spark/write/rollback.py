"""Rollback service: clean up a crashed write.

The batch writer publishes its completed instant atomically AFTER all
data files land, so a crash leaves ORPHANS — base files / log blocks
stamped with an instant the timeline never completed. Readers already
ignore them (file-slice selection keeps only completed instants;
``logfile/reader.valid_blocks`` drops blocks at unknown instants), so
rollback is reclamation plus making the invisibility durable:

- orphan BASE files are deleted outright;
- a log file whose every data/delete block belongs to orphan instants
  is deleted;
- a log file MIXING live and orphan blocks gets a rollback COMMAND
  block appended per orphan instant (``logblocks.rollback_block`` —
  block type 2, command type 0), the reference's own voiding mechanism
  (its read side aggregates targets across all of a slice's log files:
  log_file/reader.rs rollback handling, pinned by the repo's MOR
  rollback fixtures) — so the orphan blocks stay dead even for readers
  that cannot see this table's timeline (e.g. after archival);
- stale ``*.tmp`` droppings from an interrupted commit publish are
  removed from the timeline dir;
- one ``{ts}.rollback`` instant records ``commitsRollback`` (readers
  skip non-data actions).

SAFETY: single-writer scope (package docstring) — an instant absent
from the timeline is only provably dead when no writer is running.
Hudi proper needs markers + heartbeats to make this safe under
concurrency; this repo's writer does not claim multi-writer.
"""

from __future__ import annotations

import json
import os

from hudi_rs_spark.write.config import new_instant, service_config


def _cdc_instant(name: str) -> str | None:
    """Anchor instant of a CDC sidecar file name
    ``.{fid}_{instant}.cdc.{v}_{token}`` (None if unparseable)."""
    head = name.split(".cdc.", 1)[0]
    if "_" not in head:
        return None
    return head.rsplit("_", 1)[1] or None


def rollback_failed_writes(path: str, instant: str | None = None) -> list[str]:
    """Remove/void every orphan instant's data; returns the sorted list
    of rolled-back instants ([] = table was clean, nothing published)."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile
    from hudi_rs_spark.fs.fs_view import list_data_files
    from hudi_rs_spark.logfile.reader import (
        BLOCK_COMMAND,
        BLOCK_CORRUPTED,
        BLOCK_HFILE_DATA,
        read_log_file,
        rollback_targets,
    )
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.logblocks import rollback_block
    from hudi_rs_spark.write.writer import (
        _fs,
        completed_instant_name,
        timeline_dir,
    )

    st = _fs(path)

    table = HudiTable(path, spark=None, listing="direct")
    timeline = table.timeline
    known = {i.timestamp for i in timeline.instants} | set(
        timeline.pending_timestamps
    )
    known |= set(timeline.archived_completed_timestamps() or ())
    # GATE-INDEPENDENT archive membership: even if the archived-read
    # gate is off (e.g. a pre-fix crash between active-file deletion and
    # the props flip), commits found in the on-disk archive are
    # committed data, never orphans.
    known |= {i.timestamp for i in timeline.archived_instants()}

    # Fail-open vs a PARTIALLY parseable archive (same heuristic as
    # fs_view): when the archive load skipped files it could not parse,
    # a commit strictly older than the earliest ACTIVE completed
    # instant is not provably orphan — leave it alone.
    active_completed = sorted(i.timestamp for i in timeline.instants)
    archival_floor = active_completed[0] if active_completed else None
    archive_incomplete = bool(getattr(timeline, "_archived_skipped", False))

    def _is_orphan(ts: str) -> bool:
        if ts in known:
            return False
        if archive_incomplete and archival_floor and ts < archival_floor:
            return False
        return True

    rolled: set[str] = set()
    files_deleted = 0
    for partition, name, _size in list(list_data_files(path)):
        rel = f"{partition}/{name}" if partition else name
        full = os.path.join(path, rel)
        if name.startswith("."):
            if ".cdc." in name:
                # CDC sidecar: single-instant by construction
                # (writer.py::_emit_cdc_file names it
                # ``.{fid}_{instant}.cdc.{v}_{token}``) — orphan instant
                # means the whole file is dead; whole-file delete, no
                # command block needed (the feed gates on completed
                # instants anyway; this is storage reclamation)
                ts = _cdc_instant(name)
                if ts and _is_orphan(ts):
                    rolled.add(ts)
                    st.remove(full)
                    files_deleted += 1
                continue
            if ".log." not in name:
                continue
            try:
                LogFile.parse(name)
            except ValueError:
                continue
            try:
                blocks = read_log_file(full)
            except (ValueError, OSError):
                continue  # corrupt tail = crashed append; leave for manual ops
            data_instants = {
                b.instant_time
                for b in blocks
                if b.block_type not in (BLOCK_COMMAND, BLOCK_CORRUPTED,
                                        BLOCK_HFILE_DATA)
                and b.instant_time
            }
            # instants already voided by an earlier rollback command
            # block are settled — never re-rolled (idempotence)
            voided = rollback_targets(blocks)
            dead = {ts for ts in data_instants if _is_orphan(ts)}
            orphans = dead - voided
            if not orphans:
                continue
            rolled |= orphans
            if dead == data_instants:  # no live data block in the file
                st.remove(full)
                files_deleted += 1
            else:
                void_instant = instant or new_instant()
                st.append_bytes(
                    full,
                    b"".join(
                        rollback_block(void_instant, ts)
                        for ts in sorted(orphans)
                    ),
                )
        else:
            try:
                bf = BaseFile.parse(name)
            except ValueError:
                continue
            if _is_orphan(bf.commit_timestamp):
                rolled.add(bf.commit_timestamp)
                st.remove(full)
                files_deleted += 1

    config = HudiTableConfig.from_base_path(path)
    tdir_probe = timeline_dir(
        service_config(config, path, instant or new_instant(), "rollback")
    )
    completed_now = {i.timestamp for i in timeline.instants}
    for e in st.list_dir(tdir_probe):
        name = e.name
        if name.endswith(".tmp"):
            try:
                st.remove(f"{tdir_probe}/{name}")
            except OSError:
                pass
        elif name.endswith(".requested"):
            ts = name.split(".", 1)[0].split("_", 1)[0]
            if name.endswith(".compaction.requested") or name.endswith(
                ".clustering.requested"
            ):
                # a SCHEDULED compaction/clustering plan
                # (write/async_compact.py, write/async_cluster.py) is
                # a durable intent, not a crashed claim: log files from
                # committed writes anchor at its instant, and deleting
                # the marker would orphan them (invisible data). Only a
                # RESOLVED plan's residue (instant already completed)
                # is reclaimed here.
                if ts and ts in completed_now:
                    try:
                        st.remove(f"{tdir_probe}/{name}")
                    except OSError:
                        pass
                continue
            # a crashed writer's instant claim (write/concurrency.py)
            # keeps its instant PENDING — correct while the write might
            # still complete, but rollback IS the operator's declaration
            # that no writer is live, so stale claims for instants that
            # never completed are released here (otherwise they pin the
            # archival floor forever)
            if ts and ts not in completed_now:
                try:
                    st.remove(f"{tdir_probe}/{name}")
                except OSError:
                    pass
    # a crashed write's executor-side MDT index appends are orphans too:
    # anchored at a never-completed instant they poison the shard slice
    # for every later append (see write/mdt.purge_uncommitted_mdt_logs)
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

    purge_uncommitted_mdt_logs(path)
    if not rolled:
        return []

    ts = instant or new_instant()
    name = completed_instant_name(ts, "rollback", config.table_version)
    meta = {
        "commitsRollback": sorted(rolled),
        "totalFilesDeleted": files_deleted,
        "startRollbackTime": ts,
    }
    st.publish_bytes(f"{tdir_probe}/{name}", json.dumps(meta).encode())
    return sorted(rolled)
