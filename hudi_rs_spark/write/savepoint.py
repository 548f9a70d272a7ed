"""Savepoint + restore services — the last two Hudi maintenance verbs.

- ``savepoint(path, instant)`` pins a completed instant: the cleaner
  (write/clean.py) keeps every file slice needed to serve
  ``as_of == instant`` no matter how far the retention boundary moves.
  Published as a ``{ts}.savepoint`` instant whose metadata names the
  pinned commit (readers skip non-data actions).
- ``restore(path, instant)`` destructively rewinds the table to the
  pinned instant: completed data instants AFTER it are removed from the
  timeline (and their MDT deltacommits with them), which instantly
  makes their base files and log blocks invisible to every reader;
  the now-orphaned bytes are then reclaimed with the SAME mechanism as
  crashed-write cleanup (write/rollback.py) — delete orphan bases and
  orphan-only log files, void mixed log files with rollback command
  blocks. Replacecommits after the savepoint disappear too, so file
  groups they had superseded become visible again — exactly the
  rewind semantics.

SAFETY: single-writer scope (package docstring). Restore is the one
operation here that destroys committed history — it refuses to run
without an existing savepoint at the target instant unless
``force=True``.
"""

from __future__ import annotations

import json

from hudi_rs_spark.write.config import WriteConfig, new_instant, service_config

SAVEPOINT_ACTION = "savepoint"


def _cfg_for(path: str, operation: str) -> WriteConfig:
    from hudi_rs_spark.config.table_config import HudiTableConfig

    return service_config(
        HudiTableConfig.from_base_path(path), path, new_instant(), operation
    )


def _timeline_dir(path: str) -> str:
    from hudi_rs_spark.write.writer import timeline_dir

    return timeline_dir(_cfg_for(path, "rollback"))


def savepointed_instants(path: str) -> set[str]:
    """Requested timestamps pinned by savepoint instants."""
    from hudi_rs_spark.write.writer import _fs

    tdir = _timeline_dir(path)
    st = _fs(tdir)
    out: set[str] = set()
    for e in st.list_dir(tdir):
        if not e.name.endswith(f".{SAVEPOINT_ACTION}"):
            continue
        try:
            meta = json.loads(st.read_text(f"{tdir}/{e.name}"))
            ts = meta.get("savepointedInstant")
            if ts:
                out.add(ts)
        except (OSError, ValueError):
            continue
    return out


def delete_savepoint(path: str, instant: str) -> bool:
    """Unpin ``instant`` (remove its savepoint marker(s), Hudi's
    delete_savepoint procedure); returns True when a pin existed. The
    next clean may then reclaim the slices the pin was protecting."""
    from hudi_rs_spark.write.writer import _fs

    tdir = _timeline_dir(path)
    st = _fs(tdir)
    removed = False
    for e in st.list_dir(tdir):
        if not e.name.endswith(f".{SAVEPOINT_ACTION}"):
            continue
        try:
            meta = json.loads(st.read_text(f"{tdir}/{e.name}"))
        except (OSError, ValueError):
            continue
        if meta.get("savepointedInstant") == instant:
            st.remove(f"{tdir}/{e.name}")
            removed = True
    return removed


def savepoint(path: str, instant: str | None = None) -> str:
    """Pin ``instant`` (default: the latest completed data instant);
    returns the pinned timestamp."""
    from hudi_rs_spark.sources.hudi import HudiTable

    timeline = HudiTable(path, spark=None, listing="direct").timeline
    completed = sorted(i.timestamp for i in timeline.instants)
    if not completed:
        raise ValueError("cannot savepoint an empty table")
    target = instant or completed[-1]
    if target not in completed:
        raise ValueError(f"no completed instant {target!r} to savepoint")
    from hudi_rs_spark.write.writer import _fs, completed_instant_name

    cfg = _cfg_for(path, "rollback")  # reuse a maintenance op slot
    tdir = _timeline_dir(path)
    ts = new_instant()
    name = completed_instant_name(ts, SAVEPOINT_ACTION, cfg.table_version)
    meta = {"savepointedInstant": target, "savepointTime": ts}
    _fs(tdir).publish_bytes(f"{tdir}/{name}", json.dumps(meta).encode())
    return target


def _rewind_mdt_files(st, path: str, instant: str) -> None:
    """Make the MDT's FILES consistent with the rewound timeline:

    - MDT base files from compactions AFTER ``instant`` must go — their
      commits were just dropped, and a base is a full-state FOLD that
      includes the restored-away commits' entries (keeping it would
      either be invisible-but-confusing or, worse, resurrect entries
      for data files the rollback below deletes);
    - if an MDT partition then has NO file anchored at a surviving
      instant (MDT compaction + clean_mdt reclaimed the pre-fold log
      chains), its merged state is unrecoverable — advertise that
      honestly by stripping the metadata partitions from the table
      props so readers fall back to direct listing and the writer
      refuses index-dependent paths until a backfill rebuilds them."""
    from hudi_rs_spark.config.table_config import update_properties
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile

    mdt = f"{path}/.hoodie/metadata"
    surviving: set[str] = set()
    broken: list[str] = []
    for part in st.list_dir(mdt):
        if part.name == ".hoodie" or not part.is_dir:
            continue
        pdir = f"{mdt}/{part.name}"
        alive = 0
        for e in st.list_dir(pdir):
            name = e.name
            try:
                if name.endswith(".hfile"):
                    if BaseFile.parse(name).commit_timestamp > instant:
                        st.remove(f"{pdir}/{name}")
                    else:
                        alive += 1
                elif name.startswith(".") and ".log." in name:
                    if LogFile.parse(name).timestamp <= instant:
                        alive += 1
                    # post-instant-anchored logs: their anchor commit was
                    # dropped, so the reader already ignores them; the
                    # rollback sweep below reclaims data-table orphans
                    # and purge handles MDT ones on the next write
            except ValueError:
                continue
        if alive:
            surviving.add(part.name)
        else:
            broken.append(part.name)
    if broken:
        def strip(have: dict[str, str]) -> dict[str, str]:
            keep = [
                p for p in have.get(
                    "hoodie.table.metadata.partitions", ""
                ).split(",")
                if p.strip() and p.strip() not in broken
            ]
            if "files" in broken or not keep:
                # no listing partition -> the MDT is unusable wholesale
                have.pop("hoodie.table.metadata.partitions", None)
                have["hoodie.metadata.enable"] = "false"
            else:
                have["hoodie.table.metadata.partitions"] = ",".join(
                    sorted(keep)
                )
            return have

        update_properties(path, strip)


def restore(path: str, instant: str, force: bool = False) -> list[str]:
    """Rewind the table to ``instant``: drop every completed data
    instant after it (timeline + MDT deltacommits), then reclaim the
    orphaned bytes via the rollback machinery. Returns the removed
    instants (sorted). Refuses without a savepoint at ``instant``
    unless ``force``."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.timeline.timeline import _completed_file_name
    from hudi_rs_spark.write.rollback import rollback_failed_writes

    if not force and instant not in savepointed_instants(path):
        raise ValueError(
            f"no savepoint at {instant!r}; pass force=True to restore to "
            "an unpinned instant (destroys committed history)"
        )
    timeline = HudiTable(path, spark=None, listing="direct").timeline
    doomed = [i for i in timeline.instants if i.timestamp > instant]
    if instant not in {i.timestamp for i in timeline.instants}:
        raise ValueError(f"no completed instant {instant!r} to restore to")
    from hudi_rs_spark.write.writer import _fs, completed_instant_name

    tdir = _timeline_dir(path)
    st = _fs(tdir)
    removed = []
    for i in doomed:
        p = f"{tdir}/{_completed_file_name(i)}"
        try:
            if st.isfile(p):
                st.remove(p)
                removed.append(i.timestamp)
        except OSError:
            pass

    # MDT: drop the mirrored deltacommits so index/listing blocks at the
    # removed instants turn invisible the same way
    mdt_tl = f"{path}/.hoodie/metadata/.hoodie/timeline"
    for e in st.list_dir(mdt_tl):
        ts = e.name.split("_", 1)[0].split(".", 1)[0]
        if ts and ts > instant:
            try:
                st.remove(f"{mdt_tl}/{e.name}")
            except OSError:
                pass
    _rewind_mdt_files(st, path, instant)

    # physical reclamation: everything stamped after `instant` is now an
    # orphan — same cleanup path as a crashed write
    rollback_failed_writes(path)

    ts = new_instant()
    cfg = _cfg_for(path, "rollback")
    name = completed_instant_name(ts, "restore", cfg.table_version)
    meta = {"restoredToInstant": instant, "commitsRemoved": sorted(removed)}
    st.publish_bytes(f"{tdir}/{name}", json.dumps(meta).encode())
    return sorted(removed)
