"""Timeline archival — bound the ACTIVE timeline's size on the write
side, emitting exactly the archived layouts the readers already parse.

Why it matters: every planner operation lists + parses the active
timeline dir, and the streaming sink commits once per micro-batch — an
unarchived table's planning cost grows without bound. Archival moves
the oldest completed instants into compacted history:

- layout 2 (v8+, the writer's default): Avro OCF segments of
  (instantTime, completionTime, action, metadata) records under
  ``.hoodie/timeline/history/`` with a ``manifest_{N}`` + ``_version_``
  pointer (the LSM shape ``timeline/timeline.py::_load_lsm_history``
  reads; reference lsm_tree.rs:91-110). Incremental: each run appends
  one new segment and publishes manifest N+1 BEFORE deleting active
  files, so a crash anywhere leaves either duplicated (harmless — the
  reader drops archived ts that are still active) or fully-moved
  instants, never lost ones.
- layout 1 (v6): instant-named files moved into
  ``.hoodie/{archivelog.folder}/`` (loader.rs:236-253 V1Archived).

Safety rules (what may NOT be archived):

- the newest ``keep_active`` completed instants stay (incremental
  consumers tail the active timeline);
- nothing at/after the EARLIEST PENDING instant moves — a live or
  crashed write's marker pins everything newer (fs_view's archival
  heuristics depend on pending markers living in the active dir);
- the archived-read gate ``hoodie.internal.timeline.archived.enabled``
  is flipped to true, because after archival the readers need the
  archive to resolve completion times for old MOR logs and to keep
  old-but-live base files visible (the double gate in
  timeline.archived_instants).
"""

from __future__ import annotations

import json


def archive_timeline(path: str, keep_active: int = 10) -> int:
    """Move the oldest completed data instants into the archived layout;
    returns the number archived (0 = nothing to do)."""
    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        update_properties,
    )
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.timeline.timeline import _completed_file_name
    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(path)
    st = _fs(base)
    config = HudiTableConfig.from_base_path(base)
    timeline = HudiTable(base, spark=None, listing="direct").timeline
    completed = sorted(timeline.instants, key=lambda i: i.sort_key())
    if len(completed) <= keep_active:
        return 0
    victims = completed[:-keep_active]
    pending = timeline.pending_timestamps
    if pending:
        floor = min(pending)
        victims = [i for i in victims if i.timestamp < floor]
    # Hudi's archival rule: never archive past the first savepoint —
    # restore() resolves targets through the ACTIVE timeline, so moving
    # a savepointed instant out would break the savepoint contract.
    from hudi_rs_spark.write.savepoint import savepointed_instants

    pinned = savepointed_instants(base)
    if pinned:
        sp_floor = min(pinned)
        victims = [i for i in victims if i.timestamp < sp_floor]
    if not victims:
        return 0

    # Gate-on BEFORE any active file moves: with an empty archive the
    # flag is harmless, but a crash after deletion with the gate still
    # off would make rollback_failed_writes treat every archived
    # commit's base files as orphans (permanent data loss).
    if not config.archived_read_enabled:
        update_properties(
            base,
            lambda have: {
                **have, "hoodie.internal.timeline.archived.enabled": "true"
            },
        )

    tdir = timeline.timeline_dir
    if config.timeline_layout_version >= 2:
        _archive_lsm(st, base, tdir, config, victims)
    else:
        archive_dir = f"{base}/.hoodie/{config.archivelog_folder}"
        for i in victims:
            name = _completed_file_name(i)
            st.rename(f"{tdir}/{name}", f"{archive_dir}/{name}")

    return len(victims)


def _archive_lsm(st, base: str, tdir: str, config, victims) -> None:
    from hudi_rs_spark.timeline.timeline import _completed_file_name
    from hudi_rs_spark.write.logblocks import LSM_HISTORY_SCHEMA, ocf_bytes

    history = f"{tdir}/{config.timeline_history_path}"
    records = []
    names = []
    for i in victims:
        name = _completed_file_name(i)
        fpath = f"{tdir}/{name}"
        try:
            meta = st.read_bytes(fpath)
        except (FileNotFoundError, OSError):
            continue
        records.append(
            {
                "instantTime": i.timestamp,
                "completionTime": i.completion_timestamp or i.timestamp,
                "action": i.action.value,
                "metadata": meta,
            }
        )
        names.append(name)
    if not records:
        return

    # current manifest (if any) -> its entries carry over verbatim
    version = 0
    entries: list[dict] = []
    if st.isfile(f"{history}/_version_"):
        version = int(st.read_text(f"{history}/_version_").strip())
        try:
            entries = json.loads(
                st.read_text(f"{history}/manifest_{version}")
            ).get("entries", [])
        except (FileNotFoundError, OSError, ValueError):
            entries = []

    seg_name = f"{records[0]['instantTime']}_{records[-1]['instantTime']}_0.avro"
    data = ocf_bytes(LSM_HISTORY_SCHEMA, records)
    st.write_bytes(f"{history}/{seg_name}", data)
    entries.append(
        {
            "file_name": seg_name,
            "min_instant": records[0]["instantTime"],
            "max_instant": records[-1]["instantTime"],
            "level": 0,
            "file_size": len(data),
        }
    )
    # publish order: segment -> manifest -> version pointer -> THEN
    # delete active files; a crash mid-way duplicates instants (the
    # reader drops archived ts still present in the active dir), never
    # loses them
    st.publish_bytes(
        f"{history}/manifest_{version + 1}",
        json.dumps({"version": 1, "entries": entries}).encode(),
    )
    st.publish_bytes(f"{history}/_version_", str(version + 1).encode())
    for name in names:
        st.remove(f"{tdir}/{name}")

