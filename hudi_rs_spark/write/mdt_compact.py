"""MDT compaction: fold each metadata-table file group's log chain into
a fresh HFile BASE file so point-lookup decode work stays bounded.

Every commit appends one log file per touched MDT file group
(files-0000, record-index shards, stats groups, secondary indexes), so
lookup cost grows linearly with commit count until the chains fold.
Compaction publishes ONE MDT ``commit`` whose base files carry the
merged state; the readers' slice selection then reads base + only the
logs written AFTER it (``fs/file_group.py`` as-of association), and the
old log chain stays reachable for time travel until cleaned.

Merge semantics per partition (must match the READERS exactly, since
the base becomes the floor they merge later logs onto):

- ``files``: cumulative union with tombstone cancellation
  (files_partition._merge_into / merger.rs semantics) — re-read through
  ``read_files_partition`` and re-encode live entries only.
- ``record_index``: last-wins per key, empty value = tombstone —
  tombstoned keys are DROPPED from the base (nothing older than the
  base exists in the new slice to resurrect them).
- ``column_stats`` / ``partition_stats`` / ``secondary_index_*``:
  record keys are unique per (file|commit) on the write side, so
  last-wins on RAW value bytes is lossless; deleted markers keep their
  bytes (the readers filter them — a base may carry them safely).

Driver-side by default and metadata-sized: the MDT is tiny relative to
the table (one record per file / per key-location), and compaction
reads exactly the bytes a single point lookup already decodes today.
At 10^9-key record indexes pass ``spark`` — with enough dirty file
groups the per-group folds run EXECUTOR-side (the same ``_fold_one``
code per group, shipped through write/worklist.py), so no shard's
merged state ever materializes on the driver; the shard layout already
bounds each fold.

Anchor discipline: after compaction, appends must NOT reuse a pre-base
log anchor (the reader would attach the new file to the superseded
slice and the latest slice would never see it) — ``mdt._next_log_state``
re-anchors when a newer base exists.
"""

from __future__ import annotations

import json

from hudi_rs_spark.metadata.files_partition import FILES_PARTITION

_TOKEN = "0-0-0"


def _group_file_ids(st, pdir: str) -> dict[str, str]:
    """{file_id: newest base instant or ''} for every file group with at
    least one log or base file in this MDT partition dir."""
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile

    out: dict[str, str] = {}
    for e in st.list_dir(pdir):
        name = e.name
        try:
            if name.startswith(".") and ".log." in name:
                fid = LogFile.parse(name).file_id
                out.setdefault(fid, "")
            elif name.endswith(".hfile"):
                bf = BaseFile.parse(name)
                out[bf.file_id] = max(
                    out.get(bf.file_id, ""), bf.commit_timestamp
                )
        except ValueError:
            continue
    return out


def _merged_records(
    table_path: str, partition: str, file_id: str
) -> tuple[list[tuple[bytes, bytes]], dict | None]:
    """(sorted merged records, avro schema) for one MDT file group, with
    the partition-appropriate merge applied."""
    from hudi_rs_spark.metadata.files_partition import iter_partition_hfiles

    if partition == FILES_PARTITION:
        from hudi_rs_spark.metadata.files_partition import (
            ALL_PARTITIONS_KEY,
            read_files_partition,
        )
        from hudi_rs_spark.write.logblocks import encode_datum
        from hudi_rs_spark.write.mdt import MDT_RECORD_SCHEMA

        recs = []
        for key, rec in read_files_partition(table_path).items():
            live = {
                n: {"size": s, "isDeleted": False}
                for n, (s, d) in rec.files.items()
                if not d
            }
            value = {
                "key": key,
                "type": 1 if key == ALL_PARTITIONS_KEY else 2,
                "filesystemMetadata": live,
            }
            recs.append((key.encode(), encode_datum(value, MDT_RECORD_SCHEMA)))
        return sorted(recs), MDT_RECORD_SCHEMA

    is_record_index = partition == "record_index"
    merged: dict[bytes, bytes] = {}
    schema = None
    for _is_base, hf in iter_partition_hfiles(
        table_path, partition, file_id=file_id
    ):
        if schema is None:
            schema = hf.avro_schema()
        for k, v in hf.records():
            if is_record_index and not v:
                merged.pop(k, None)  # tombstone settles: drop from base
            else:
                merged[k] = v
    return sorted(merged.items()), schema


def _fold_one(desc: dict, shared: dict) -> dict:
    """Fold ONE MDT file group into a fresh HFile base; returns its
    write stat (runs driver- or executor-side — same code either way)."""
    from hudi_rs_spark.hfile.writer import build_hfile
    from hudi_rs_spark.write.writer import _fs

    base = shared["path"]
    instant = shared["instant"]
    part, fid = desc["partition"], desc["file_id"]
    records, schema = _merged_records(base, part, fid)
    if schema is None:
        return {}
    hfile_bytes = build_hfile(records, {"schema": json.dumps(schema).encode()})
    name = f"{fid}_{_TOKEN}_{instant}.hfile"
    _fs(base).write_bytes(
        f"{base}/.hoodie/metadata/{part}/{name}", hfile_bytes
    )
    return {
        "fileId": fid,
        "path": f"{part}/{name}",
        "partitionPath": part,
        "fileSizeInBytes": len(hfile_bytes),
    }


def compact_mdt(
    table_path: str,
    instant: str | None = None,
    spark=None,
    distribute_threshold: int = 16,
) -> int:
    """Fold every MDT file group with log files into a fresh HFile base;
    publishes one MDT ``commit``. Returns the number of file groups
    compacted (0 = nothing to do, nothing published). With ``spark`` and
    at least ``distribute_threshold`` dirty groups, folds run
    executor-side (one task per file group, write/worklist.py) — the
    scale path for sharded record indexes."""
    from hudi_rs_spark.write.concurrency import claim_instant, release_instant
    from hudi_rs_spark.write.config import WriteConfig, new_instant
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs
    from hudi_rs_spark.write.writer import _base, _fs, completed_instant_name

    base = _base(table_path)
    st = _fs(base)
    mdt = f"{base}/.hoodie/metadata"
    purge_uncommitted_mdt_logs(base)  # only committed state may fold in

    instant = instant or new_instant()
    # claim on the MDT's own timeline (it is a Hudi table too)
    mdt_cfg = WriteConfig(
        path=mdt, table_name="metadata_table", table_version=8,
        instant=instant, operation="compact", table_type="MERGE_ON_READ",
    )
    claim_instant(mdt_cfg, "commit")
    instant = mdt_cfg.instant  # claim may regenerate on a collision

    work: list[dict] = []
    for part in st.list_dir(mdt):
        if part.name == ".hoodie" or not part.is_dir:
            continue
        pdir = f"{mdt}/{part.name}"
        entries = st.list_dir(pdir)
        for fid, _newest_base in sorted(_group_file_ids(st, pdir).items()):
            has_logs = any(
                e.name.startswith(f".{fid}_") and ".log." in e.name
                for e in entries
            )
            if not has_logs:
                continue  # already folded; nothing newer than the base
            work.append({"partition": part.name, "file_id": fid})

    shared = {"path": base, "instant": instant}
    if spark is not None and len(work) >= distribute_threshold:
        from hudi_rs_spark.write.worklist import run_slice_tasks

        stats = run_slice_tasks(spark, work, shared, _fold_one)
    else:
        stats = [_fold_one(d, shared) for d in work]

    write_stats: dict[str, list[dict]] = {}
    n_groups = 0
    for s in stats:
        if not s:
            continue
        write_stats.setdefault(s["partitionPath"], []).append(s)
        n_groups += 1
    if not n_groups:
        release_instant(mdt_cfg, "commit")
        return 0

    # one completed MDT commit makes every new base visible atomically
    meta = {"partitionToWriteStats": write_stats, "operationType": "COMPACT"}
    _fs(mdt).publish_bytes(
        f"{mdt}/.hoodie/timeline/{completed_instant_name(instant, 'commit', 8)}",
        json.dumps(meta).encode(),
    )
    release_instant(mdt_cfg, "commit")
    return n_groups


def clean_mdt(table_path: str) -> int:
    """Delete MDT files strictly SUPERSEDED by each file group's newest
    base: pre-fold log chains and older bases. The base holds the full
    merged state by construction (compact_mdt folds everything at or
    before its instant) and MDT readers always plan the LATEST slice
    (``iter_partition_hfiles`` passes as_of=None), so nothing can still
    reference the victims — the storage-reclamation step completing the
    fold-bounds-decode / clean-bounds-storage pair. Returns the number
    of files deleted. Single-writer scope like every service."""
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile
    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(table_path)
    st = _fs(base)
    mdt = f"{base}/.hoodie/metadata"
    deleted = 0
    for part in st.list_dir(mdt):
        if part.name == ".hoodie" or not part.is_dir:
            continue
        pdir = f"{mdt}/{part.name}"
        groups = _group_file_ids(st, pdir)
        for e in st.list_dir(pdir):
            name = e.name
            try:
                if name.startswith(".") and ".log." in name:
                    lf = LogFile.parse(name)
                    floor = groups.get(lf.file_id, "")
                    dead = bool(floor) and lf.timestamp < floor
                elif name.endswith(".hfile"):
                    bf = BaseFile.parse(name)
                    floor = groups.get(bf.file_id, "")
                    dead = bool(floor) and bf.commit_timestamp < floor
                else:
                    continue
            except ValueError:
                continue
            if dead:
                st.remove(f"{pdir}/{name}")
                deleted += 1
    return deleted
