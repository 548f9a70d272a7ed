"""Metadata-table ``files`` partition WRITER — keeps the O(partitions)
listing fast path live on repo-written tables.

The dual of metadata/files_partition.py's reader: after every data
commit, append one HFile-payload log block (block type 4) to the MDT's
single ``files`` file group and publish a matching MDT deltacommit.
Record shape is the public HoodieMetadataRecord: key = data partition
path ("." when non-partitioned, "__all_partitions__" for the partition
list), value.filesystemMetadata maps file name -> {size, isDeleted};
the reader's merge (base∪logs, max-size wins for live entries) then
reconstructs the full listing without walking the data tree.

Driver-side and O(files written this commit) — the MDT is itself a tiny
MOR Hudi table, which is the whole point: a 100 TB table's planner
reads ONE small file group instead of 10^6 storage paths.
"""

from __future__ import annotations

import json
import os

from hudi_rs_spark.config.table_config import (
    format_properties,
    update_properties,
)
from hudi_rs_spark.logfile.reader import BLOCK_HFILE_DATA, KEY_INSTANT_TIME
from hudi_rs_spark.metadata.files_partition import (
    ALL_PARTITIONS_KEY,
    NON_PARTITIONED_NAME,
)
from hudi_rs_spark.write.config import WriteConfig
from hudi_rs_spark.write.writer import _base, _fs, completed_instant_name

MDT_FILE_ID = "files-0000"
COL_STATS_FILE_ID = "col-stats-0000"
PART_STATS_FILE_ID = "partition-stats-0000"
BLOOM_FILE_ID = "bloom-filters-0000"

# public HoodieMetadataRecord shape, restricted to the fields the files
# partition uses (metadata/table/records.rs:238-330 decodes the same)
MDT_RECORD_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "namespace": "org.apache.hudi.avro.model",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "filesystemMetadata",
            "type": [
                "null",
                {
                    "type": "map",
                    "values": {
                        "type": "record",
                        "name": "HoodieMetadataFileInfo",
                        "fields": [
                            {"name": "size", "type": "long"},
                            {"name": "isDeleted", "type": "boolean"},
                        ],
                    },
                },
            ],
            "default": None,
        },
    ],
}


def _mdt_base(cfg: WriteConfig) -> str:
    return f"{_base(cfg.path)}/.hoodie/metadata"


def _init_mdt(mdt: str, options: dict | None = None) -> None:
    st = _fs(mdt, options)
    props_path = f"{mdt}/.hoodie/hoodie.properties"
    if st.isfile(props_path):
        return
    props = {
        "hoodie.table.name": "metadata_table",
        "hoodie.table.type": "MERGE_ON_READ",
        "hoodie.table.version": "8",
        "hoodie.timeline.layout.version": "2",
        "hoodie.timeline.path": "timeline",
        "hoodie.table.recordkey.fields": "key",
        "hoodie.populate.meta.fields": "false",
    }
    st.publish_bytes(props_path, format_properties(props).encode())


def _ensure_data_props_flag(cfg: WriteConfig) -> None:
    """Flip the data table's hoodie.properties to advertise the files
    partition (the read side's ``has_files_partition`` gate)."""
    want = {"files"}
    if cfg.emit_column_stats:
        want |= {"column_stats", "partition_stats"}
    if cfg.emit_bloom_filters:
        want.add("bloom_filters")
    if cfg.emit_record_index:
        want.add("record_index")
    want |= {f"secondary_index_{col}" for col in cfg.secondary_index_columns}

    def edit(have: dict[str, str]) -> dict[str, str]:
        if cfg.emit_record_index:
            from hudi_rs_spark.write.record_index import SHARDS_PROP

            have.setdefault(SHARDS_PROP, str(cfg.record_index_shards))
        parts = {
            p.strip()
            for p in have.get("hoodie.table.metadata.partitions", "").split(",")
            if p.strip()
        }
        if not want <= parts:
            have["hoodie.table.metadata.partitions"] = ",".join(
                sorted(parts | want)
            )
        if have.get("hoodie.metadata.enable", "").lower() != "true":
            have["hoodie.metadata.enable"] = "true"
        return have

    update_properties(cfg.path, edit, cfg.storage_dict())


def _next_log_state(
    files_dir: str, file_id: str = MDT_FILE_ID, options: dict | None = None
) -> tuple[str | None, int]:
    """(anchor instant from existing MDT log names, next version).

    A base file NEWER than every log anchor supersedes the anchor (MDT
    compaction folded the chain): reusing a pre-base anchor would attach
    the new log to the superseded slice, invisible to the latest-slice
    readers — return None so the caller re-anchors at its own instant,
    which associates at-or-after the new base."""
    best = 0
    anchor = None
    newest_base = ""
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile

    for e in _fs(files_dir, options).list_dir(files_dir):
        name = e.name
        if name.startswith(f".{file_id}_") and ".log." in name:
            lf = LogFile.parse(name)
            anchor = lf.timestamp
            best = max(best, lf.version)
        elif name.startswith(f"{file_id}_") and name.endswith(".hfile"):
            try:
                newest_base = max(newest_base, BaseFile.parse(name).commit_timestamp)
            except ValueError:
                continue
    if anchor is not None and newest_base and anchor < newest_base:
        return None, best + 1
    return anchor, best + 1


def _mdt_completed_instants(mdt: str, options: dict | None = None) -> set[str]:
    """Instants with a COMPLETED deltacommit/commit in the MDT timeline
    (requested ts only — v8 names are ``{ts}_{completion}.{action}``)."""
    tdir = f"{mdt}/.hoodie/timeline"
    out: set[str] = set()
    for e in _fs(tdir, options).list_dir(tdir):
        if e.name.endswith((".deltacommit", ".commit", ".replacecommit")):
            out.add(e.name.split(".", 1)[0].split("_", 1)[0])
    return out


def _claimed_data_instants(base: str, options: dict | None = None) -> set[str]:
    """Instants with a live claim marker (``{ts}.{action}.requested``)
    on the DATA timeline — an in-flight writer's pending instants
    (write/concurrency.claim_instant). Checks both timeline layouts."""
    out: set[str] = set()
    for cand in (f"{base}/.hoodie/timeline", f"{base}/.hoodie"):
        st = _fs(cand, options)
        try:
            entries = st.list_dir(cand)
        except (FileNotFoundError, OSError):
            entries = []
        for e in entries:
            if e.name.endswith(".requested"):
                ts = e.name.split(".", 1)[0].split("_", 1)[0]
                if ts:
                    out.add(ts)
        if entries:  # v8 dir populated -> markers live there
            break
    return out


def purge_uncommitted_mdt_logs(
    table_path: str,
    keep_anchors: frozenset[str] | set[str] = frozenset(),
    options: dict | None = None,
) -> list[str]:
    """Delete MDT log files whose ANCHOR instant never completed in the
    MDT timeline — garbage from failed/aborted writes that would
    otherwise poison the shard file group forever: the reader keys a
    log-only slice at its FIRST file's anchor and drops the whole slice
    when that anchor never committed, so every later (committed!) append
    that reuses or sorts after the poisoned anchor becomes invisible —
    index lookups then report live keys as nonexistent and upsert
    tagging inserts duplicates. Running this BEFORE a write's tasks
    launch restores the invariant ``any on-disk anchor is committed``
    that ``append_mdt_log`` relies on when it reuses an existing
    anchor, for every MDT partition and on executors and the driver
    alike.

    Driver-side, O(MDT files) listings; returns the deleted paths.
    Single-writer assumption: nothing else may be appending MDT logs
    while this runs (the same contract every table service has).

    ``keep_anchors``: uncommitted anchors to preserve — the streaming
    sink passes its own query's sidecar instants, because Spark
    re-instantiates the stream writer at commit time and the in-flight
    batch's (not-yet-committed) shard logs must survive that, and a
    restart REPLAYS the last batch under its original sidecar instant."""
    base = _base(table_path)
    mdt = f"{base}/.hoodie/metadata"
    st = _fs(mdt, options)
    from hudi_rs_spark.fs.file_group import LogFile

    # A LIVE concurrent writer's in-flight MDT appends are anchored at
    # its (not yet completed) claimed instant — purging them would make
    # its MDT deltacommit reference deleted logs (index lookups then
    # miss live keys -> duplicate inserts). Claim markers on the DATA
    # timeline identify those instants; rollback_failed_writes releases
    # stale claims first, so dead anchors still get purged there.
    keep = set(keep_anchors) | _claimed_data_instants(base, options)

    completed = _mdt_completed_instants(mdt, options)
    deleted: list[str] = []
    for part in st.list_dir(mdt):
        if part.name == ".hoodie" or not part.is_dir:
            continue
        pdir = f"{mdt}/{part.name}"
        for e in st.list_dir(pdir):
            name = e.name
            if not (name.startswith(".") and ".log." in name):
                continue
            try:
                anchor = LogFile.parse(name).timestamp
            except Exception:
                continue
            if anchor not in completed and anchor not in keep:
                p = f"{pdir}/{name}"
                try:
                    st.remove(p)
                    deleted.append(p)
                except OSError:
                    pass
    return deleted


def apply_commit_to_mdt(cfg: WriteConfig, stats: list[dict]) -> None:
    """Record one data commit's files in the MDT files partition."""
    from hudi_rs_spark.write.logblocks import encode_datum

    mdt = _mdt_base(cfg)
    _init_mdt(mdt, cfg.storage_dict())
    _ensure_data_props_flag(cfg)

    by_partition: dict[str, dict[str, int]] = {}
    for s in stats:
        part = s.get("partitionPath", "") or ""
        name = os.path.basename(s["path"])
        size = int(s.get("fileSizeInBytes") or 0)
        cur = by_partition.setdefault(part, {})
        cur[name] = max(cur.get(name, 0), size)

    records: list[tuple[bytes, bytes]] = []
    part_names = {}
    for part, files in by_partition.items():
        key = part if part else NON_PARTITIONED_NAME
        part_names[key] = {"size": 0, "isDeleted": False}
        value = {
            "key": key,
            "type": 2,
            "filesystemMetadata": {
                n: {"size": sz, "isDeleted": False} for n, sz in files.items()
            },
        }
        records.append(
            (key.encode(), encode_datum(value, MDT_RECORD_SCHEMA))
        )
    records.append(
        (
            ALL_PARTITIONS_KEY.encode(),
            encode_datum(
                {"key": ALL_PARTITIONS_KEY, "type": 1,
                 "filesystemMetadata": part_names},
                MDT_RECORD_SCHEMA,
            ),
        )
    )
    extra = _stats_partitions(cfg, stats) + _bloom_partition(cfg, stats)
    _append_mdt_records(cfg, mdt, records, extra)


def _stats_partitions(
    cfg: WriteConfig, stats: list[dict]
) -> list[tuple[str, str, dict, list]]:
    """column_stats + partition_stats record batches from the commit's
    per-file ``columnStats``. Writers and services attach those only
    when the write asked for stats or the table advertises column_stats
    (``resolve_index_flags``), so their presence is the gate; empty when
    no file carries any."""
    from hudi_rs_spark.write.mdt_stats import (
        STATS_RECORD_SCHEMA,
        encode_stats_record,
    )

    col_records: list[tuple[bytes, bytes]] = []
    # (partition, column) -> [min, max] union across this commit's files
    part_bounds: dict[tuple[str, str], list] = {}
    for s in stats:
        cstats = s.get("columnStats")
        if not cstats:
            continue
        fname = os.path.basename(s["path"])
        part = s.get("partitionPath", "") or ""
        for col, b in cstats.items():
            col_records.append(
                encode_stats_record(
                    f"{col}:{fname}", fname, col, b.get("min"), b.get("max"),
                    b.get("values"), b.get("nulls"),
                )
            )
            if b.get("min") is None or b.get("max") is None:
                continue
            cur = part_bounds.get((part, col))
            if cur is None:
                part_bounds[(part, col)] = [b["min"], b["max"]]
            else:
                cur[0] = min(cur[0], b["min"])
                cur[1] = max(cur[1], b["max"])
    if not col_records:
        return []
    part_records = [
        encode_stats_record(
            f"{col}:{part or NON_PARTITIONED_NAME}:{cfg.instant}",
            part, col, mn, mx, None, None, rec_type=6,
        )
        for (part, col), (mn, mx) in sorted(part_bounds.items())
    ]
    return [
        ("column_stats", COL_STATS_FILE_ID, STATS_RECORD_SCHEMA, col_records),
        ("partition_stats", PART_STATS_FILE_ID, STATS_RECORD_SCHEMA,
         part_records),
    ]


def _bloom_partition(
    cfg: WriteConfig, stats: list[dict]
) -> list[tuple[str, str, dict, list]]:
    """``bloom_filters`` record batch from the commit's per-base-file
    ``bloomFilter`` blobs (base64 in the write stats, attached by the
    task writers when bloom emission is on). Empty when disabled or no
    base files were written (log appends never add NEW keys to a file
    group, so their blooms stay exact without re-emission)."""
    import base64

    from hudi_rs_spark.write.mdt_bloom import (
        BLOOM_RECORD_SCHEMA,
        encode_bloom_record,
    )

    records: list[tuple[bytes, bytes]] = []
    for s in stats:
        blob64 = s.get("bloomFilter")
        if not blob64:
            continue
        records.append(
            encode_bloom_record(
                s.get("partitionPath", "") or "",
                os.path.basename(s["path"]),
                cfg.instant,
                base64.b64decode(blob64),
            )
        )
    if not records:
        return []
    return [("bloom_filters", BLOOM_FILE_ID, BLOOM_RECORD_SCHEMA, records)]


def apply_deletions_to_mdt(cfg: WriteConfig, deleted: dict[str, list[str]]) -> None:
    """Record a clean's file deletions as isDeleted tombstones — the
    reader's merge (merger.rs semantics in files_partition._merge_into)
    drops tombstoned names, so the MDT listing stays equal to the
    post-clean direct listing."""
    from hudi_rs_spark.write.logblocks import encode_datum

    mdt = _mdt_base(cfg)
    _init_mdt(mdt, cfg.storage_dict())
    records: list[tuple[bytes, bytes]] = []
    for part, names in sorted(deleted.items()):
        key = part if part else NON_PARTITIONED_NAME
        value = {
            "key": key,
            "type": 2,
            "filesystemMetadata": {
                n: {"size": 0, "isDeleted": True} for n in sorted(set(names))
            },
        }
        records.append((key.encode(), encode_datum(value, MDT_RECORD_SCHEMA)))
    if records:
        _append_mdt_records(cfg, mdt, records)


def append_mdt_log(
    mdt: str,
    partition_dir: str,
    file_id: str,
    schema: dict,
    records: list[tuple[bytes, bytes]],
    instant: str,
    token: str,
    storage_options: dict | None = None,
) -> dict:
    """Append ``records`` to MDT file group ``file_id`` of partition
    ``partition_dir`` as one HFile-payload log block stamped with
    ``instant``; returns the new log's write stat. The one writer of MDT
    log files: driver-side for the commit's files/stats/bloom records
    (``_append_mdt_records``), executor-side for the record, secondary
    and expression indexes and the bloom backfill.

    The log is ``.{file_id}_{anchor}.log.{version}_{token}``, anchored
    at the group's existing log anchor (``_next_log_state``) so every
    append of the slice attaches to it; a fresh group anchors at
    ``instant``. Blocks become visible only when the MDT deltacommit at
    ``instant`` is published."""
    from hudi_rs_spark.hfile.writer import build_hfile
    from hudi_rs_spark.write.logblocks import frame_block

    out_dir = f"{mdt}/{partition_dir}"
    anchor, version = _next_log_state(out_dir, file_id, storage_options)
    name = f".{file_id}_{anchor or instant}.log.{version}_{token}"
    payload = frame_block(
        BLOCK_HFILE_DATA,
        {KEY_INSTANT_TIME: instant},
        build_hfile(records, {"schema": json.dumps(schema).encode()}),
    )
    _fs(out_dir, storage_options).append_bytes(f"{out_dir}/{name}", payload)
    # the version is new, so the file holds exactly this block
    return {
        "fileId": file_id,
        "path": f"{partition_dir}/{name}",
        "partitionPath": partition_dir,
        "fileSizeInBytes": len(payload),
    }


def _append_mdt_records(
    cfg: WriteConfig,
    mdt: str,
    records: list[tuple[bytes, bytes]],
    extra_partitions: list[tuple[str, str, dict, list]] | None = None,
) -> None:
    """Append one log block per MDT partition (``append_mdt_log``) and
    publish ONE MDT deltacommit covering them all. ``records`` targets
    the ``files`` partition; ``extra_partitions`` entries are
    (partition_dir, file_id, avro_schema, records) — e.g. column_stats /
    partition_stats. A single deltacommit matters: every MDT write for
    one data commit must appear atomically at the data commit's
    instant."""
    instant = cfg.instant
    work = [("files", MDT_FILE_ID, MDT_RECORD_SCHEMA, records)]
    work.extend(extra_partitions or [])
    write_stats: dict[str, list[dict]] = {}
    for part_dir, file_id, schema, recs in work:
        if recs:
            # token embeds the writing instant: a concurrent process that
            # computed the same (anchor, version) can then never emit the
            # same NAME (the commit lock serializes the appends themselves)
            write_stats.setdefault(part_dir, []).append(
                append_mdt_log(
                    mdt, part_dir, file_id, schema, recs, instant,
                    f"{instant}-0", cfg.storage_dict(),
                )
            )
    if not write_stats:
        return

    # MDT deltacommit (v8 layout 2): instant mirrors the data commit
    publish_mdt_deltacommit(mdt, instant, write_stats, cfg.storage_dict())


def publish_mdt_deltacommit(
    mdt: str,
    instant: str,
    write_stats: dict[str, list[dict]],
    options: dict | None = None,
) -> None:
    """Atomically publish one MDT deltacommit at ``instant`` — the
    single visibility gate for every MDT log block of that instant."""
    meta = {
        "partitionToWriteStats": write_stats,
        "operationType": "UPSERT",
    }
    name = completed_instant_name(instant, "deltacommit", 8)
    _fs(mdt, options).publish_bytes(
        f"{mdt}/.hoodie/timeline/{name}", json.dumps(meta).encode()
    )
