"""Metadata-table ``files`` partition reader — the O(partitions) listing
fast path (ops 8/20).

Re-expresses /root/reference/crates/core/src/metadata/table/mod.rs:121-270
(files-partition fetch with pruning), metadata/table/records.rs:238-330
(record decode), and metadata/merger.rs:80-212 (base∪log merge semantics):

  - the MDT is itself a small MOR Hudi table at ``{base}/.hoodie/metadata``
    partitioned by metadata partition name; the ``files`` partition has
    ONE file group whose base files are HFiles and whose log files carry
    HFile payloads in block type 4
  - each record: key = data-table partition path ("." for non-partitioned,
    "__all_partitions__" for the partition list), value = avro
    HoodieMetadataRecord whose ``filesystemMetadata`` maps file name ->
    {size, isDeleted}
  - merge per key: deletion cancels an existing live entry, tombstones
    keep the newer tombstone, live entries keep max(size)

Why it matters at scale: direct listing walks O(files) paths on the
driver; a 100 TB table with 10^5-10^6 files makes the PLANNER the
bottleneck. This path reads one small file group instead, and partition
pruning happens on record KEYS before any data-table file is touched.
Everything here is driver-side and Spark-free.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from hudi_rs_spark.avro.binary import Reader, collect_names, decode
from hudi_rs_spark.config.table_config import HudiTableConfig
from hudi_rs_spark.fs.fs_view import build_file_groups, get_file_slices
from hudi_rs_spark.hfile import HFile
from hudi_rs_spark.logfile import reader as logreader
from hudi_rs_spark.timeline.timeline import Timeline

ALL_PARTITIONS_KEY = "__all_partitions__"
NON_PARTITIONED_NAME = "."
FILES_PARTITION = "files"


@dataclass
class FilesPartitionRecord:
    key: str  # normalized partition path ("" for non-partitioned)
    files: dict[str, tuple[int, bool]] = field(default_factory=dict)  # name -> (size, is_deleted)

    def active_files(self) -> list[tuple[str, int]]:
        return [(n, s) for n, (s, d) in self.files.items() if not d]

    def partition_names(self) -> list[str]:
        return [n for n, (_, d) in self.files.items() if not d]


def _decode_record(key: bytes, value: bytes, schema: dict, names: dict) -> FilesPartitionRecord:
    raw_key = key.decode("utf-8")
    norm_key = "" if raw_key == NON_PARTITIONED_NAME else raw_key
    rec = FilesPartitionRecord(norm_key)
    if not value:
        return rec
    d = decode(Reader(value), schema, names)
    fs_meta = d.get("filesystemMetadata") or {}
    for name, info in fs_meta.items():
        if info is None:
            continue
        fname = "" if (raw_key == ALL_PARTITIONS_KEY and name == NON_PARTITIONED_NAME) else name
        rec.files[fname] = (int(info.get("size") or 0), bool(info.get("isDeleted")))
    return rec


def _merge_into(existing: FilesPartitionRecord, newer: FilesPartitionRecord) -> None:
    """merger.rs:178-212 semantics."""
    for name, (size, deleted) in newer.files.items():
        old = existing.files.get(name)
        if old is None:
            existing.files[name] = (size, deleted)
        elif deleted:
            if old[1]:
                existing.files[name] = (size, True)  # newer tombstone
            else:
                del existing.files[name]  # deletion cancels live entry
        else:
            existing.files[name] = (max(old[0], size), False)


def mdt_path(data_table_base_path: str) -> str:
    return os.path.join(data_table_base_path, ".hoodie", "metadata")


def has_files_partition(config: HudiTableConfig) -> bool:
    parts = config.props.get("hoodie.table.metadata.partitions", "")
    return FILES_PARTITION in [p.strip() for p in parts.split(",") if p.strip()]


@dataclass(frozen=True)
class PartitionSnapshot:
    """One MDT partition as planned from one MDT timeline: its file
    slices in merge order plus the facts the log-block validity rules
    need. Planned once (the only step that reads the MDT's
    hoodie.properties, loads its timeline and lists the partition) and
    picklable, so executor tasks read shard slices from the driver's
    plan; ``storage_options`` opens its files."""

    base: str
    slices: tuple
    valid: frozenset
    archival_boundary: str | None
    pending: frozenset
    storage_options: dict | None = None


def plan_partition(
    data_table_base_path: str, partition: str,
    storage_options: dict | None = None,
) -> PartitionSnapshot:
    """Plan the MDT ``partition`` of the table at ``data_table_base_path``.
    Planning of the MDT reuses the normal timeline/slice machinery (it IS
    a Hudi MOR table); only the payload format differs."""
    base = mdt_path(data_table_base_path)
    config = HudiTableConfig.from_base_path(base)
    timeline = Timeline.load(base, config)
    completion = None
    if config.timeline_layout_version >= 2:
        completion = {
            i.timestamp: i.completion_timestamp or i.timestamp
            for i in timeline.instants
        }
    groups = build_file_groups(base, completion, lambda p: p == partition)
    valid = {i.timestamp for i in timeline.instants}
    boundary = timeline.earliest_active_timestamp()
    slices = get_file_slices(
        groups, None, valid_commit_timestamps=valid,
        archival_boundary=boundary,
        pending_timestamps=timeline.pending_timestamps,
    )
    return PartitionSnapshot(
        base, tuple(slices), frozenset(valid), boundary,
        frozenset(timeline.pending_timestamps), storage_options,
    )


def iter_partition_hfiles(
    data_table_base_path: str, partition: str, file_id: str | None = None,
    with_instants: bool = False, snapshot: PartitionSnapshot | None = None,
):
    """Yield (is_base, HFile) for the given MDT partition's file
    slice(s), in merge order: base first, then valid log-block payloads.
    ``file_id`` restricts to one file group (a record-index SHARD reads
    only its own slice — the per-shard parallel read path).
    ``with_instants=True`` yields (is_base, HFile, instant, slice_ix)
    instead, where instant is the block's writing instant (base: the
    base file's commit) and slice_ix the ordinal of the file slice the
    payload belongs to — needed by folds that order same-instant twins
    semantically and stream per slice (read_record_index; record keys
    never span slices, so cross-slice order is free). ``snapshot``: a
    ``plan_partition`` result to read from instead of planning here."""
    snap = snapshot or plan_partition(data_table_base_path, partition)
    base, options = snap.base, snap.storage_options
    for slice_ix, sl in enumerate(snap.slices):
        if file_id is not None and sl.file_id != file_id:
            continue
        if sl.base_file is not None:
            hf = HFile.from_path(
                os.path.join(base, sl.base_file_relative_path()), options
            )
            if with_instants:
                yield True, hf, sl.base_file.commit_timestamp, slice_ix
            else:
                yield True, hf
        # MDT file groups are LOG-ONLY until their first compaction (the
        # writer appends HFile-payload log blocks); a baseless slice just
        # means every record is still in the logs
        for rel in sl.log_file_relative_paths():
            blocks = logreader.read_log_file(os.path.join(base, rel), options)
            for b in logreader.valid_blocks(
                blocks, valid_instants=snap.valid,
                archival_boundary=snap.archival_boundary,
                pending_instants=snap.pending,
            ):
                if b.hfile_content is not None:
                    if with_instants:
                        # valid_blocks only passes blocks whose instant
                        # is a real timeline instant; the fold's
                        # ordering contract must not silently depend on
                        # that filtering (ADVICE r13) — fail loudly if
                        # it ever changes.
                        assert b.instant_time is not None, (
                            f"valid log block without instant in {rel}"
                        )
                        yield False, HFile(b.hfile_content), b.instant_time, slice_ix
                    else:
                        yield False, HFile(b.hfile_content)


def read_files_partition(
    data_table_base_path: str,
    keys: set[str] | None = None,
) -> dict[str, FilesPartitionRecord]:
    """Collect+merge the files partition records, optionally filtered to
    ``keys`` (raw record keys, e.g. "city=chennai" / "__all_partitions__")."""
    merged: dict[str, FilesPartitionRecord] = {}
    schema = names = None
    seen_any = False
    for is_base, hf in iter_partition_hfiles(data_table_base_path, FILES_PARTITION):
        seen_any = True
        if schema is None:
            schema = hf.avro_schema()
            if schema is None:
                raise ValueError("MDT HFile carries no avro schema in file info")
            names = collect_names(schema)
        for k, v in hf.records():
            raw = k.decode("utf-8")
            if keys is not None and raw not in keys:
                continue
            rec = _decode_record(k, v, schema, names)
            if is_base or raw not in merged:
                merged[raw] = rec
            else:
                _merge_into(merged[raw], rec)
    if not seen_any:
        raise ValueError(
            f"no file slice found for MDT {FILES_PARTITION} partition"
        )
    return merged


def list_partition_files_via_mdt(
    data_table_base_path: str,
    config: HudiTableConfig,
    partition_filter=None,
) -> list[tuple[str, str, int]]:
    """(partition, file_name, size) entries for ``build_file_groups``,
    sourced from the MDT instead of storage listing.

    Partition pruning follows mod.rs:164-220: read ``__all_partitions__``
    first, prune names driver-side, then fetch only surviving keys."""
    if not config.partition_fields:
        recs = read_files_partition(data_table_base_path, {NON_PARTITIONED_NAME})
        rec = recs.get(NON_PARTITIONED_NAME)
        return [("", n, s) for n, s in rec.active_files()] if rec else []

    all_parts = read_files_partition(data_table_base_path, {ALL_PARTITIONS_KEY})
    names = (
        all_parts[ALL_PARTITIONS_KEY].partition_names()
        if ALL_PARTITIONS_KEY in all_parts
        else []
    )
    if partition_filter is not None:
        names = [n for n in names if partition_filter(n)]
    if not names:
        return []
    recs = read_files_partition(data_table_base_path, set(names))
    out: list[tuple[str, str, int]] = []
    for part in names:
        rec = recs.get(part)
        if rec is None:
            continue
        for n, s in rec.active_files():
            out.append((part, n, s))
    return out
