"""Metadata-table ``record_index`` partition WRITER — record key ->
(partition, file group) locations, sharded across file groups and
appended EXECUTOR-SIDE by the task writers.

The dual of metadata/record_index.py's reader (HoodieMetadataRecord.
recordIndexMetadata, fileIdEncoding=1 raw-fileId form). Two properties
matter at 100 TB:

- the index has one record per ROW, so it must never transit the
  driver: each write task appends its own HFile-payload log blocks to
  the shard file groups it touched (log-file write tokens keep
  concurrent task files distinct; the MDT is a MOR table, so any number
  of log files per shard merge by key at read time);
- keys hash-shard across ``shards`` file groups (`record-index-NNNN`),
  so index reads parallelize per shard and a shard slice stays bounded.

Block validity is the same mechanism as every MDT write: blocks carry
the data commit's instant and become visible only when the driver
publishes the matching MDT deltacommit at commit time — a crashed task
leaves invisible blocks, not a corrupt index.

Tombstones: an EMPTY record value marks the key deleted (the reader
pops it during the merge). Updates never move a record between file
groups in MOR (that is the point of file groups), so only inserts,
deletes, and clustering rewrites touch the index.
"""

from __future__ import annotations

import hashlib
import os

RECORD_INDEX_PARTITION = "record_index"

RECORD_INDEX_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "recordIndexMetadata",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "HoodieRecordIndexInfo",
                    "fields": [
                        {"name": "partitionName", "type": ["null", "string"],
                         "default": None},
                        {"name": "fileIdHighBits", "type": ["null", "long"],
                         "default": None},
                        {"name": "fileIdLowBits", "type": ["null", "long"],
                         "default": None},
                        {"name": "fileIndex", "type": ["null", "int"],
                         "default": None},
                        {"name": "fileId", "type": ["null", "string"],
                         "default": None},
                        {"name": "instantTime", "type": ["null", "long"],
                         "default": None},
                        {"name": "fileIdEncoding", "type": "int"},
                    ],
                },
            ],
            "default": None,
        },
    ],
}


def shard_of(key: str, shards: int) -> int:
    """Stable shard assignment (md5, writer/reader-independent)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % max(1, shards)


def shard_file_id(shard: int) -> str:
    return f"record-index-{shard:04d}"


def encode_location(key: str, partition: str, file_id: str) -> tuple[bytes, bytes]:
    from hudi_rs_spark.write.logblocks import encode_datum

    value = {
        "key": key,
        "type": 5,
        "recordIndexMetadata": {
            "partitionName": partition or None,
            "fileId": file_id,
            "fileIdEncoding": 1,
        },
    }
    return key.encode(), encode_datum(value, RECORD_INDEX_SCHEMA)


def append_record_index_log(
    table_base_path: str,
    instant: str,
    entries: dict[str, tuple[str, str] | None],
    shards: int,
    token: str,
    storage_options: dict | None = None,
) -> None:
    """Append this task's index entries (``None`` value = tombstone) to
    their shard file groups. Runs on EXECUTORS — one log file per
    (shard, task token) through ``mdt.append_mdt_log``; workers resolve
    their own storage backend from ``storage_options``."""
    from hudi_rs_spark.write.mdt import append_mdt_log
    from hudi_rs_spark.write.writer import _base

    by_shard: dict[int, list[tuple[bytes, bytes]]] = {}
    for key, loc in entries.items():
        if loc is None:
            rec = (key.encode(), b"")  # tombstone
        else:
            rec = encode_location(key, loc[0], loc[1])
        by_shard.setdefault(shard_of(key, shards), []).append(rec)

    mdt = f"{_base(table_base_path)}/.hoodie/metadata"
    for shard, records in sorted(by_shard.items()):
        append_mdt_log(
            mdt, RECORD_INDEX_PARTITION, shard_file_id(shard),
            RECORD_INDEX_SCHEMA, records, instant, token, storage_options,
        )


SHARDS_PROP = "hoodie.metadata.record.index.shards"


def existing_shard_count(path: str, config=None) -> int:
    """Shard count the table was created with — from the persisted
    table property ``hoodie.metadata.record.index.shards``
    (authoritative); 0 when the index has never been written. The count
    is FIXED for a table's lifetime: md5-sharding the same key into two
    different shard file groups would break the reader's last-wins
    merge (shard iteration order is arbitrary). Inferring the count
    from on-disk shard file names is NOT safe — high-numbered shards
    that happen to hold no keys yet would make max(observed)+1 too
    small and re-shard later keys inconsistently — so index files
    without the property are an error, never a guess. ``config``: the
    table's config as the caller loaded it (read here when not given)."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.fs.storage import storage_for

    st = storage_for(path)
    if config is None and st.isfile(f"{path}/.hoodie/hoodie.properties"):
        config = HudiTableConfig.from_base_path(path)
    v = config.props.get(SHARDS_PROP) if config is not None else None
    if v:
        return int(v)
    ri_dir = f"{path}/.hoodie/metadata/{RECORD_INDEX_PARTITION}"
    if any(
        e.name.startswith(".record-index-") and ".log." in e.name
        for e in st.list_dir(ri_dir)
    ):
        raise ValueError(
            "record-index shard files exist but the table property "
            f"{SHARDS_PROP} is missing; refusing to guess the shard "
            "count (a wrong guess re-shards keys inconsistently and "
            "breaks the reader's last-wins merge). Restore the property "
            "in .hoodie/hoodie.properties to the value the index was "
            "built with."
        )
    return 0


def backfill_record_index(spark, path: str, shards: int = 4) -> int:
    """Build the record index for a table that predates it: scan every
    live base file's meta columns DISTRIBUTED (one Spark partition per
    input split appends its own shard log files — index rows never
    transit the driver), publish one MDT deltacommit, and advertise the
    partition + pinned shard count in the table properties. Returns the
    number of base files indexed.

    Requires a compacted table (no log files): Hudi MOR log files may
    carry INSERTS of keys absent from every base file, and an index
    missing those keys would make index pruning drop live rows —
    ``write.compact`` first. Updates never move keys between groups and
    deleted keys resolve to empty reads, so base-file keys are complete
    on a log-free table."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.metadata.files_partition import has_files_partition
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.config import new_instant

    config = HudiTableConfig.from_base_path(path)
    if not has_files_partition(config):
        raise ValueError(
            "record-index backfill needs the metadata table: write with "
            "metadata.enable=true (or this table was created without it)"
        )
    slices = HudiTable(path, spark=None, listing="direct").get_file_slices()
    if any(s.has_log_files for s in slices):
        raise ValueError(
            "record-index backfill requires a compacted table (log files "
            "may hold key inserts no base file has): run write.compact "
            "first"
        )
    # a failed earlier backfill/write may have left shard logs anchored
    # at a never-committed instant — executor appends below would reuse
    # that anchor and the reader would drop the whole shard slice
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

    purge_uncommitted_mdt_logs(path)
    paths = [
        os.path.join(path, s.base_file_relative_path())
        for s in slices
        if s.base_file is not None
    ]
    instant = new_instant()
    if paths:
        from pyspark.sql import functions as F

        df = spark.read.parquet(*paths).select(
            "_hoodie_record_key",
            "_hoodie_partition_path",
            F.substring_index("_hoodie_file_name", "_", 1).alias("fid"),
        )

        def index_partition(rows):
            from hudi_rs_spark.write.worklist import task_token

            token = task_token()
            entries = {
                r["_hoodie_record_key"]: (r["_hoodie_partition_path"], r["fid"])
                for r in rows
            }
            if entries:
                append_record_index_log(path, instant, entries, shards, token)

        df.rdd.foreachPartition(index_partition)

    # one MDT deltacommit makes every shard's blocks visible atomically
    from hudi_rs_spark.config.table_config import update_properties
    from hudi_rs_spark.write.mdt import publish_mdt_deltacommit
    from hudi_rs_spark.write.writer import _base

    publish_mdt_deltacommit(
        f"{_base(path)}/.hoodie/metadata", instant,
        {RECORD_INDEX_PARTITION: []},
    )

    # advertise: partitions += record_index, shard count pinned
    update_properties(
        path,
        lambda have: _advertise(have, RECORD_INDEX_PARTITION, {SHARDS_PROP: str(shards)}),
    )
    return len(paths)


def _advertise(
    have: dict[str, str], partition: str, defaults: dict[str, str] | None = None
) -> dict[str, str]:
    parts = {
        p.strip()
        for p in have.get("hoodie.table.metadata.partitions", "").split(",")
        if p.strip()
    }
    parts.add(partition)
    have["hoodie.table.metadata.partitions"] = ",".join(sorted(parts))
    for k, v in (defaults or {}).items():
        have.setdefault(k, v)
    return have
