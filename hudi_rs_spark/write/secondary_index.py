"""Metadata-table secondary-index WRITER: one ``secondary_index_{col}``
partition per indexed column, cells ``{escaped_value}${escaped_key}``
with a SecondaryIndexMetadata {isDeleted} payload — the dual of
metadata/secondary_index.py's reader, appended executor-side by the
task writers like write/record_index.py (same sharding-free single file
group per index: a value-prefixed sorted HFile probes by prefix, so the
read is O(matching blocks) regardless of group count).

The index is a PRUNING structure, not an authority: deletes and
value-changing updates leave stale cells behind (the delete path only
knows record keys, not old values), and the read path compensates —
``HudiTable.lookup_by_secondary_key`` post-filters the fetched rows on
the indexed column, so stale cells cost wasted slice reads, never wrong
results. New values are always written at insert/update time, so false
NEGATIVES cannot happen; that asymmetry (complete, not precise) is what
lets the writer stay O(rows written this commit) with no read-modify-
write of old values.
"""

from __future__ import annotations

import os

from hudi_rs_spark.metadata.secondary_index import (
    SECONDARY_INDEX_PREFIX,
    _escape,
)

SECONDARY_INDEX_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "SecondaryIndexMetadata",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "HoodieSecondaryIndexInfo",
                    "fields": [{"name": "isDeleted", "type": "boolean"}],
                },
            ],
            "default": None,
        },
    ],
}


def cell_key(value: str, record_key: str) -> str:
    return f"{_escape(value)}${_escape(record_key)}"


def encode_cell(
    value: str, record_key: str, deleted: bool = False
) -> tuple[bytes, bytes]:
    from hudi_rs_spark.hfile.writer import MAX_KEY_BYTES
    from hudi_rs_spark.write.logblocks import encode_datum

    raw = cell_key(value, record_key)
    if len(raw.encode()) > MAX_KEY_BYTES:
        # validate BEFORE any bytes are framed/appended: the HFile key
        # length prefix is a signed short, and blowing up mid-append
        # while indexing a long string column would leave partial logs
        raise ValueError(
            f"secondary-index cell key for record {record_key!r} is "
            f"{len(raw.encode())} bytes (indexed value too long); the "
            f"HFile format caps keys at {MAX_KEY_BYTES} bytes — do not "
            "put a secondary index on unbounded text columns"
        )
    payload = {
        "key": raw,
        "type": 7,
        "SecondaryIndexMetadata": {"isDeleted": deleted},
    }
    return raw.encode(), encode_datum(payload, SECONDARY_INDEX_SCHEMA)


def index_file_id(column: str) -> str:
    return f"secondary-index-{column}-0000"


def backfill_secondary_index(spark, path: str, column: str) -> int:
    """Build a secondary index on ``column`` for a table that predates
    it: scan every live base file's (value, record_key) pairs
    DISTRIBUTED (each Spark partition appends its own log blocks),
    publish one MDT deltacommit, and advertise the partition. Returns
    the number of base files indexed.

    Requires a compacted table (no log files): MOR logs carry the NEW
    values of updated rows (and key inserts), and cells built from base
    files alone would miss them — ``write.compact`` first. Null values
    are unindexed, matching the writer."""
    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        update_properties,
    )
    from hudi_rs_spark.metadata.files_partition import has_files_partition
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.config import new_instant
    from hudi_rs_spark.write.writer import _base

    config = HudiTableConfig.from_base_path(path)
    if not has_files_partition(config):
        raise ValueError(
            "secondary-index backfill needs the metadata table: write "
            "with metadata.enable=true"
        )
    slices = HudiTable(path, spark=None, listing="direct").get_file_slices()
    if any(s.has_log_files for s in slices):
        raise ValueError(
            "secondary-index backfill requires a compacted table (log "
            "files hold updated values no base file has): run "
            "write.compact first"
        )
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

    purge_uncommitted_mdt_logs(path)
    paths = [
        os.path.join(path, s.base_file_relative_path())
        for s in slices
        if s.base_file is not None
    ]
    instant = new_instant()
    if paths:
        df = spark.read.parquet(*paths).select(column, "_hoodie_record_key")

        def index_partition(rows):
            from hudi_rs_spark.write.mdt import append_mdt_log
            from hudi_rs_spark.write.worklist import task_token

            records = [
                encode_cell(str(r[column]), r["_hoodie_record_key"])
                for r in rows
                if r[column] is not None
            ]
            if records:
                append_mdt_log(
                    f"{_base(path)}/.hoodie/metadata",
                    SECONDARY_INDEX_PREFIX + column, index_file_id(column),
                    SECONDARY_INDEX_SCHEMA, records, instant, task_token(),
                )

        df.rdd.foreachPartition(index_partition)

    from hudi_rs_spark.write.mdt import publish_mdt_deltacommit
    from hudi_rs_spark.write.record_index import _advertise

    publish_mdt_deltacommit(
        f"{_base(path)}/.hoodie/metadata", instant,
        {SECONDARY_INDEX_PREFIX + column: []},
    )
    update_properties(
        path, lambda have: _advertise(have, SECONDARY_INDEX_PREFIX + column)
    )
    return len(paths)
