"""Metadata-table ``bloom_filters`` partition records (type = 4).

Reference spec: ``crates/core/src/metadata/table/records.rs:114-116``
— "Bloom filter partition record (type = 4) … Key is a composite key,
value contains BloomFilterMetadata". The composite key here follows
this repo's column_stats convention: ``{partition or '.'}:{fileName}``
(the reader resolves by fileName, so the convention only needs to be
self-consistent and prefix-searchable by partition).

Value shape mirrors Hudi's HoodieMetadataBloomFilter avro
(type / timestamp / bloomFilter bytes / isDeleted); encoded by hand
like write/mdt_stats.py — avro binary is plain field concatenation,
and the hand encoder keeps reader and writer self-consistent without
the wrapper-type zoo.

This module only encodes records. They reach the MDT through the one
log appender, ``write/mdt.py::append_mdt_log``: on the driver for a
commit's new base files (``mdt._bloom_partition``), and in the
executor tasks of ``backfill_bloom_filters``, one log file per task
token, anchored to the group's existing log anchor.
"""

from __future__ import annotations

from hudi_rs_spark.write.logblocks import _zigzag

BLOOM_RECORD_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "BloomFilterMetadata",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "HoodieMetadataBloomFilter",
                    "fields": [
                        {"name": "type", "type": ["null", "string"],
                         "default": None},
                        {"name": "timestamp", "type": ["null", "string"],
                         "default": None},
                        {"name": "bloomFilter", "type": "bytes"},
                        {"name": "isDeleted", "type": "boolean"},
                    ],
                },
            ],
            "default": None,
        },
    ],
}


def _enc_string(v: str) -> bytes:
    raw = v.encode("utf-8")
    return _zigzag(len(raw)) + raw


def _enc_nullable_string(v: str | None) -> bytes:
    if v is None:
        return _zigzag(0)
    return _zigzag(1) + _enc_string(v)


def bloom_record_key(partition: str, file_name: str) -> str:
    return f"{partition or '.'}:{file_name}"


def backfill_bloom_filters(spark, path: str) -> int:
    """Build bloom_filters records for a table that predates them: scan
    every live base file's key column DISTRIBUTED (one bloom per file,
    built in the task holding that file's keys; blobs never transit the
    driver), publish one MDT deltacommit, advertise the partition.
    Returns the number of base files bloomed.

    Safe on tables WITH log files: blooms cover base-file keys, exactly
    the keys the simple-index tier can see — a key living only in logs
    is equally invisible to both, so the bloom tier adds speed, never
    new blindness."""
    import os

    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        update_properties,
    )
    from hudi_rs_spark.metadata.files_partition import has_files_partition
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.config import new_instant
    from hudi_rs_spark.write.mdt import (
        BLOOM_FILE_ID,
        publish_mdt_deltacommit,
        purge_uncommitted_mdt_logs,
    )
    from hudi_rs_spark.write.record_index import _advertise
    from hudi_rs_spark.write.writer import _base

    config = HudiTableConfig.from_base_path(path)
    if not has_files_partition(config):
        raise ValueError(
            "bloom-filter backfill needs the metadata table: write with "
            "metadata.enable=true first"
        )
    purge_uncommitted_mdt_logs(path)
    slices = HudiTable(path, spark=None, listing="direct").get_file_slices()
    paths = [
        os.path.join(path, s.base_file_relative_path())
        for s in slices
        if s.base_file is not None
    ]
    instant = new_instant()
    n_files = 0
    if paths:
        df = spark.read.parquet(*paths).select(
            "_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name"
        )

        def bloom_one(pdf):
            import pandas as pd

            from hudi_rs_spark.bloomfilter import build_bloom
            from hudi_rs_spark.write.mdt import append_mdt_log
            from hudi_rs_spark.write.worklist import task_token

            fname = pdf["_hoodie_file_name"].iloc[0]
            part = pdf["_hoodie_partition_path"].iloc[0] or ""
            append_mdt_log(
                f"{_base(path)}/.hoodie/metadata", "bloom_filters",
                BLOOM_FILE_ID, BLOOM_RECORD_SCHEMA,
                [
                    encode_bloom_record(
                        part, fname, instant,
                        build_bloom(pdf["_hoodie_record_key"]),
                    )
                ],
                instant, task_token(),
            )
            return pd.DataFrame({"f": [fname]})

        n_files = (
            df.groupBy("_hoodie_file_name")
            .applyInPandas(bloom_one, "f string")
            .count()
        )

    publish_mdt_deltacommit(
        f"{_base(path)}/.hoodie/metadata", instant, {"bloom_filters": []}
    )
    update_properties(path, lambda have: _advertise(have, "bloom_filters"))
    return int(n_files)


def encode_bloom_record(
    partition: str,
    file_name: str,
    instant: str,
    bloom_blob: bytes,
    bloom_type: str | None = None,
    is_deleted: bool = False,
) -> tuple[bytes, bytes]:
    """(key_bytes, value_bytes) for one bloom-filter record."""
    from hudi_rs_spark.bloomfilter import BLOOM_TYPE

    key = bloom_record_key(partition, file_name)
    out = _enc_string(key)
    out += _zigzag(4)  # MetadataRecordType::BloomFilters
    out += _zigzag(1)  # BloomFilterMetadata present
    out += _enc_nullable_string(bloom_type or BLOOM_TYPE)
    out += _enc_nullable_string(instant)
    out += _zigzag(len(bloom_blob)) + bloom_blob
    out += b"\x01" if is_deleted else b"\x00"
    return key.encode(), out
