"""Minimal MOR table writer (EXPERIMENTAL — see ``hudi_rs_spark.write``).

Builds a non-partitioned (or hive/non-hive partitioned via explicit
partition dirs) MERGE_ON_READ table file-by-file: parquet base files
with Hudi meta columns, framed log blocks, and timeline commit files at
layout 1 (``{instant}.{action}``) or layout 2
(``{instant}_{completion}.{action}``, table version 8+).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa

META_COLS = (
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
)


# ---------------------------------------------------------------------------
# minimal v6 MOR table
# ---------------------------------------------------------------------------
class HudiTableWriter:
    """A MERGE_ON_READ table built file-by-file (default: v6, timeline
    layout 1; pass ``table_version=8`` for the v8 layout-2 timeline with
    completion-timestamped commit files under ``.hoodie/timeline``).

    Usage:
        t = HudiTableWriter(path, record_key="id", ordering="ts")
        t.write_base("g1-0", "20240101000000000", rows)
        t.append_log("g1-0", "20240101000000000",
                     parquet_data_block("20240102000000000", rows2))
        t.commit("20240101000000000")          # writes the .deltacommit
    """

    def __init__(
        self,
        base_path: str,
        record_key: str = "id",
        ordering: str = "ts",
        extra_props: dict[str, str] | None = None,
        table_version: int = 6,
        table_type: str = "MERGE_ON_READ",
    ):
        from hudi_rs_spark.config.table_config import format_properties
        from hudi_rs_spark.write.writer import _base, _fs

        self.base_path = _base(base_path)
        self.storage = _fs(self.base_path)
        self.ordering = ordering
        hoodie = f"{self.base_path}/.hoodie"
        props = {
            "hoodie.table.name": "synth",
            "hoodie.table.type": table_type,
            "hoodie.table.version": str(table_version),
            "hoodie.timeline.layout.version": "1" if table_version < 8 else "2",
            "hoodie.table.recordkey.fields": record_key,
            "hoodie.table.precombine.field": ordering,
            "hoodie.populate.meta.fields": "true",
        }
        if table_version >= 8:
            props["hoodie.timeline.path"] = "timeline"
        props.update(extra_props or {})
        self.storage.publish_bytes(
            f"{hoodie}/hoodie.properties", format_properties(props).encode()
        )
        self._write_stats: dict[str, list[dict]] = {}  # instant -> stats
        self._props = props

    @property
    def timeline_dir(self) -> str:
        hoodie = os.path.join(self.base_path, ".hoodie")
        if (
            int(self._props.get("hoodie.timeline.layout.version", "1")) >= 2
            and self._props.get("hoodie.timeline.path")
        ):
            return os.path.join(hoodie, self._props["hoodie.timeline.path"])
        return hoodie

    def meta_columns(
        self, instant: str, keys: list[str], file_name: str, partition: str = ""
    ) -> dict:
        return {
            "_hoodie_commit_time": [instant] * len(keys),
            "_hoodie_commit_seqno": [f"{instant}_0_{i}" for i in range(len(keys))],
            "_hoodie_record_key": keys,
            "_hoodie_partition_path": [partition] * len(keys),
            "_hoodie_file_name": [file_name] * len(keys),
        }

    def write_base(
        self,
        file_id: str,
        instant: str,
        data: dict,
        keys: list[str],
        partition: str = "",
    ):
        """data: non-meta columns (must include the ordering field).
        ``partition``: relative partition dir ('' = non-partitioned)."""
        name = f"{file_id}_0-1-0_{instant}.parquet"
        rel = f"{partition}/{name}" if partition else name
        cols = self.meta_columns(instant, keys, name, partition)
        cols.update(data)
        from hudi_rs_spark.write.writer import write_parquet

        write_parquet(pa.table(cols), f"{self.base_path}/{rel}", self.storage)
        self._write_stats.setdefault(instant, []).append(
            {"fileId": file_id, "path": rel, "partitionPath": partition}
        )
        return name

    def log_rows(self, instant: str, data: dict, keys: list[str], file_name: str) -> dict:
        cols = self.meta_columns(instant, keys, file_name)
        cols.update(data)
        return cols

    def append_log(
        self, file_id: str, base_instant: str, payload: bytes, version: int = 1,
        stats_instant: str | None = None,
    ) -> str:
        name = f".{file_id}_{base_instant}.log.{version}_0-1-0"
        self.storage.append_bytes(f"{self.base_path}/{name}", payload)
        if stats_instant:
            self._write_stats.setdefault(stats_instant, []).append(
                {"fileId": file_id, "path": name, "partitionPath": ""}
            )
        return name

    def commit_metadata_bytes(
        self,
        instant: str,
        schema: dict | None = None,
        replaced: dict[str, list[str]] | None = None,
        operation: str = "UPSERT",
    ) -> bytes:
        meta = {
            "partitionToWriteStats": {"": self._write_stats.get(instant, [])},
            "operationType": operation,
        }
        if replaced is not None:
            meta["partitionToReplaceFileIds"] = replaced
        if schema is not None:
            meta["extraMetadata"] = {"schema": json.dumps(schema)}
        return json.dumps(meta).encode()

    def commit(
        self,
        instant: str,
        action: str = "deltacommit",
        schema: dict | None = None,
        completion: str | None = None,
        replaced: dict[str, list[str]] | None = None,
    ):
        tdir = self.timeline_dir
        if int(self._props.get("hoodie.timeline.layout.version", "1")) >= 2:
            name = f"{instant}_{completion or instant}.{action}"
        else:
            name = f"{instant}.{action}"
        self.storage.publish_bytes(
            f"{tdir}/{name}",
            self.commit_metadata_bytes(instant, schema, replaced),
        )

    def archive_instant(self, instant: str, action: str = "deltacommit"):
        """Layout 1: park the completed commit file in the archive folder
        (the shape loader.rs:236-253 V1Archived lists)."""
        hoodie = f"{self.base_path}/.hoodie"
        archive = (
            f"{hoodie}/{self._props.get('hoodie.archivelog.folder', 'archived')}"
        )
        name = f"{instant}.{action}"
        self.storage.rename(f"{hoodie}/{name}", f"{archive}/{name}")


