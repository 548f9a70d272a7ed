"""Service work-list distribution: per-slice tasks shipped as a
DataFrame of JSON descriptors, not pickled planner objects.

``parallelize(pickled FileSlice objects)`` works, but it serializes
every plan object through the driver's pickler and ships the scan
context once PER TASK — at millions of file groups that is a driver
CPU/heap bottleneck. Here the per-slice VARYING fields ride as Arrow
rows (one small JSON string each, ``session.local_frame``) and the
per-table CONSTANT scan context ships once per executor via broadcast;
executors rebuild the slice descriptor locally. Results (stat dicts —
metadata-sized by construction) come back the same way.

Used by write/compact.py and write/cluster.py; ``sources/pyds.py::
read_slices`` builds its read descriptors with the same helpers.

Every service that writes a new base file (compaction, clustering, the
bucket services) and the batch writer's insert flush finish it through
``finish_base_file``: the file plus its side records (column stats,
bloom blob, record-index relocation), chosen on the driver by
``side_records``.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator

import pyarrow as pa

from hudi_rs_spark.session import local_frame


def run_slice_tasks(
    spark,
    descriptors: list[dict],
    shared: dict,
    fn: Callable[[dict, dict], dict],
) -> list[dict]:
    """Run ``fn(descriptor, shared) -> stat dict`` once per descriptor
    on executors; returns the collected stat dicts. ``fn`` must be a
    module-level function (pickled by reference, not by value)."""
    sc = spark.sparkContext
    n_part = min(len(descriptors), max(sc.defaultParallelism, 1) * 4) or 1
    df = local_frame(
        spark, [(json.dumps(d),) for d in descriptors], "desc string"
    ).repartition(n_part)
    shared_bc = sc.broadcast(json.dumps(shared))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        sh = json.loads(shared_bc.value)
        for pdf in batches:
            out = [json.dumps(fn(json.loads(d), sh)) for d in pdf["desc"]]
            yield pd.DataFrame({"stat": out})

    rows = df.mapInPandas(run, "stat string").collect()
    return [json.loads(r.stat) for r in rows]


def slice_descriptor(p) -> dict:
    """Per-slice VARYING fields of a ``HudiSlicePartition`` (the rest is
    table-constant and rides in ``shared``)."""
    return {
        "base_file": p.base_file,
        "log_files": list(p.log_files),
        "partition_values": p.partition_values,
    }


def shared_scan_context(p) -> dict:
    """Per-table CONSTANT fields of a ``HudiSlicePartition`` (identical
    across one service run's slices)."""
    return {
        "schema_json": p.schema_json,
        "ordering": p.ordering,
        "strategy": p.strategy,
        "valid_instants": list(p.valid_instants),
        "archival_boundary": p.archival_boundary,
        "pending_instants": list(p.pending_instants),
        "as_of": p.as_of,
        "merge_logs": p.merge_logs,
        "start_exclusive": p.start_exclusive,
        "storage_options": p.storage_options,
        "partial_fill": p.partial_fill,
        "renames": p.renames,
        "cdc": p.cdc,
    }


def rebuild_slice(desc: dict, shared: dict):
    """Executor side: HudiSlicePartition from descriptor + context."""
    from hudi_rs_spark.sources.pyds import HudiSlicePartition

    return HudiSlicePartition(
        base_file=desc["base_file"],
        log_files=list(desc["log_files"]),
        schema_json=shared["schema_json"],
        ordering=shared["ordering"],
        strategy=shared["strategy"],
        valid_instants=list(shared["valid_instants"]),
        archival_boundary=shared["archival_boundary"],
        pending_instants=list(shared["pending_instants"]),
        as_of=shared["as_of"],
        merge_logs=shared["merge_logs"],
        start_exclusive=shared["start_exclusive"],
        partition_values=desc["partition_values"],
        cdc=shared["cdc"],
        storage_options=shared["storage_options"],
        partial_fill=shared.get("partial_fill"),
        renames=shared.get("renames"),
    )


def read_slices(slices) -> pa.Table:
    """Executor side: the merged rows of ``slices`` (one Arrow table;
    empty with the table schema when no slice yields a row)."""
    from hudi_rs_spark.sources.pyds import _read_slice

    batches = [b for p in slices for b in _read_slice(p)]
    if batches:
        return pa.Table.from_batches(batches)
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        T.StructType.fromJson(json.loads(slices[0].schema_json))
    ).empty_table()


def slice_identity(base_path: str, p) -> tuple[str, str]:
    """(relative partition dir, file id) of a slice descriptor — from
    the base file when present, else the first log file (log-only
    slice)."""
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile

    ref = p.base_file or p.log_files[0]
    d = os.path.dirname(os.path.relpath(ref, base_path))
    name = os.path.basename(ref)
    fid = (
        BaseFile.parse(name) if p.base_file else LogFile.parse(name)
    ).file_id
    return ("" if d == "." else d), fid


def task_token() -> str:
    """Write token of the running Spark task,
    ``{partition}-{stage}-{attempt}`` ("0-0-0" outside a task)."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    if tc is None:
        return "0-0-0"
    return f"{tc.partitionId()}-{tc.stageId()}-{tc.attemptNumber()}"


def side_records(path: str, config) -> dict:
    """Driver side: the side records every new base file of the table at
    ``path`` carries, from the table's config as the caller loaded it —
    a column_stats entry and a bloom blob when the table advertises
    those MDT partitions, and a record-index relocation into the
    table's fixed shard count when it advertises the record index."""
    from hudi_rs_spark.metadata.bloom_filters import (
        has_bloom_filters_partition,
    )
    from hudi_rs_spark.metadata.column_stats import has_column_stats_partition
    from hudi_rs_spark.metadata.record_index import has_record_index_partition
    from hudi_rs_spark.write.record_index import existing_shard_count

    return {
        "column_stats": has_column_stats_partition(config),
        "bloom": has_bloom_filters_partition(config),
        "index_shards": (
            existing_shard_count(path, config)
            if has_record_index_partition(config) else 0
        ),
    }


def finish_base_file(
    rows: pa.Table,
    path: str,
    partition: str,
    file_id: str,
    instant: str,
    token: str,
    side: dict,
    *,
    ext: str = "parquet",
    storage_options: dict | None = None,
    inserts: bool = False,
) -> dict:
    """Executor side: write ``rows`` as file group ``file_id``'s new base
    file ``{file_id}_{token}_{instant}.{ext}`` in ``partition`` and
    return its write stat. ``_hoodie_file_name`` is set to the new name;
    ``side`` (from ``side_records``) picks the side records: the stat's
    ``columnStats`` and ``bloomFilter``, and every key's record-index
    location re-pointed at this file group. ``inserts`` counts the rows
    as inserts (``numInserts``) too."""
    from hudi_rs_spark.write.writer import _base, _fs, write_base_file

    name = f"{file_id}_{token}_{instant}.{ext}"
    rel = f"{partition}/{name}" if partition else name
    if "_hoodie_file_name" in rows.column_names:
        rows = rows.set_column(
            rows.column_names.index("_hoodie_file_name"),
            "_hoodie_file_name",
            pa.array([name] * len(rows), pa.string()),
        )
    base = _base(path)
    size = write_base_file(
        rows, f"{base}/{rel}", _fs(base, storage_options)
    )
    stat = {
        "fileId": file_id,
        "path": rel,
        "partitionPath": partition,
        "numWrites": len(rows),
    }
    if inserts:
        stat["numInserts"] = len(rows)
    stat["fileSizeInBytes"] = size
    stat["totalWriteBytes"] = size
    if side["column_stats"]:
        from hudi_rs_spark.write.mdt_stats import compute_column_stats

        stat["columnStats"] = compute_column_stats(rows)
    if "_hoodie_record_key" not in rows.column_names:
        return stat
    keys = rows["_hoodie_record_key"].combine_chunks()
    if side["bloom"]:
        # a missing bloom record is safe but makes the file an
        # always-candidate in the tag path
        import base64

        from hudi_rs_spark.bloomfilter import build_bloom

        stat["bloomFilter"] = base64.b64encode(
            build_bloom(k.as_py() for k in keys)
        ).decode("ascii")
    if side["index_shards"]:
        from hudi_rs_spark.write.record_index import append_record_index_log

        append_record_index_log(
            path, instant, {k.as_py(): (partition, file_id) for k in keys},
            side["index_shards"], token, storage_options,
        )
    return stat
