"""MOR compaction: merge each file slice's base+logs into a new base
file and publish one ``commit`` — the table's read amplification resets
while time travel still reaches every pre-compaction slice (the old
base and logs stay on storage under earlier instants; reference
lifecycle semantics per crates/test/src/v9_verification.rs:33-41's
clustering/overwrite handling of superseded slices).

Spark-first split:
- DRIVER plans: current snapshot slices via the same planner the
  connector reader uses (``HudiPyReader.partitions()`` — timeline,
  as-of selection, schema resolution), keeping only slices that have
  log files.
- EXECUTORS merge: each task runs the connector's slice reader
  (``pyds._read_slice`` — identical block validity/ordering/delete
  semantics as every read) and writes the merged result as the file
  group's new base file at the compaction instant. Per-slice map over
  an RDD of slice descriptors — the one place imperative per-partition
  logic is the right tool (a slice is exactly the merge scope; there is
  nothing to shuffle).
- DRIVER commits: one ``commit`` instant with the new base-file stats.

Scale: parallelism = number of dirty slices (a 100 TB table compacts
thousands of slices concurrently); bytes touched = dirty slices only;
no shuffle anywhere.
"""

from __future__ import annotations

import os

import pyarrow as pa

from hudi_rs_spark.write.config import WriteConfig, new_instant


def _compact_one(desc: dict, shared: dict) -> dict:
    """Executor: merge one slice -> new base file; returns a stat dict.
    ``desc``/``shared`` per write/worklist.py (Arrow-shipped JSON, not
    pickled plan objects — survives million-group tables)."""
    from hudi_rs_spark.fs.file_group import BaseFile
    from hudi_rs_spark.sources.pyds import _read_slice
    from hudi_rs_spark.write.worklist import rebuild_slice

    base_path = shared["path"]
    instant = shared["instant"]
    with_stats = shared["with_stats"]
    partition = rebuild_slice(desc, shared)
    if partition.base_file:
        file_id = BaseFile.parse(os.path.basename(partition.base_file)).file_id
        ref = partition.base_file
    else:
        # log-only slice (bucket-routed first touches, write/bucket.py):
        # compaction writes the group's FIRST base
        from hudi_rs_spark.fs.file_group import LogFile

        file_id = LogFile.parse(os.path.basename(partition.log_files[0])).file_id
        ref = partition.log_files[0]
    d = os.path.dirname(os.path.relpath(ref, base_path))
    rel_dir = "" if d == "." else d
    from pyspark import TaskContext

    tc = TaskContext.get()
    token = f"{tc.partitionId()}-{tc.stageId()}-{tc.attemptNumber()}" if tc else "0-0-0"
    name = f"{file_id}_{token}_{instant}.parquet"
    rel = f"{rel_dir}/{name}" if rel_dir else name

    batches = list(_read_slice(partition))
    if batches:
        merged = pa.Table.from_batches(batches)
    else:
        import json

        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        merged = to_arrow_schema(
            T.StructType.fromJson(json.loads(partition.schema_json))
        ).empty_table()
    if "_hoodie_file_name" in merged.column_names:
        i = merged.column_names.index("_hoodie_file_name")
        merged = merged.set_column(
            i, "_hoodie_file_name", pa.array([name] * len(merged), pa.string())
        )
    from hudi_rs_spark.write.writer import _fs, write_parquet

    full = f"{base_path}/{rel}"
    size = write_parquet(merged, full, _fs(base_path))
    stat = {
        "fileId": file_id,
        "path": rel,
        "partitionPath": rel_dir,
        "numWrites": len(merged),
        "fileSizeInBytes": size,
        "totalWriteBytes": size,
    }
    if with_stats:
        from hudi_rs_spark.write.mdt_stats import compute_column_stats

        stat["columnStats"] = compute_column_stats(merged)
    if shared.get("with_bloom") and "_hoodie_record_key" in merged.column_names:
        # the rewritten base carries a NEW file name — re-emit its bloom
        # so the tag path keeps pruning (a missing record is safe but
        # makes the file an always-candidate)
        import base64

        from hudi_rs_spark.bloomfilter import build_bloom

        stat["bloomFilter"] = base64.b64encode(
            build_bloom(
                k.as_py()
                for k in merged["_hoodie_record_key"].combine_chunks()
            )
        ).decode("ascii")
    return stat


def compact(
    spark,
    path: str,
    instant: str | None = None,
    *,
    strategy: str = "unbounded",
    target_io_mb: float | None = None,
    target_partitions: int = 10,
) -> int:
    """Compact file slices that have log files; returns the number of
    slices compacted (0 = nothing to do, no instant published).

    ``strategy`` / ``target_io_mb`` / ``target_partitions`` bound the
    round per write/compact_strategy.py (Hudi's
    hoodie.compaction.strategy family); the default compacts every
    dirty slice."""
    from pyspark.sql import types as T

    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable
    from hudi_rs_spark.write.writer import commit_instant

    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

    purge_uncommitted_mdt_logs(path)  # never reuse a poisoned anchor
    # OCC read point BEFORE planning: a log block committed to a slice
    # while we compact it would be absorbed into neither the old slice
    # (superseded) nor the new base (planned earlier) — conflict-check
    # at commit instead of silently hiding the update
    from hudi_rs_spark.write.concurrency import (
        check_commit_conflicts,
        completed_instant_set,
    )

    read_point = completed_instant_set(path)
    tc = HudiTableConfig.from_base_path(path)
    table = HudiTable(path, spark, listing="direct")
    reader = HudiPyReader(
        HudiTable(path, spark=None, listing="direct"),
        {"path": path},
        _as_nullable(table.get_schema()),
    )
    # log-only slices (bucket-routed first touches) compact too: their
    # rewrite writes the group's first base file
    dirty = [p for p in reader.partitions() if p.log_files]
    if strategy != "unbounded" or target_io_mb is not None:
        from hudi_rs_spark.write.compact_strategy import (
            select_compaction_slices,
        )

        chosen = select_compaction_slices(
            [sl for sl in table.get_file_slices() if sl.log_files],
            strategy=strategy,
            target_io_mb=target_io_mb,
            target_partitions=target_partitions,
        )
        allowed: set[str] = set()
        for sl in chosen:
            if sl.base_file is not None:
                allowed.add(sl.base_file.file_name)
            allowed.update(lf.file_name for lf in sl.log_files)
        dirty = [
            p for p in dirty
            if os.path.basename(p.base_file or p.log_files[0]) in allowed
        ]
    if not dirty:
        return 0
    instant = instant or new_instant()
    meta_parts = tc.props.get("hoodie.table.metadata.partitions", "")
    with_stats = "column_stats" in meta_parts
    with_bloom = "bloom_filters" in meta_parts
    cfg = WriteConfig(
        path=path,
        table_name=tc.table_name,
        record_key_fields=tuple(tc.record_key_fields) or ("id",),
        precombine_field=(tc.ordering_fields or [None])[0],
        partition_fields=tuple(tc.partition_fields),
        table_type=tc.table_type.value,
        table_version=tc.table_version,
        instant=instant,
        operation="compact",
    )
    # claim the compaction instant before any task writes (services take
    # the same collision-detection path as the batch writer)
    from hudi_rs_spark.write.concurrency import claim_instant, release_instant

    claim_instant(cfg, "commit")
    instant = cfg.instant  # claim may regenerate on a timestamp collision
    from hudi_rs_spark.write.worklist import (
        run_slice_tasks,
        shared_scan_context,
        slice_descriptor,
    )

    shared = shared_scan_context(dirty[0])
    shared.update({
        "path": path, "instant": instant, "with_stats": with_stats,
        "with_bloom": with_bloom,
    })
    stats = run_slice_tasks(
        spark, [slice_descriptor(p) for p in dirty], shared, _compact_one
    )
    # conflict check BEFORE publishing: the compacted file groups must
    # not have been touched by a commit that completed since planning
    try:
        check_commit_conflicts(
            cfg, read_point,
            {(s.get("partitionPath", "") or "", s["fileId"]) for s in stats},
        )
    except Exception:
        from hudi_rs_spark.write.writer import _fs as _fs_cc

        st_cc = _fs_cc(path)
        for s in stats:  # reclaim the unpublished new bases
            try:
                st_cc.remove(f"{path}/{s['path']}")
            except OSError:
                pass
        release_instant(cfg, "commit")
        raise
    schema_json = None
    sj = table.schema_json()
    if sj is not None:
        schema_json = sj
    commit_instant(
        cfg, stats, schema_json, action="commit", instant=instant,
    )
    meta_parts = tc.props.get("hoodie.table.metadata.partitions", "")
    if "files" in meta_parts:
        from hudi_rs_spark.write.mdt import apply_commit_to_mdt

        apply_commit_to_mdt(cfg, stats)
    release_instant(cfg, "commit")
    return len(dirty)
