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
  group's new base file at the compaction instant through the shared
  base-file finisher (``worklist.finish_base_file``: the file, its
  column stats and its bloom blob; the keys keep their file group, so
  there is no record-index relocation). Per-slice map over
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

from hudi_rs_spark.write.config import new_instant, service_config


def _compact_one(desc: dict, shared: dict) -> dict:
    """Executor: merge one slice -> the file group's new base file
    (``worklist.finish_base_file``); returns its write stat.
    ``desc``/``shared`` per write/worklist.py (Arrow-shipped JSON, not
    pickled plan objects — survives million-group tables). A log-only
    slice (bucket-routed first touches, write/bucket.py) gets the
    group's FIRST base."""
    from hudi_rs_spark.write.worklist import (
        finish_base_file,
        read_slices,
        rebuild_slice,
        slice_identity,
        task_token,
    )

    partition = rebuild_slice(desc, shared)
    rel_dir, file_id = slice_identity(shared["path"], partition)
    return finish_base_file(
        read_slices([partition]), shared["path"], rel_dir, file_id,
        shared["instant"], task_token(), shared["side"],
    )


def compaction_side_records(path: str, config) -> dict:
    """``worklist.side_records`` for a compaction rewrite: every key
    stays in its file group, so there is no record-index relocation."""
    from hudi_rs_spark.write.worklist import side_records

    return {**side_records(path, config), "index_shards": 0}


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
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable
    from hudi_rs_spark.write.concurrency import (
        ConcurrentWriteError,
        claim_instant,
        publish,
        release_instant,
    )
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

    purge_uncommitted_mdt_logs(path)  # never reuse a poisoned anchor
    # ONE planning snapshot: slices, schema, the service config and the
    # OCC read point all come from it. The read point is its timeline: a
    # log block committed to a slice while we compact it would be
    # absorbed into neither the old slice (superseded) nor the new base
    # (planned earlier) — conflict-check at commit instead of silently
    # hiding the update
    table = HudiTable(path, spark, listing="direct")
    tc = table.config
    read_point = frozenset(i.timestamp for i in table.timeline.instants)
    reader = HudiPyReader(
        table, {"path": path}, _as_nullable(table.get_schema())
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
    cfg = service_config(tc, path, instant)
    # claim the compaction instant before any task writes (services take
    # the same collision-detection path as the batch writer)
    claim_instant(cfg, "commit")
    instant = cfg.instant  # claim may regenerate on a timestamp collision
    from hudi_rs_spark.write.worklist import (
        run_slice_tasks,
        shared_scan_context,
        slice_descriptor,
    )

    shared = shared_scan_context(dirty[0])
    shared.update({
        "path": path, "instant": instant,
        "side": compaction_side_records(path, tc),
    })
    stats = run_slice_tasks(
        spark, [slice_descriptor(p) for p in dirty], shared, _compact_one
    )
    # the compacted file groups must not have been touched by a commit
    # that completed since planning
    try:
        publish(
            cfg, stats, table.schema_json(), read_point=read_point,
            action="commit",
        )
    except ConcurrentWriteError:
        release_instant(cfg, "commit")
        raise
    release_instant(cfg, "commit")
    return len(dirty)
