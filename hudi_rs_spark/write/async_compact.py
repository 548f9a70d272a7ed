"""Async (scheduled) compaction — Hudi's non-blocking table service.

Inline ``write/compact.py`` aborts (OCC) whenever a concurrent commit
touches a slice mid-rewrite. For streaming ingest that is the common
case, so Hudi schedules compaction as a timeline intent and lets
ingestion continue; this module is that protocol, fitted to this
repo's slice machinery:

1. ``schedule_compaction`` atomically publishes
   ``{I}.compaction.requested`` (Hudi's own marker name; the
   reference's loader has no compaction variant — instant.rs:30-34 —
   so parsing it as a pending commit is this repo's extension) whose
   payload is the JSON plan: the file groups to rewrite. The marker
   doubles as the instant claim AND the readers' pending signal.
2. Writers that tag a planned file group anchor their new log files at
   ``I`` (upsert reads the plan; the log name embeds ``I``). Readers
   merge those logs onto the previous committed slice until the
   compaction lands (fs_view.get_file_slices ``compaction_anchors``),
   so committed upserts stay visible throughout — nobody blocks.
3. ``run_scheduled_compaction`` rewrites each planned group's base +
   pre-schedule logs into a new base AT instant ``I`` (excluding the
   ``I``-anchored logs — they belong ON TOP of the new base), publishes
   ``{I}.commit`` and removes the marker. ``add_base_file`` upgrades
   the pending log-anchored slice in place, keeping those logs: the
   slice at ``I`` is immediately consistent.

OCC at publish ignores concurrent commits whose only overlap is
``I``-anchored appends (that IS the protocol working); a writer that
raced the schedule and appended an old-anchored log conflicts the
COMPACTOR (which retries) — ingestion itself is never failed.

At 100 TB: scheduling is a listing + one atomic PUT; execution is the
same one-task-per-slice work-list as inline compaction; the window
between them is unbounded without correctness cost (the merge view
holds; archival stays pinned at ``I`` until the plan resolves).
"""

from __future__ import annotations

import json
import os

from hudi_rs_spark.write.config import WriteConfig, new_instant


def _plan_marker(tdir: str, instant: str) -> str:
    return f"{tdir}/{instant}.compaction.requested"


def schedule_compaction(
    path: str,
    instant: str | None = None,
    *,
    strategy: str = "unbounded",
    target_io_mb: float | None = None,
    target_partitions: int = 10,
) -> str | None:
    """Publish a compaction plan covering file slices that have log
    files; returns the scheduled instant (None = nothing to plan).
    Groups already covered by a pending plan are not re-planned.
    ``strategy``/``target_io_mb``/``target_partitions`` bound the plan
    per write/compact_strategy.py (Hudi's hoodie.compaction.strategy)."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    tc = HudiTableConfig.from_base_path(path)
    if tc.table_version < 8:
        raise ValueError(
            "scheduled compaction requires a v8+ table: log anchoring at "
            "the plan instant rides on the completion-time timeline"
        )
    table = HudiTable(path, spark=None, listing="direct")
    planned_already: set[str] = set()
    for plan in table.timeline.pending_compaction_plans().values():
        for g in plan.get("groups", ()):
            planned_already.add(g["fileId"])
    # a group under a pending CLUSTERING plan is about to be replaced —
    # compacting it would race the rewrite for no benefit
    for plan in table.timeline.pending_clustering_plans().values():
        for g in plan.get("groups", ()):
            for inp in g.get("inputs", ()):
                planned_already.add(inp["fileId"])
    candidates = [
        sl for sl in table.get_file_slices()
        if sl.base_file is not None and sl.log_files
        and sl.file_id not in planned_already
    ]
    if strategy != "unbounded" or target_io_mb is not None:
        from hudi_rs_spark.write.compact_strategy import (
            select_compaction_slices,
        )

        candidates = select_compaction_slices(
            candidates, strategy=strategy, target_io_mb=target_io_mb,
            target_partitions=target_partitions,
        )
    groups = [
        {
            "partition": sl.partition_path or "",
            "fileId": sl.file_id,
            "baseInstant": sl.base_file.commit_timestamp,
        }
        for sl in candidates
    ]
    if not groups:
        return None
    from hudi_rs_spark.write.concurrency import claim_unique_timestamp

    pinned = instant is not None
    instant = instant or new_instant()
    cfg = _service_cfg(tc, path, instant)
    tdir = timeline_dir(cfg)
    _, instant = claim_unique_timestamp(
        _fs(tdir),
        tdir,
        instant,
        lambda inst: (
            _plan_marker(tdir, inst),
            json.dumps({"instant": inst, "groups": groups}).encode(),
        ),
        pinned=pinned,
        path=path,
        what="compaction",
    )
    return instant


def _service_cfg(tc, path: str, instant: str) -> WriteConfig:
    return WriteConfig(
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


def run_scheduled_compaction(
    spark, path: str, instant: str | None = None
) -> int:
    """Execute pending compaction plan(s) (all of them, earliest first,
    unless ``instant`` picks one); returns the number of file groups
    compacted."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable
    from hudi_rs_spark.write.compact import _compact_one
    from hudi_rs_spark.write.concurrency import (
        check_commit_conflicts,
        completed_instant_set,
    )
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs
    from hudi_rs_spark.write.worklist import (
        run_slice_tasks,
        shared_scan_context,
        slice_descriptor,
    )
    from hudi_rs_spark.write.writer import _fs, commit_instant

    purge_uncommitted_mdt_logs(path)
    tc = HudiTableConfig.from_base_path(path)
    plans = HudiTable(
        path, spark=None, listing="direct"
    ).timeline.pending_compaction_plans()
    if instant is not None:
        plans = {instant: plans[instant]} if instant in plans else {}
    n_done = 0
    for plan_instant in sorted(plans):
        plan = plans[plan_instant]
        planned = {
            (g["partition"], g["fileId"]) for g in plan.get("groups", ())
        }
        if not planned:
            continue
        read_point = completed_instant_set(path)
        # reclaim a CRASHED earlier attempt's uncommitted bases at this
        # instant first: re-running on newer table state must not leave
        # two same-instant bases racing on write-token order (the stale
        # one could win and hide logs the fresh rewrite absorbed)
        from hudi_rs_spark.fs.fs_view import list_data_files

        st0 = _fs(path)
        for partition, name, _sz in list(list_data_files(path)):
            if name.startswith("."):
                continue
            try:
                bf0 = BaseFile.parse(name)
            except ValueError:
                continue
            if (
                bf0.commit_timestamp == plan_instant
                and (partition, bf0.file_id) in planned
            ):
                try:
                    st0.remove(
                        f"{path}/{partition}/{name}" if partition
                        else f"{path}/{name}"
                    )
                except OSError:
                    pass
        table = HudiTable(path, spark, listing="direct")
        reader = HudiPyReader(
            HudiTable(path, spark=None, listing="direct"),
            {"path": path},
            _as_nullable(table.get_schema()),
        )
        work = []
        for p in reader.partitions():
            if p.base_file is None:
                continue
            bf = BaseFile.parse(os.path.basename(p.base_file))
            d = os.path.dirname(os.path.relpath(p.base_file, path))
            rel_dir = "" if d == "." else d
            if (rel_dir, bf.file_id) not in planned:
                continue
            # the planning view merged the I-anchored logs onto this
            # slice; the REWRITE input excludes them (they belong on top
            # of the new base, exactly where the upgraded slice keeps
            # them)
            keep_logs = [
                rel
                for rel in p.log_files
                if LogFile.parse(os.path.basename(rel)).timestamp
                != plan_instant
            ]
            desc = slice_descriptor(p)
            desc["log_files"] = keep_logs
            work.append(desc)
        if not work:
            # every planned group vanished (replaced/cleaned): the plan
            # is moot — resolve the marker so it stops pinning archival
            cfg = _service_cfg(tc, path, plan_instant)
            _remove_marker(cfg, plan_instant)
            continue
        meta_parts = tc.props.get("hoodie.table.metadata.partitions", "")
        cfg = _service_cfg(tc, path, plan_instant)
        shared = shared_scan_context(reader.partitions()[0])
        shared.update({
            "path": path, "instant": plan_instant,
            "with_stats": "column_stats" in meta_parts,
            "with_bloom": "bloom_filters" in meta_parts,
        })
        stats = run_slice_tasks(spark, work, shared, _compact_one)
        try:
            check_commit_conflicts(
                cfg, read_point,
                {(s.get("partitionPath", "") or "", s["fileId"]) for s in stats},
                ignore_log_anchor=plan_instant,
            )
        except Exception:
            st = _fs(path)
            for s in stats:  # reclaim unpublished rewrites; keep the plan
                try:
                    st.remove(f"{path}/{s['path']}")
                except OSError:
                    pass
            raise
        commit_instant(
            cfg, stats, table.schema_json(), action="commit",
            instant=plan_instant,
        )
        if "files" in meta_parts:
            from hudi_rs_spark.write.mdt import apply_commit_to_mdt

            apply_commit_to_mdt(cfg, stats)
        _remove_marker(cfg, plan_instant)
        n_done += len(work)
    return n_done


def _remove_marker(cfg, instant: str) -> None:
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    tdir = timeline_dir(cfg)
    try:
        _fs(tdir).remove(_plan_marker(tdir, instant))
    except OSError:
        pass
