"""Scheduled (async) clustering — the non-blocking schedule/run
protocol of write/async_compact.py applied to the clustering service.

Inline ``write/cluster.py`` aborts (OCC) whenever a concurrent commit
touches a source group mid-rewrite; at production ingest rates a
clustering rewrite racing streaming ingest may never land. Hudi proper
schedules clustering exactly like compaction (a pending replacecommit
plan; Hudi 1.0 marker name ``{I}.clustering.requested`` — preserved
here so the timeline reads like Hudi's own). Reference contracts
preserved: replace-commit exclusion semantics
(crates/core/src/timeline/mod.rs:302-320) and pending-instant gating
(crates/core/src/timeline/mod.rs:98-135).

Protocol:

1. ``schedule_clustering`` atomically publishes
   ``{I}.clustering.requested`` whose JSON payload PINS the plan: per
   clustering group the exact input slices (base + log file NAMES) to
   rewrite. The marker keeps ``I`` pending (readers/archival) and
   doubles as the instant claim.
2. Writers that tag a planned file group anchor their new log files at
   ``I`` (write/upsert.py reads both plan kinds); readers merge those
   logs onto the previous committed slice until the clustering lands
   (the same fs_view pending-anchor machinery as compaction) — nobody
   blocks, committed upserts stay visible throughout.
3. ``run_scheduled_clustering`` rewrites each group's PLAN-PINNED
   slices into one new base at ``I`` (same executor task as inline
   clustering) and MIGRATES every other committed log on the input
   groups — the ``I``-anchored pending-window appends plus any
   old-anchored log that raced the schedule — onto the OUTPUT group as
   logs anchored at ``I`` (byte-for-byte copies: blocks keep their
   original deltacommit instants, so commit-time filtering and
   time-travel semantics are untouched). Unlike compaction the file id
   changes, so the anchored logs cannot simply sit on top of the new
   base — the migration is what re-parents them. Record-index entries
   for migrated keys are re-pointed to the output group.
4. OCC at publish: appends that landed on planned groups between the
   execution read and publish are migrated in a bounded retry loop
   (append-only overlaps are the protocol working); a concurrent BASE
   rewrite or replace of an input group is a hard conflict — the
   runner reclaims its outputs and raises (the plan stays; re-run
   retries). Racing ingestion itself is never failed: an input group
   whose base changed under the plan (e.g. an inline compaction) is
   DROPPED from the rewrite, not conflicted.

Time travel stays exact: the output base at ``I`` contains only
plan-pinned (pre-schedule) data; post-schedule rows live in migrated
log blocks stamped with their real deltacommit instants, which as-of
reads at K < J exclude while the pre-update versions remain in the
base.

At 100 TB: scheduling is one listing + one atomic PUT; execution is
the same one-task-per-group worklist as inline clustering; migration
cost is proportional to the bytes appended during the pending window,
not to table size.
"""

from __future__ import annotations

import json
import os

from hudi_rs_spark.write.cluster import _output_file_id
from hudi_rs_spark.write.config import new_instant, service_config


def _plan_marker(tdir: str, instant: str) -> str:
    return f"{tdir}/{instant}.clustering.requested"


def schedule_clustering(
    path: str,
    sort_columns: tuple[str, ...] = (),
    max_group_slices: int = 32,
    min_group_slices: int = 2,
    layout: str = "linear",
    instant: str | None = None,
    small_file_limit_mb: float | None = None,
) -> str | None:
    """Publish a clustering plan over the current snapshot: every
    partition with at least ``min_group_slices`` live file groups has
    them bucketed into clustering groups of at most ``max_group_slices``
    (reference ``split_into_chunks`` parity, util/collection.rs:37-49).
    Groups already under a pending compaction or clustering plan are
    skipped. ``small_file_limit_mb`` keeps only slices whose total bytes
    (base + logs) are under the limit — big healthy files stay out of
    the plan — and the kept slices are then grouped by count exactly as
    above; unlike the inline ``cluster()``, there is no greedy binning
    to a target output size.
    Returns the scheduled instant (None = nothing to plan)."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.util import split_into_chunks
    from hudi_rs_spark.write.concurrency import claim_unique_timestamp
    from hudi_rs_spark.write.layout import LAYOUTS
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout!r}: expected one of {LAYOUTS}")
    table = HudiTable(path, spark=None, listing="direct")
    tc = table.config
    if tc.table_version < 8:
        raise ValueError(
            "scheduled clustering requires a v8+ table: log anchoring at "
            "the plan instant rides on the completion-time timeline"
        )
    planned_already: set[str] = set()
    for plan in table.timeline.pending_compaction_plans().values():
        for g in plan.get("groups", ()):
            planned_already.add(g["fileId"])
    for plan in table.timeline.pending_clustering_plans().values():
        for g in plan.get("groups", ()):
            for inp in g.get("inputs", ()):
                planned_already.add(inp["fileId"])

    by_partition: dict[str, list] = {}
    limit = (
        small_file_limit_mb * 1024 * 1024
        if small_file_limit_mb is not None
        else None
    )
    for sl in table.get_file_slices():
        if sl.file_id in planned_already:
            continue
        if limit is not None:
            total = (
                sl.base_file.size if sl.base_file is not None else 0
            ) + sum(lf.size for lf in sl.log_files)
            if total >= limit:
                continue
        by_partition.setdefault(sl.partition_path or "", []).append(sl)

    groups = []
    for rel_dir, slices in sorted(by_partition.items()):
        if len(slices) < min_group_slices:
            continue
        slices.sort(key=lambda s: s.file_id)
        n_groups = -(-len(slices) // max(1, max_group_slices))  # ceil
        for gi, chunk in enumerate(split_into_chunks(slices, n_groups)):
            groups.append(
                {
                    "relDir": rel_dir,
                    "groupIdx": gi,
                    "inputs": [
                        {
                            "fileId": s.file_id,
                            "baseInstant": s.commit_timestamp,
                            "baseFile": (
                                s.base_file.file_name if s.base_file else None
                            ),
                            "logFiles": [
                                lf.file_name for lf in s.log_files
                            ],
                        }
                        for s in chunk
                    ],
                }
            )
    if not groups:
        return None

    pinned = instant is not None
    instant = instant or new_instant()
    cfg = service_config(tc, path, instant, "cluster", pinned)
    tdir = timeline_dir(cfg)
    plan = {
        "instant": instant,
        "sortColumns": list(sort_columns),
        "layout": layout,
        "groups": groups,
    }
    _, instant = claim_unique_timestamp(
        _fs(tdir),
        tdir,
        instant,
        lambda inst: (
            _plan_marker(tdir, inst),
            json.dumps({**plan, "instant": inst}).encode(),
        ),
        pinned=pinned,
        path=path,
        what="clustering",
    )
    return instant


def _scheduled_cluster_one(desc: dict, shared: dict) -> dict:
    """Executor: rewrite one clustering group from its PLAN-PINNED
    slices (write/cluster.py::_cluster_one does the heavy lifting), then
    migrate the group's extra committed logs (pending-window appends)
    onto the new output group and re-point their record-index entries."""
    from hudi_rs_spark.logfile.reader import (
        BLOCK_COMMAND,
        BLOCK_CORRUPTED,
        BLOCK_HFILE_DATA,
        read_log_file,
    )
    from hudi_rs_spark.write.cluster import _cluster_one
    from hudi_rs_spark.write.worklist import task_token
    from hudi_rs_spark.write.writer import _fs

    stat = _cluster_one(
        {k: desc[k] for k in ("rel_dir", "group_idx", "slices")}, shared
    )
    base_path = shared["path"]
    instant = shared["instant"]
    rel_dir = desc["rel_dir"]
    out_fid = stat["fileId"]
    options = shared["storage_options"]
    st = _fs(base_path, options)
    valid = set(shared["valid_instants"])
    migrated, skipped = [], []
    keymap: dict[str, tuple[str, str]] = {}
    token = task_token()
    index_shards = shared["side"]["index_shards"]
    for ver, src_rel in enumerate(desc.get("extras", ()), start=1):
        keys: set[str] = set()
        instants: set[str] = set()
        for b in read_log_file(f"{base_path}/{src_rel}"):
            if b.block_type in (
                BLOCK_COMMAND, BLOCK_CORRUPTED, BLOCK_HFILE_DATA
            ):
                continue
            if b.instant_time:
                instants.add(b.instant_time)
            keys.update(
                k for k in (r.get("_hoodie_record_key") for r in b.records)
                if k is not None
            )
            keys.update(dk[0] for dk in b.delete_records)
        if not instants & valid:
            # every block belongs to a still-PENDING deltacommit: its
            # writer either publishes later (and then conflicts with the
            # replacecommit and retries against the new groups) or rolls
            # back — copying it now would just plant dead bytes
            skipped.append(src_rel)
            continue
        payload = st.read_bytes(f"{base_path}/{src_rel}")
        name = f".{out_fid}_{instant}.log.{ver}_{token}"
        dst_rel = f"{rel_dir}/{name}" if rel_dir else name
        st.append_bytes(f"{base_path}/{dst_rel}", payload)
        migrated.append({"path": dst_rel, "size": len(payload)})
        if index_shards:
            for k in keys:
                keymap[k] = (rel_dir, out_fid)
    if keymap:
        from hudi_rs_spark.write.record_index import append_record_index_log

        append_record_index_log(
            base_path, instant, keymap, index_shards, token, options
        )
    stat["migratedLogs"] = migrated
    stat["skippedExtras"] = skipped
    return stat


def run_scheduled_clustering(
    spark, path: str, instant: str | None = None
) -> int:
    """Execute pending clustering plan(s) (all, earliest first, unless
    ``instant`` picks one); returns the number of file groups replaced.
    Raises ConcurrentWriteError on a hard (non-append) race — the plan
    survives, re-run retries. Input groups whose base changed since
    scheduling are dropped from the rewrite (stay live), never lost."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

    purge_uncommitted_mdt_logs(path)
    plans = HudiTable(
        path, spark=None, listing="direct"
    ).timeline.pending_clustering_plans()
    if instant is not None:
        plans = {instant: plans[instant]} if instant in plans else {}
    n_replaced = 0
    for plan_instant in sorted(plans):
        plan = plans[plan_instant]
        if not plan.get("groups"):
            continue
        n_replaced += _run_one_plan(spark, path, plan_instant, plan)
    return n_replaced


def _abs(path: str, rel_dir: str, name: str) -> str:
    return f"{path}/{rel_dir}/{name}" if rel_dir else f"{path}/{name}"


def _reclaim_crashed_attempt(path: str, plan_instant: str, out_fids: set[str]):
    """Remove a crashed earlier execution's uncommitted outputs at this
    instant (bases AND migrated log copies — the copies' source logs are
    still on the input groups, so deleting them is pure reclamation);
    re-running must not leave two same-instant outputs racing on
    write-token order."""
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile
    from hudi_rs_spark.fs.fs_view import list_data_files
    from hudi_rs_spark.write.writer import _fs

    st = _fs(path)
    for partition, name, _sz in list(list_data_files(path)):
        try:
            if name.startswith("."):
                if ".log." not in name:
                    continue
                lf = LogFile.parse(name)
                hit = lf.timestamp == plan_instant and lf.file_id in out_fids
            else:
                bf = BaseFile.parse(name)
                hit = (
                    bf.commit_timestamp == plan_instant
                    and bf.file_id in out_fids
                )
        except ValueError:
            continue
        if hit:
            try:
                st.remove(_abs(path, partition, name))
            except OSError:
                pass


def _migrate_committed_log(
    st, path, rel_dir, out_fid, plan_instant, src_rel, ver, token, completed
):
    """Driver-side retry-loop twin of the executor migration: copy one
    input-group log onto the output group (anchored at the plan instant,
    blocks keep their real deltacommit instants) IF any of its blocks is
    committed. Returns (stat|None, record_keys)."""
    from hudi_rs_spark.logfile.reader import (
        BLOCK_COMMAND,
        BLOCK_CORRUPTED,
        BLOCK_HFILE_DATA,
        read_log_file,
    )

    keys: set[str] = set()
    instants: set[str] = set()
    for b in read_log_file(f"{path}/{src_rel}"):
        if b.block_type in (BLOCK_COMMAND, BLOCK_CORRUPTED, BLOCK_HFILE_DATA):
            continue
        if b.instant_time:
            instants.add(b.instant_time)
        keys.update(
            k for k in (r.get("_hoodie_record_key") for r in b.records)
            if k is not None
        )
        keys.update(dk[0] for dk in b.delete_records)
    if not instants & completed:
        return None, set()
    payload = st.read_bytes(f"{path}/{src_rel}")
    name = f".{out_fid}_{plan_instant}.log.{ver}_{token}"
    dst_rel = f"{rel_dir}/{name}" if rel_dir else name
    st.append_bytes(f"{path}/{dst_rel}", payload)
    return {
        "fileId": out_fid,
        "path": dst_rel,
        "partitionPath": rel_dir,
        "numWrites": 0,
        "fileSizeInBytes": len(payload),
        "totalWriteBytes": len(payload),
    }, keys


def _run_one_plan(spark, path, plan_instant: str, plan: dict) -> int:
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable
    from hudi_rs_spark.write.concurrency import (
        ConcurrentWriteError,
        completed_instant_set,
        publish,
    )
    from hudi_rs_spark.write.record_index import append_record_index_log
    from hudi_rs_spark.write.worklist import (
        run_slice_tasks,
        shared_scan_context,
        side_records,
        slice_descriptor,
        slice_identity,
    )
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    out_fids = {
        _output_file_id(plan_instant, g["relDir"], g["groupIdx"])
        for g in plan["groups"]
    }
    _reclaim_crashed_attempt(path, plan_instant, out_fids)

    # ONE planning snapshot: slices, schema, the service config, the side
    # records and the OCC read point (its timeline); the migrate loop
    # below re-reads the timeline on purpose
    table = HudiTable(path, spark, listing="direct")
    tc = table.config
    cfg = service_config(tc, path, plan_instant, "cluster", pinned=True)
    read_point = frozenset(i.timestamp for i in table.timeline.instants)
    schema = _as_nullable(table.get_schema())
    reader = HudiPyReader(table, {"path": path}, schema)
    # current SERVED slices (committed logs + pending-anchored merged)
    from hudi_rs_spark.fs.file_group import LogFile

    current: dict[tuple[str, str], object] = {
        slice_identity(path, p): p
        for p in reader.partitions()
        if p.base_file or p.log_files
    }

    work = []
    replaced: dict[str, list[str]] = {}
    migrated_sources: set[str] = set()  # input-log rel paths already copied
    migr_count: dict[str, int] = {}  # out_fid -> versions used so far
    for g in plan["groups"]:
        rel_dir, gi = g["relDir"], g["groupIdx"]
        pinned_slices, extras = [], []
        survivors = []
        for inp in g["inputs"]:
            p = current.get((rel_dir, inp["fileId"]))
            if p is None:
                continue  # vanished (replaced/cleaned) — drop, data lives on
            cur_base = os.path.basename(p.base_file) if p.base_file else None
            if cur_base != inp["baseFile"]:
                continue  # base changed under the plan (e.g. inline
                # compaction raced): absorbed elsewhere — drop the group
            plan_logs = set(inp["logFiles"])
            cur_logs = {os.path.basename(lp): lp for lp in p.log_files}
            if not plan_logs.issubset(cur_logs):
                continue  # a pinned log vanished: fail safe, drop
            desc = slice_descriptor(p)
            desc["log_files"] = [
                cur_logs[n]
                for n in sorted(
                    plan_logs, key=lambda n: LogFile.parse(n).sort_key()
                )
            ]
            pinned_slices.append(desc)
            survivors.append(inp["fileId"])
            for n in sorted(
                set(cur_logs) - plan_logs,
                key=lambda n: LogFile.parse(n).sort_key(),
            ):
                rel = os.path.relpath(cur_logs[n], path)
                extras.append(rel)
                migrated_sources.add(rel)
        if not pinned_slices:
            continue
        work.append(
            {
                "rel_dir": rel_dir,
                "group_idx": gi,
                "slices": pinned_slices,
                "extras": extras,
            }
        )
        ofid = _output_file_id(plan_instant, rel_dir, gi)
        migr_count[ofid] = len(extras)
        replaced.setdefault(rel_dir, []).extend(survivors)
    tdir = timeline_dir(cfg)
    st = _fs(path)
    if not work:
        # every planned group vanished or changed: the plan is moot —
        # resolve the marker so it stops pinning archival
        try:
            st.remove(_plan_marker(tdir, plan_instant))
        except OSError:
            pass
        return 0
    for k in replaced:
        replaced[k] = sorted(set(replaced[k]))

    side = side_records(path, tc)
    index_shards = side["index_shards"]
    shared = shared_scan_context(
        next(iter(current.values()))
    )
    shared.update({
        "path": path, "instant": plan_instant,
        "sort_columns": list(plan.get("sortColumns") or ()),
        "layout": plan.get("layout", "linear"),
        "side": side,
    })
    stats = run_slice_tasks(spark, work, shared, _scheduled_cluster_one)
    commit_stats = []
    for s in stats:
        migrated = s.pop("migratedLogs", [])
        # extras whose blocks were all still pending were NOT copied —
        # un-mark them so the retry loop can migrate them once committed
        for src in s.pop("skippedExtras", []):
            migrated_sources.discard(src)
        commit_stats.append(s)
        for m in migrated:
            commit_stats.append(
                {
                    "fileId": s["fileId"],
                    "path": m["path"],
                    "partitionPath": s["partitionPath"],
                    "numWrites": 0,
                    "fileSizeInBytes": m["size"],
                    "totalWriteBytes": m["size"],
                }
            )

    # OCC with a bounded append-absorb loop: appends that landed on
    # planned groups since the read point are the protocol working —
    # migrate them and advance; anything else is a hard conflict.
    planned_set = {(p, fid) for p, fids in replaced.items() for fid in fids}
    group_of = {}
    for g in plan["groups"]:
        for inp in g["inputs"]:
            group_of[(g["relDir"], inp["fileId"])] = (
                g["relDir"],
                _output_file_id(plan_instant, g["relDir"], g["groupIdx"]),
            )

    def _classify(rp):
        t = HudiTable(path, spark=None, listing="direct")
        kind = "none"
        for i in t.timeline.instants:
            if i.timestamp in rp or (
                i.timestamp == plan_instant
                and i.action.value == "replacecommit"
            ):
                continue
            meta = t.timeline.metadata_for(i)  # unreadable -> raise (closed)
            for part, fids in (meta.replaced_file_ids or {}).items():
                for fid in fids:
                    if (part or "", fid) in planned_set:
                        return "hard"
            for ws in meta.write_stats:
                key = (ws.partition_path or "", ws.file_id)
                if key not in planned_set:
                    continue
                name = (ws.path or "").rsplit("/", 1)[-1]
                if name.startswith(".") and (
                    ".log." in name or ".cdc." in name
                ):
                    kind = "appends"
                else:
                    return "hard"
        return kind

    for attempt in range(4):
        kind = _classify(read_point)
        if kind == "none":
            break
        if kind == "hard" or attempt == 3:
            for s in commit_stats:  # reclaim unpublished outputs; keep plan
                try:
                    st.remove(f"{path}/{s['path']}")
                except OSError:
                    pass
            raise ConcurrentWriteError(
                f"scheduled clustering {plan_instant} on {path} raced a "
                "concurrent rewrite of its input groups — outputs "
                "reclaimed, plan kept; re-run to retry"
            )
        # append-only race: absorb by migrating the new committed logs
        new_rp = completed_instant_set(path)
        completed_now = set(new_rp)
        reader2 = HudiPyReader(
            HudiTable(path, spark=None, listing="direct"),
            {"path": path},
            schema,
        )
        survivor_set = {
            (pp, f) for pp, fs in replaced.items() for f in fs
        }
        for p in reader2.partitions():
            if not (p.base_file or p.log_files):
                continue
            rel_dir, fid = slice_identity(path, p)
            if (rel_dir, fid) not in survivor_set:
                continue
            out_dir, out_fid = group_of[(rel_dir, fid)]
            for lp in p.log_files:
                rel = os.path.relpath(lp, path)
                if rel in migrated_sources:
                    continue
                migr_count[out_fid] = migr_count.get(out_fid, 0) + 1
                mstat, keys = _migrate_committed_log(
                    st, path, out_dir, out_fid, plan_instant, rel,
                    migr_count[out_fid], f"0-0-r{attempt}", completed_now,
                )
                if mstat is None:
                    continue  # all blocks still pending: next pass
                migrated_sources.add(rel)
                commit_stats.append(mstat)
                if index_shards and keys:
                    append_record_index_log(
                        path, plan_instant,
                        {k: (out_dir, out_fid) for k in keys},
                        index_shards, f"0-0-r{attempt}",
                        shared["storage_options"],
                    )
        read_point = new_rp

    # the locked check closes the window after the last migration pass:
    # a commit to a planned group landing now conflicts (outputs
    # reclaimed, plan kept; re-run retries)
    publish(
        cfg, commit_stats, table.schema_json(), read_point=read_point,
        touched=planned_set, replaced=replaced, action="replacecommit",
    )
    try:
        st.remove(_plan_marker(tdir, plan_instant))
    except OSError:
        pass
    return sum(len(v) for v in replaced.values())
