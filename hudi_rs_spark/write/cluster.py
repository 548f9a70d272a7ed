"""Clustering table service: rewrite small/fragmented file groups into
fewer (optionally sort-ordered) base files and publish ONE
``replacecommit`` — the write-side dual of the replace-commit exclusion
the readers already honor (timeline.replaced_file_group_ids_as_of;
reference lifecycle: crates/test/src/v9_verification.rs:33-41 treats
clustering exactly like INSERT_OVERWRITE — superseded file groups stay
on storage, excluded from snapshots at/after the instant, still
reachable by time travel before it).

Spark-first split (same shape as write/compact.py):

- DRIVER plans clustering groups: current snapshot slices via the
  connector's planner, grouped per partition, bucketed into groups of
  at most ``max_group_slices`` with the reference's
  ``split_into_chunks`` parity util (util/collection.rs:37-49 — the
  same bucketing the read side uses for parallel scans).
- EXECUTORS rewrite: one task per clustering group reads its slices
  through ``pyds._read_slice`` (identical merge/delete semantics as
  every read — MOR log files are absorbed for free), concatenates,
  optionally sorts by ``sort_columns`` (pyarrow sort — the classic
  Hudi z-order/linear-sort clustering payoff: downstream min/max
  pruning on the sort key), and writes ONE new base file per group
  through the shared base-file finisher (``worklist.finish_base_file``:
  the file, its column stats, its bloom blob and the moved keys'
  record-index relocation).
- DRIVER publishes the ``replacecommit`` naming every input file group
  in ``partitionToReplaceFileIds``.

Scale: parallelism = clustering groups; bytes touched = the groups'
slices only; no shuffle (a group is the rewrite scope). Group size is
bounded by ``max_group_slices`` so a million-file-group partition maps
to many bounded tasks, never one giant task.
"""

from __future__ import annotations

import uuid

from hudi_rs_spark.write.config import new_instant, service_config


def _output_file_id(instant: str, rel_dir: str, group_idx: int) -> str:
    """Deterministic file id of a clustering group's output — scheduled
    clustering (write/async_cluster.py) derives the same id to migrate
    logs onto the group."""
    return f"{uuid.uuid5(uuid.NAMESPACE_URL, f'{instant}:{rel_dir}:{group_idx}')}-0"


def _cluster_one(desc: dict, shared: dict) -> dict:
    """Executor: rewrite one clustering group -> one new base file
    (``worklist.finish_base_file``, which also re-points the moved
    records' record-index locations); returns its write stat.
    ``desc``/``shared`` per write/worklist.py (Arrow-shipped JSON, not
    pickled plan objects — survives million-group tables)."""
    from hudi_rs_spark.write.worklist import (
        finish_base_file,
        read_slices,
        rebuild_slice,
        task_token,
    )

    merged = read_slices([rebuild_slice(s, shared) for s in desc["slices"]])
    sort_columns = shared["sort_columns"]
    if sort_columns:
        layout = shared.get("layout", "linear")
        if layout == "linear":
            merged = merged.sort_by([(c, "ascending") for c in sort_columns])
        else:
            from hudi_rs_spark.write.layout import curve_order

            merged = curve_order(merged, sort_columns, layout)
    instant = shared["instant"]
    return finish_base_file(
        merged, shared["path"], desc["rel_dir"],
        _output_file_id(instant, desc["rel_dir"], desc["group_idx"]),
        instant, task_token(), shared["side"],
    )


def cluster(
    spark,
    path: str,
    sort_columns: tuple[str, ...] = (),
    max_group_slices: int = 32,
    min_group_slices: int = 2,
    instant: str | None = None,
    layout: str = "linear",
    small_file_limit_mb: float | None = None,
    target_file_size_mb: float = 1024.0,
) -> int:
    """Cluster the table's current snapshot: every partition whose live
    file-group count is at least ``min_group_slices`` has its groups
    bucketed into clustering groups of at most ``max_group_slices`` and
    rewritten (sorted by ``sort_columns`` when given) into one new base
    file per group, published as a single ``replacecommit``.

    ``layout`` (Hudi's hoodie.layout.optimize.strategy): "linear"
    lexicographic sort on ``sort_columns``; "zorder" / "hilbert" order
    each rewrite along the space-filling curve over the same columns
    (write/layout.py) so column_stats min/max pruning bites on EVERY
    sort dimension.

    ``small_file_limit_mb`` (Hudi's SparkSizeBasedClusteringPlanStrategy
    small.file.limit): when set, only slices whose TOTAL bytes (base +
    logs) are under the limit are clustered — the small-file compaction
    use case — binned greedily into groups of at most
    ``target_file_size_mb`` cumulative input; big healthy files stay
    untouched and the replacecommit names only the rewritten groups.
    Sizes come from the listing already in hand (zero extra I/O).

    Returns the number of file groups replaced (0 = nothing to do, no
    instant published). Snapshot content is invariant (clustering
    transparency); time travel before the instant still reads the old
    groups.
    """
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable
    from hudi_rs_spark.util import split_into_chunks
    from hudi_rs_spark.write.concurrency import (
        ConcurrentWriteError,
        claim_instant,
        publish,
        release_instant,
    )
    from hudi_rs_spark.write.layout import LAYOUTS
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs
    from hudi_rs_spark.write.worklist import (
        side_records,
        slice_descriptor,
        slice_identity,
    )

    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout!r}: expected one of {LAYOUTS}")

    purge_uncommitted_mdt_logs(path)  # never reuse a poisoned anchor
    # ONE planning snapshot: slices, schema, the service config, the
    # side records and the OCC read point (its timeline) all come from
    # it (same rationale as compact: a commit landing on a group while
    # we rewrite it would vanish from the clustered snapshot — conflict
    # instead)
    table = HudiTable(path, spark, listing="direct")
    tc = table.config
    read_point = frozenset(i.timestamp for i in table.timeline.instants)
    reader = HudiPyReader(
        table, {"path": path}, _as_nullable(table.get_schema())
    )
    by_partition: dict[str, list] = {}
    fids: dict[str, list[str]] = {}
    for p in reader.partitions():
        rel_dir, fid = slice_identity(path, p)
        by_partition.setdefault(rel_dir, []).append(p)
        fids.setdefault(rel_dir, []).append(fid)

    instant = instant or new_instant()
    slice_bytes: dict[tuple[str, str], int] = {}
    if small_file_limit_mb is not None:
        for sl in table.get_file_slices():
            part = (sl.partition_path or "").strip("/")
            slice_bytes[(part, sl.file_id)] = (
                sl.base_file.size if sl.base_file is not None else 0
            ) + sum(lf.size for lf in sl.log_files)

    work = []
    replaced: dict[str, list[str]] = {}
    for rel_dir, slices in sorted(by_partition.items()):
        if small_file_limit_mb is not None:
            limit = small_file_limit_mb * 1024 * 1024
            pairs = [
                (p, fid)
                for p, fid in zip(slices, fids[rel_dir])
                if slice_bytes.get((rel_dir, fid), 0) < limit
            ]
            if len(pairs) < min_group_slices:
                continue
            # greedy size binning up to the target output size,
            # smallest-first so each bin fills as evenly as possible
            pairs.sort(key=lambda pf: slice_bytes.get((rel_dir, pf[1]), 0))
            target = target_file_size_mb * 1024 * 1024
            chunks: list[list] = [[]]
            acc = 0.0
            for p, fid in pairs:
                sz = slice_bytes.get((rel_dir, fid), 0)
                if chunks[-1] and (
                    acc + sz > target
                    or len(chunks[-1]) >= max(1, max_group_slices)
                ):
                    chunks.append([])
                    acc = 0.0
                chunks[-1].append(p)
                acc += sz
            for gi, chunk in enumerate(chunks):
                if chunk:
                    work.append({
                        "rel_dir": rel_dir,
                        "group_idx": gi,
                        "slices": [slice_descriptor(s) for s in chunk],
                    })
            # partial-partition replace: only the rewritten groups
            replaced[rel_dir] = sorted({fid for _, fid in pairs})
            continue
        if len(slices) < min_group_slices:
            continue
        n_groups = -(-len(slices) // max(1, max_group_slices))  # ceil
        for gi, chunk in enumerate(split_into_chunks(slices, n_groups)):
            work.append({
                "rel_dir": rel_dir,
                "group_idx": gi,
                "slices": [slice_descriptor(s) for s in chunk],
            })
        replaced[rel_dir] = sorted(set(fids[rel_dir]))
    if not work:
        return 0

    cfg = service_config(tc, path, instant, "cluster")
    claim_instant(cfg, "replacecommit")
    instant = cfg.instant  # claim may regenerate on a timestamp collision
    from hudi_rs_spark.write.worklist import run_slice_tasks, shared_scan_context

    any_slice = by_partition[next(iter(by_partition))][0]
    shared = shared_scan_context(any_slice)
    shared.update({
        "path": path, "instant": instant,
        "sort_columns": list(sort_columns),
        "layout": layout,
        "side": side_records(path, tc),
    })
    stats = run_slice_tasks(spark, work, shared, _cluster_one)
    # the REPLACED (source) groups are what a concurrent commit can
    # invalidate — the new fids are fresh
    try:
        publish(
            cfg, stats, table.schema_json(), read_point=read_point,
            touched={(p, fid) for p, fids in replaced.items() for fid in fids},
            replaced=replaced, action="replacecommit",
        )
    except ConcurrentWriteError:
        release_instant(cfg, "replacecommit")
        raise
    release_instant(cfg, "replacecommit")
    return sum(len(v) for v in replaced.values())
