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
  pruning on the sort key), and writes ONE new base file per group.
- DRIVER publishes the ``replacecommit`` naming every input file group
  in ``partitionToReplaceFileIds``.

Scale: parallelism = clustering groups; bytes touched = the groups'
slices only; no shuffle (a group is the rewrite scope). Group size is
bounded by ``max_group_slices`` so a million-file-group partition maps
to many bounded tasks, never one giant task.
"""

from __future__ import annotations

import os

import pyarrow as pa

from hudi_rs_spark.write.config import WriteConfig, new_instant


def _slice_identity(base_path: str, p) -> tuple[str, str]:
    """(relative partition dir, file id) of a slice descriptor — from
    the base file when present, else the first log file (log-only
    slice)."""
    from hudi_rs_spark.fs.file_group import BaseFile, LogFile

    ref = p.base_file or p.log_files[0]
    d = os.path.dirname(os.path.relpath(ref, base_path))
    rel_dir = "" if d == "." else d
    name = os.path.basename(ref)
    if p.base_file:
        return rel_dir, BaseFile.parse(name).file_id
    return rel_dir, LogFile.parse(name).file_id


def _cluster_one(desc: dict, shared: dict) -> dict:
    """Executor: rewrite one clustering group -> one new base file.
    ``desc``/``shared`` per write/worklist.py (Arrow-shipped JSON, not
    pickled plan objects — survives million-group tables)."""
    import uuid

    from pyspark import TaskContext

    from hudi_rs_spark.sources.pyds import _read_slice
    from hudi_rs_spark.write.worklist import rebuild_slice

    base_path = shared["path"]
    instant = shared["instant"]
    sort_columns = shared["sort_columns"]
    with_stats = shared["with_stats"]
    index_shards = shared["index_shards"]
    rel_dir = desc["rel_dir"]
    group_idx = desc["group_idx"]
    slices = [rebuild_slice(s, shared) for s in desc["slices"]]

    batches = []
    for p in slices:
        batches.extend(_read_slice(p))
    if batches:
        merged = pa.Table.from_batches(batches)
    else:
        import json

        from pyspark.sql import types as T
        from pyspark.sql.pandas.types import to_arrow_schema

        merged = to_arrow_schema(
            T.StructType.fromJson(json.loads(slices[0].schema_json))
        ).empty_table()
    if sort_columns:
        layout = shared.get("layout", "linear")
        if layout == "linear":
            merged = merged.sort_by([(c, "ascending") for c in sort_columns])
        else:
            from hudi_rs_spark.write.layout import curve_order

            merged = curve_order(merged, sort_columns, layout)

    tc = TaskContext.get()
    token = f"{tc.partitionId()}-{tc.stageId()}-{tc.attemptNumber()}" if tc else "0-0-0"
    fid = f"{uuid.uuid5(uuid.NAMESPACE_URL, f'{instant}:{rel_dir}:{group_idx}')}-0"
    name = f"{fid}_{token}_{instant}.parquet"
    rel = f"{rel_dir}/{name}" if rel_dir else name
    if "_hoodie_file_name" in merged.column_names:
        i = merged.column_names.index("_hoodie_file_name")
        merged = merged.set_column(
            i, "_hoodie_file_name", pa.array([name] * len(merged), pa.string())
        )
    from hudi_rs_spark.write.writer import _fs, write_parquet

    full = f"{base_path}/{rel}"
    size = write_parquet(merged, full, _fs(base_path))
    stat = {
        "fileId": fid,
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
        import base64

        from hudi_rs_spark.bloomfilter import build_bloom

        stat["bloomFilter"] = base64.b64encode(
            build_bloom(
                k.as_py()
                for k in merged["_hoodie_record_key"].combine_chunks()
            )
        ).decode("ascii")
    if index_shards and "_hoodie_record_key" in merged.column_names:
        # clustering MOVES records to the new file group: rewrite their
        # record-index locations (executor-side, like the task writers)
        from hudi_rs_spark.write.record_index import append_record_index_log

        append_record_index_log(
            base_path, instant,
            {k.as_py(): (rel_dir, fid)
             for k in merged["_hoodie_record_key"].combine_chunks()},
            index_shards, token,
        )
    return stat


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
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable
    from hudi_rs_spark.util import split_into_chunks
    from hudi_rs_spark.write.layout import LAYOUTS
    from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs
    from hudi_rs_spark.write.writer import commit_instant

    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout!r}: expected one of {LAYOUTS}")

    purge_uncommitted_mdt_logs(path)  # never reuse a poisoned anchor
    # OCC read point BEFORE planning (same rationale as compact: a
    # commit landing on a group while we rewrite it would vanish from
    # the clustered snapshot — conflict instead)
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
    by_partition: dict[str, list] = {}
    fids: dict[str, list[str]] = {}
    for p in reader.partitions():
        rel_dir, fid = _slice_identity(path, p)
        by_partition.setdefault(rel_dir, []).append(p)
        fids.setdefault(rel_dir, []).append(fid)

    instant = instant or new_instant()
    meta_parts_pre = tc.props.get("hoodie.table.metadata.partitions", "")
    with_stats = "column_stats" in meta_parts_pre
    with_bloom = "bloom_filters" in meta_parts_pre
    index_shards = 0
    if "record_index" in meta_parts_pre:
        from hudi_rs_spark.write.record_index import existing_shard_count

        index_shards = existing_shard_count(path)
    from hudi_rs_spark.write.worklist import slice_descriptor

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

    cfg = WriteConfig(
        path=path,
        table_name=tc.table_name,
        record_key_fields=tuple(tc.record_key_fields) or ("id",),
        precombine_field=(tc.ordering_fields or [None])[0],
        partition_fields=tuple(tc.partition_fields),
        table_type=tc.table_type.value,
        table_version=tc.table_version,
        instant=instant,
        operation="cluster",
    )
    from hudi_rs_spark.write.concurrency import claim_instant, release_instant

    claim_instant(cfg, "replacecommit")
    instant = cfg.instant  # claim may regenerate on a timestamp collision
    from hudi_rs_spark.write.worklist import run_slice_tasks, shared_scan_context

    any_slice = by_partition[next(iter(by_partition))][0]
    shared = shared_scan_context(any_slice)
    shared.update({
        "path": path, "instant": instant,
        "sort_columns": list(sort_columns),
        "layout": layout,
        "with_stats": with_stats, "with_bloom": with_bloom,
        "index_shards": index_shards,
    })
    stats = run_slice_tasks(spark, work, shared, _cluster_one)
    # conflict check BEFORE publishing: the REPLACED (source) groups are
    # what a concurrent commit can invalidate — the new fids are fresh
    try:
        check_commit_conflicts(
            cfg, read_point,
            {(p, fid) for p, fids in replaced.items() for fid in fids},
        )
    except Exception:
        from hudi_rs_spark.write.writer import _fs as _fs_cc

        st_cc = _fs_cc(path)
        for s in stats:  # reclaim the unpublished rewrites
            try:
                st_cc.remove(f"{path}/{s['path']}")
            except OSError:
                pass
        release_instant(cfg, "replacecommit")
        raise
    commit_instant(
        cfg, stats, table.schema_json(), replaced=replaced,
        action="replacecommit", instant=instant,
    )
    meta_parts = tc.props.get("hoodie.table.metadata.partitions", "")
    if "files" in meta_parts:
        from hudi_rs_spark.write.mdt import apply_commit_to_mdt

        apply_commit_to_mdt(cfg, stats)
    release_instant(cfg, "replacecommit")
    return sum(len(v) for v in replaced.values())
