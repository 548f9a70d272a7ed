"""Spark-native Hudi connector via the Python Data Source API (Spark 4).

This is the registration surface the reference exposes through
DataFusion (`HudiDataSource::new_with_options` + `CREATE EXTERNAL TABLE
... STORED AS HUDI`, crates/datafusion/src/lib.rs:180-304,936-982),
re-expressed as a first-class Spark source:

    spark.dataSource.register(HudiPyDataSource)
    df = spark.read.format("hudi_py").option("path", p).load()
    spark.sql("CREATE TEMPORARY VIEW t USING hudi_py OPTIONS (path '...')")
    spark.sql("SELECT ... FROM t WHERE ...")   # filters push down

Division of labor (SURVEY §3.3's one real distribution boundary):
- ``schema()`` / ``partitions()`` run on the DRIVER: hoodie.properties,
  timeline, MDT/direct listing, partition + stats pruning, per-group
  as-of slice selection — all the pure-Python planning HudiTable does,
  one InputPartition per file slice (the reference's unit of scan
  parallelism, hudi_exec.rs:294-324).
- ``read(partition)`` runs in EXECUTOR Python workers: pyarrow parquet
  read of the base file conformed to the resolved schema (COW /
  read-optimized: zero-copy Arrow straight through), plus pure-Python
  log decode + OVERWRITE_WITH_LATEST merge for MOR snapshot slices —
  the same block validity, ordering, and delete semantics as
  ``operators/merge.py``, applied slice-locally (a slice is exactly the
  reference's merge scope, record_merger.rs:89-187).

``pushFilters`` consumes equality/range/IN filters for partition and
file-stats pruning but reports every filter unsupported, so Spark
re-evaluates them post-scan: pruning stays a pure optimization and can
never change results. Same split as the reference's Exact/Inexact
classification, taken conservatively.

Scale: per-slice partitions give the same parallelism as the Spark
parquet reader's split planning for typical Hudi file sizing (~128 MB
base files); the MOR merge is slice-local (no shuffle at all — the
merge key never leaves its file group by construction). ``_read_slice``
is the engine's one MOR decode-and-merge kernel: ``HudiTable`` reads
run it through ``read_slices`` (one ``mapInArrow`` over slice
descriptors), and compaction/clustering run it per service task.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter as DSFilter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql import types as T

_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _storage_options(options: dict) -> dict | None:
    """``storage.<key>`` reader options -> backend settings for the
    table's URL scheme (the reference plumbs storage options from table
    construction the same way: parse_url_opts)."""
    out = {
        k[len("storage.") :]: v
        for k, v in options.items()
        if k.lower().startswith("storage.") and k[len("storage.") :]
    }
    return out or None


@dataclass
class HudiSlicePartition(InputPartition):
    base_file: str | None  # None: log-only slice (merge against empty base)
    log_files: list[str]
    schema_json: str
    ordering: str | None
    strategy: str
    valid_instants: list[str]
    archival_boundary: str | None
    pending_instants: list[str]
    as_of: str | None
    merge_logs: bool
    # incremental window: rows with commit_time in (start_exclusive, as_of]
    # (streaming micro-batches; None = snapshot read)
    start_exclusive: str | None = None
    # dropped partition columns (drop.partition.columns=true) restored as
    # per-slice literals: {column: string value} parsed from the path
    partition_values: dict | None = None
    # CDC mode: read() yields change rows decoded from CDC log blocks
    # instead of merged records
    cdc: bool = False
    # per-table storage backend settings (credentials/endpoint), shipped
    # to executors because their storage_for cache is a separate process
    # from the driver's (the reference serializes storage options into
    # every FileGroupReader the same way, storage/mod.rs:26-28)
    storage_options: dict | None = None
    # PartialUpdateAvroPayload tables: the data columns whose merged
    # value is the newest NON-NULL across the key's versions (computed
    # at plan time from the table config so read() needs no props I/O);
    # None/empty = overwrite-with-latest row semantics
    partial_fill: list[str] | None = None
    # renamed columns (write/ddl.py rename_column): {current: [prior
    # names, newest first]} — conform reads a missing column under its
    # prior name before null-backfilling (files predate the rename)
    renames: dict | None = None


class HudiPyDataSource(DataSource):
    """format("hudi_py") — options: path (required), asOf (time travel,
    any format timestamps.py accepts), readOptimized ('true' skips log
    merge), listing (auto|direct|mdt), storage.<key> (backend settings
    for the table's URL scheme, e.g. storage.endpoint_override),
    startTimestamp/endTimestamp
    (incremental window), queryType='cdc' (typed change feed from CDC
    log blocks, same window options), inputPartitions (scan task cap)."""

    CDC_SCHEMA = T.StructType(
        [
            T.StructField("commit_time", T.StringType(), True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.StringType(), True),
            T.StructField("before", T.StringType(), True),
            T.StructField("after", T.StringType(), True),
        ]
    )

    @classmethod
    def name(cls) -> str:
        return "hudi_py"

    def _is_cdc(self) -> bool:
        return str(self.options.get("querytype", self.options.get("queryType", ""))).lower() == "cdc"

    def _table(self):
        from hudi_rs_spark.sources.hudi import HudiTable

        path = self.options.get("path")
        if not path:
            raise ValueError("hudi_py requires option 'path'")
        return HudiTable(
            path,
            spark=None,
            listing=self.options.get("listing", "auto"),
            storage_options=_storage_options(self.options),
        )

    def schema(self) -> T.StructType:
        if self._is_cdc():
            return self.CDC_SCHEMA
        # Spark's parquet reader reports everything nullable regardless of
        # the footer's nested nullability; declare the same so the
        # connector schema is bit-identical to the eager read's.
        return _as_nullable(self._table().get_schema())

    def reader(self, schema: T.StructType) -> "HudiPyReader":
        return HudiPyReader(self._table(), dict(self.options), schema)

    def streamReader(self, schema: T.StructType) -> "HudiPyStreamReader":
        return HudiPyStreamReader(dict(self.options))

    def writer(self, schema: T.StructType, overwrite: bool):
        """``df.write.format("hudi_py")`` — see write/writer.py."""
        from hudi_rs_spark.write.writer import HudiPyBatchWriter

        return HudiPyBatchWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        """``df.writeStream.format("hudi_py")`` — see write/stream.py."""
        from hudi_rs_spark.write.stream import HudiPyStreamWriter

        return HudiPyStreamWriter(dict(self.options), schema)


class HudiPyReader(DataSourceReader):
    def __init__(self, table, options: dict, schema: T.StructType):
        self.table = table
        self.options = options
        self.out_schema = schema
        self.filters: list = []  # triples consumed for pruning

    def pushFilters(self, filters: list[DSFilter]) -> Iterator[DSFilter]:
        from hudi_rs_spark.plans.partition_pruner import Filter

        for f in filters:
            op = _OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.filters.append(Filter(f.attribute[0], op, str(f.value)))
            elif isinstance(f, In) and len(f.attribute) == 1:
                # values travel typed: a comma-joined string round-trip
                # strips whitespace and mangles escape-adjacent members,
                # and pruning drops whole files — unrecoverable post-scan
                self.filters.append(
                    Filter(f.attribute[0], "IN", "", typed=tuple(f.value))
                )
        # report ALL filters unsupported: Spark re-applies them after the
        # scan, so consuming them above is pruning-only and always safe
        return iter(filters)

    def partitions(self) -> list[HudiSlicePartition]:
        from hudi_rs_spark.config.read_config import HudiReadOptions
        from hudi_rs_spark.timeline.timestamps import to_hudi_timestamp

        t = self.table
        opt = self.options
        as_of = opt.get("asof") or opt.get("asOf")
        if as_of is not None:
            as_of = to_hudi_timestamp(as_of, t.config.timezone)
        read_optimized = str(
            opt.get("readoptimized", opt.get("readOptimized", ""))
        ).lower() in ("true", "1")

        n_parts = int(opt.get("inputpartitions", opt.get("inputPartitions", 0)) or 0)

        start = opt.get("starttimestamp") or opt.get("startTimestamp")
        end = opt.get("endtimestamp") or opt.get("endTimestamp")
        if str(opt.get("querytype", opt.get("queryType", ""))).lower() == "cdc":
            if start is not None:
                start = to_hudi_timestamp(start, t.config.timezone)
            if end is not None:
                end = to_hudi_timestamp(end, t.config.timezone)
            return _chunk_partitions(
                _cdc_partitions(t, start, end, self.out_schema.json()),
                n_parts,
            )
        if start is not None or end is not None:
            # incremental batch query: rows changed in (start, end]
            # (SURVEY §2 op 3 through the connector surface)
            if start is not None:
                start = to_hudi_timestamp(start, t.config.timezone)
            if end is not None:
                end = to_hudi_timestamp(end, t.config.timezone)
            end = end or t.timeline.latest_commit_timestamp()
            return _chunk_partitions(_incremental_partitions(t, start, end), n_parts)

        slices = t.get_file_slices(as_of, self.filters)
        if as_of is None:
            slices = _record_index_prune(t, slices, self.filters)
        slices = t._stats_prune(
            slices,
            self.filters,
            HudiReadOptions(use_read_optimized_mode=read_optimized),
        )
        return _chunk_partitions(
            _slice_partitions(t, slices, as_of, read_optimized), n_parts
        )

    def read(self, partition: HudiSlicePartition):
        """Executor-side slice read. Yields pyarrow RecordBatches."""
        yield from _read_slice(partition)


class HudiPyStreamReader(DataSourceStreamReader):
    """spark.readStream.format("hudi_py") — completed Hudi commits are
    the offset log. Each micro-batch is an incremental query over the
    commit window (start, end]: exactly-once delivery of every row
    change, driven by Spark's own offset checkpointing instead of the
    caller-managed ``HudiIncrementalFeed``.

    The reference has no streaming surface (its closest analog is the
    batch incremental query, SURVEY §2 op 3); this is the Spark-native
    upgrade. Option ``startingOffsets``: "earliest" (default — replay
    table history) or "latest" (only new commits).

    Planning per micro-batch runs on the driver (timeline reload +
    touched-file-group planning, cost ∝ commits in the window);
    reads fan out per slice to executor Python workers.

    Rate limiting: ``maxCommitsPerTrigger`` / ``maxBytesPerTrigger``
    (bytes from commit-metadata write stats — no storage round-trips)
    bound how far ``latestOffset`` advances past the reader's last
    planned offset, so a long backlog drains as bounded micro-batches
    instead of one giant first batch. At least one commit always
    advances (progress guarantee). The Python DataSource API has no
    ReadLimit hook, so the bound rides on reader-instance offset state;
    after a checkpoint RESTART the first batch is unbounded (the
    checkpointed start isn't visible until ``partitions`` runs), every
    later batch is bounded again."""

    def __init__(self, options: dict):
        self.options = options
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hudi_py requires option 'path'")

        def _opt(*names) -> int:
            for n in names:
                v = options.get(n.lower(), options.get(n))
                if v is not None:
                    return max(0, int(v))
            return 0

        self._max_commits = _opt("maxCommitsPerTrigger")
        self._max_bytes = _opt("maxBytesPerTrigger")
        # last offset this reader returned/planned; None until known
        self._cursor: str | None = None

    def _table(self):
        from hudi_rs_spark.sources.hudi import HudiTable

        # fresh instance: the timeline must see commits that landed
        # after the stream started
        return HudiTable(
            self.path,
            spark=None,
            listing=self.options.get("listing", "auto"),
            storage_options=_storage_options(self.options),
        )

    def initialOffset(self) -> dict:
        mode = str(self.options.get("startingoffsets", "earliest")).lower()
        if mode == "latest":
            off = self._table().timeline.latest_commit_timestamp() or ""
        else:
            off = ""
        self._cursor = off
        return {"commit": off}

    def latestOffset(self) -> dict:
        t = self._table()
        latest = t.timeline.latest_commit_timestamp() or ""
        if (not self._max_commits and not self._max_bytes) or self._cursor is None:
            self._cursor = latest
            return {"commit": latest}
        window = t.timeline.instants_in_range(self._cursor or None, latest or None)
        end, n, nbytes = self._cursor, 0, 0
        for i in window:
            stats = t.timeline.metadata_for(i).write_stats
            commit_bytes = sum(ws.size for ws in stats)
            if self._max_bytes and commit_bytes == 0 and stats:
                # writer recorded no fileSizeInBytes: stat the files.
                # Bounded work — the loop breaks once over budget, so at
                # most (commits taken + 1) commits are ever statted.
                for ws in stats:
                    p = os.path.join(t.base_path, ws.path.lstrip("/"))
                    try:
                        commit_bytes += t.storage.size(p)
                    except (FileNotFoundError, OSError):
                        pass  # cleaned since; contributes nothing
            over_commits = self._max_commits and n + 1 > self._max_commits
            over_bytes = self._max_bytes and nbytes + commit_bytes > self._max_bytes
            if n > 0 and (over_commits or over_bytes):
                break  # n > 0: a single over-budget commit still advances
            end, n, nbytes = i.timestamp, n + 1, nbytes + commit_bytes
        self._cursor = end
        return {"commit": end}

    def partitions(self, start: dict, end: dict) -> list[HudiSlicePartition]:
        # authoritative cursor resync (covers checkpoint restarts where
        # initialOffset was never called on this reader instance)
        self._cursor = end.get("commit") or ""
        t = self._table()
        s, e = start.get("commit") or None, end.get("commit") or None
        if str(
            self.options.get("querytype", self.options.get("queryType", ""))
        ).lower() == "cdc":
            # streaming CDC source: each micro-batch is the typed change
            # feed of its commit window (exactly-once via Spark offsets)
            return _cdc_partitions(
                t, s, e, HudiPyDataSource.CDC_SCHEMA.json()
            )
        return _incremental_partitions(t, s, e)

    def read(self, partition: HudiSlicePartition):
        yield from _read_slice(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing table-side


@dataclass
class HudiSliceGroupPartition(InputPartition):
    """N slices read sequentially by one scan task — the reference's
    InputPartitions chunking (datafusion/src/lib.rs:634-636
    split_into_chunks)."""

    slices: list


_RECORD_INDEX_MAX_KEYS = 1024


def _record_index_prune(table, slices, filters):
    """Plan-time point-lookup pruning: an ``=`` / ``IN`` filter on the
    (single) record-key column resolves through the MDT record index to
    exactly the file slices holding those keys — ``WHERE id IN (...)``
    on a 100 TB table plans O(keys) index probes + the matching slices
    instead of every slice surviving partition/stats pruning.

    Safety: only LATEST-snapshot reads (the index tracks the current
    table state), only single-field record keys (composite keys encode
    as ``f1:v1,f2:v2`` — a filter on one field cannot resolve), only
    tables advertising ``record_index`` (writer-maintained from table
    creation, or Hudi's own RLI — both index every live key, so a
    missing key PROVES the row does not exist; the writer refuses to
    enable the index on pre-existing data without a backfill for
    exactly this reason). Key sets above _RECORD_INDEX_MAX_KEYS skip
    pruning (driver probe cost). Spark re-applies every filter after
    the scan, so this is pruning-only."""
    from hudi_rs_spark.metadata.record_index import (
        has_record_index_partition,
        read_record_index,
    )

    if not slices or not filters:
        return slices
    key_fields = table.config.record_key_fields
    if len(key_fields) != 1:
        return slices
    keys: set[str] | None = None
    for f in filters:
        if f.field != key_fields[0]:
            continue
        if f.op == "=":
            vals = {str(f.value)}
        elif f.op == "IN":
            typed = getattr(f, "typed", None)
            if not typed:
                continue
            vals = {str(v) for v in typed}
        else:
            continue
        keys = vals if keys is None else (keys & vals)
    if keys is None or len(keys) > _RECORD_INDEX_MAX_KEYS:
        return slices
    # bucket-indexed tables: a key's file group is a pure hash
    # (write/bucket.py) — prune with zero index I/O and no Spark job
    # (functions/xxhash.py is bit-identical to the write side's
    # xxhash64 routing)
    from hudi_rs_spark.write.bucket import (
        is_bucket_table,
        num_buckets,
        parse_bucket_leaf,
        parse_splits,
        route_key,
    )

    if is_bucket_table(table.config.props):
        n = num_buckets(table.config.props)
        if n >= 1:
            splits = parse_splits(table.config.props)
            wanted = {route_key(k, n, splits) for k in keys}
            return [
                s for s in slices
                if parse_bucket_leaf(s.file_id, n) in wanted
            ]
    if not has_record_index_partition(table.config):
        return slices
    try:
        targets = set(read_record_index(table.base_path, keys).values())
    except (OSError, ValueError):
        return slices  # fail open: pruning is an optimization
    return [s for s in slices if (s.partition_path, s.file_id) in targets]


def _chunk_partitions(parts: list[HudiSlicePartition], n: int):
    """Pack per-slice partitions into at most ``n`` scan groups (round
    robin keeps group byte-sizes even for similar slice sizes); n<=0 or
    n>=len keeps one task per slice."""
    if n <= 0 or n >= len(parts):
        return parts
    groups: list[list[HudiSlicePartition]] = [[] for _ in range(n)]
    for i, p in enumerate(parts):
        groups[i % n].append(p)
    return [HudiSliceGroupPartition(g) for g in groups if g]


def _cdc_partitions(
    t, start: str | None, end: str | None, schema_json: str
) -> list[HudiSlicePartition]:
    """One scan partition per CDC log group over the (start, end]
    window. Planned from commit-metadata write stats (cdc_log_groups),
    not the as-of slice log lists: a compaction inside the window drops
    pre-compaction logs from the slice view and would silently truncate
    the feed. Shared by the batch queryType=cdc path and the streaming
    CDC source (each micro-batch is one such window)."""
    end = end or t.timeline.latest_commit_timestamp()
    valid = sorted(i.timestamp for i in t.timeline.instants_as_of(end))
    boundary = t.timeline.earliest_active_timestamp()
    pending = sorted(t.timeline.pending_timestamps)
    return [
        HudiSlicePartition(
            base_file="",
            log_files=[os.path.join(t.base_path, rel) for rel in rels],
            schema_json=schema_json,
            ordering=None,
            strategy="APPEND_ONLY",
            valid_instants=valid,
            archival_boundary=boundary,
            pending_instants=pending,
            as_of=end,
            merge_logs=True,
            start_exclusive=start or "",
            cdc=True,
            storage_options=getattr(t, "storage_options", None),
        )
        for _group, rels in sorted(t.cdc_log_groups(start, end).items())
        if rels
    ]


def _incremental_partitions(
    t, start_ts: str | None, end_ts: str | None
) -> list[HudiSlicePartition]:
    """Plan an incremental window (start, end]: only file groups touched
    by in-range commits, slices as-of end, commit-time masks in read()
    (same shape as HudiTable.read_incremental)."""
    instants = t.timeline.instants_in_range(start_ts, end_ts)
    touched: set[tuple[str, str]] = set()
    for i in instants:
        meta = t.timeline.metadata_for(i)
        for ws in meta.write_stats:
            touched.add((ws.partition_path, ws.file_id))
    slices = [
        s
        for s in t.get_file_slices(end_ts)
        if (s.partition_path, s.file_id) in touched
    ]
    return _slice_partitions(
        t, slices, end_ts, read_optimized=False, start_exclusive=start_ts or ""
    )


def _slice_partitions(
    t,
    slices,
    as_of: str | None,
    read_optimized: bool,
    start_exclusive: str | None = None,
    resolved: T.StructType | None = None,
) -> list[HudiSlicePartition]:
    """Driver-side: payload one picklable InputPartition per file slice
    (shared by the batch reader, the streaming micro-batch planner and
    ``HudiTable`` reads, which pass the schema they resolved over every
    slice of the read)."""
    from hudi_rs_spark.config.table_config import MergeStrategy, TableType

    if not slices:
        # empty window (e.g. a no-op trailing micro-batch): nothing to
        # read, and schema resolution may be impossible without a footer
        return []
    from hudi_rs_spark.write.ddl import rename_chain

    renames = rename_chain(t.config.props)
    resolved = _as_nullable(resolved or t._resolve_schema(slices))
    merge_logs = (
        not read_optimized and t.config.table_type != TableType.COPY_ON_WRITE
    )
    ordering_fields = t.config.ordering_fields
    ordering = ordering_fields[0] if ordering_fields else None
    strategy = t.config.merge_strategy
    if (
        merge_logs
        and strategy == MergeStrategy.OVERWRITE_WITH_LATEST
        and ordering is None
        and any(s.has_log_files for s in slices)
    ):
        raise ValueError(
            "merge strategy OVERWRITE_WITH_LATEST requires "
            "hoodie.table.ordering.fields / hoodie.table.precombine.field"
        )
    valid = sorted(i.timestamp for i in t.timeline.instants_as_of(as_of))
    boundary = t.timeline.earliest_active_timestamp()
    pending = sorted(t.timeline.pending_timestamps)

    partial_fill: list[str] | None = None
    if merge_logs and t.config.is_partial_update and ordering is not None:
        from hudi_rs_spark.sources.hudi import META_FIELDS

        skip = set(META_FIELDS) | {ordering}
        skip.update(t.config.partition_fields)
        skip.update(t.config.record_key_fields)
        partial_fill = [c for c in resolved.names if c not in skip]

    part_vals: dict[str, dict | None] = {}
    if t.config.drops_partition_columns and t.config.partition_fields:
        from hudi_rs_spark.plans.partition_pruner import PartitionPruner

        pruner = PartitionPruner(
            t.get_partition_schema(),
            [],
            t.config.hive_style_partitioning,
            t.config.partition_path_url_encoded,
        )
        for p in {s.partition_path for s in slices}:
            try:
                part_vals[p] = dict(pruner.parse_path(p))  # typed primitives
            except (ValueError, KeyError):
                part_vals[p] = None  # unparseable: leave nulls
    return [
        HudiSlicePartition(
            base_file=(
                os.path.join(t.base_path, s.base_file_relative_path())
                if s.base_file is not None
                else None
            ),
            log_files=[
                os.path.join(t.base_path, rel)
                for rel in (s.log_file_relative_paths() if merge_logs else [])
            ],
            schema_json=resolved.json(),
            ordering=ordering,
            strategy=strategy.value if hasattr(strategy, "value") else str(strategy),
            valid_instants=valid,
            archival_boundary=boundary,
            pending_instants=pending,
            as_of=as_of,
            merge_logs=merge_logs,
            start_exclusive=start_exclusive,
            partition_values=part_vals.get(s.partition_path),
            storage_options=getattr(t, "storage_options", None),
            partial_fill=partial_fill,
            renames=renames or None,
        )
        for s in slices
    ]


def read_slices(spark, parts: list[HudiSlicePartition]):
    """DataFrame of ``_read_slice`` over ``parts`` (non-empty, one scan
    context): one ``mapInArrow`` over slice descriptors. Tasks are sized
    by cores, not by slices — per-task Python start-up outweighs a small
    slice's decode, so the descriptors pack into
    ``min(len(parts), defaultParallelism)`` tasks, one RDD partition
    each, and the plan has no Exchange. The task frame is built
    JVM-side (``session.local_frame``), so the only Python pass is the
    decode itself; the descriptors inside it stay pickled (typed
    partition values survive) and the table-constant scan context
    rides once in the task closure. Storage only the driver process can
    open (memory://, a ``register_storage`` binding without storage
    options) raises here: workers would see an empty backend and every
    file would read as cleaned."""
    import pickle

    from hudi_rs_spark.fs.storage import worker_reachable
    from hudi_rs_spark.session import local_frame
    from hudi_rs_spark.write.worklist import (
        rebuild_slice,
        shared_scan_context,
        slice_descriptor,
    )

    path = parts[0].base_file or parts[0].log_files[0]
    if not worker_reachable(path, parts[0].storage_options):
        raise ValueError(
            f"{path}: log decode runs in Spark's Python workers, which "
            "cannot open this storage (memory:// and register_storage "
            "bindings exist only in the driver process); pass "
            "storage_options the workers can build the backend from"
        )
    n = min(len(parts), spark.sparkContext.defaultParallelism)
    groups = [
        g.slices if isinstance(g, HudiSliceGroupPartition) else [g]
        for g in _chunk_partitions(parts, n)
    ]
    tasks = local_frame(
        spark,
        [(pickle.dumps([slice_descriptor(p) for p in g]),) for g in groups],
        "slices binary",
    )
    shared = shared_scan_context(parts[0])

    def run(batches):
        for batch in batches:
            for blob in batch.column(0).to_pylist():
                for desc in pickle.loads(blob):
                    yield from _read_slice(rebuild_slice(desc, shared))

    schema = T.StructType.fromJson(json.loads(parts[0].schema_json))
    return tasks.mapInArrow(run, schema)


def _read_slice(partition: HudiSlicePartition):
    """Executor-side slice read (batch and streaming share it). Yields
    pyarrow RecordBatches. Incremental windows (``start_exclusive`` set)
    apply the reference's commit-time masks: base rows bounded BEFORE the
    merge (file_group/reader.rs:169-177) and the merged result bounded
    after (reader.rs:652-701)."""
    if partition is None:
        # an empty partitions() list reaches read() as a single None
        # partition (engine convention): empty table, nothing to emit
        return
    if isinstance(partition, HudiSliceGroupPartition):
        for p in partition.slices:
            yield from _read_slice(p)
        return
    if partition.cdc:
        yield from _read_cdc_slice(partition)
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from hudi_rs_spark.fs.storage import as_local_path, storage_for

    struct = T.StructType.fromJson(json.loads(partition.schema_json))
    target = to_arrow_schema(struct)
    if partition.base_file is None:
        if not partition.log_files:
            return  # log-only slice under read-optimized mode: nothing to emit
        # log-only slice (beyond the reference, which rejects baseless
        # slices): merge the logs against an empty base
        base = target.empty_table()
    else:
        storage = storage_for(partition.base_file, partition.storage_options)
        local = as_local_path(partition.base_file)
        if partition.base_file.endswith(".lance"):
            # Lance v2 base file (reference lance.rs:56-271): pure-python
            # decoder over the storage backend
            from hudi_rs_spark.lance.reader import LanceFile

            base = LanceFile(storage.read_bytes(partition.base_file)).to_table()
        elif local is not None:
            base = pq.read_table(local)
        else:
            with storage.open_seekable(partition.base_file) as f:
                base = pq.read_table(f)
    base = _conform_table(
        base, target, partition.partition_values, partition.renames
    )
    start = partition.start_exclusive
    has_commit = "_hoodie_commit_time" in struct.names
    if start is not None and has_commit:
        base = _commit_window(base, start, partition.as_of)

    if not partition.log_files:
        if start is not None and not has_commit:
            return  # cannot attribute rows to commits: emit nothing
        yield from base.to_batches()
        return

    rows, deletes = _decode_logs(partition, struct)
    if partition.partition_values:
        # dropped partition columns are absent from log records too
        for r in rows:
            for k, v in partition.partition_values.items():
                if r.get(k) is None:
                    r[k] = v
    if rows or deletes:
        combined = base
        if rows:
            combined = pa.concat_tables(
                [base, pa.Table.from_pylist(rows, schema=target)]
            )
        merged = _merge_slice_table(combined, deletes, partition, struct)
        if start is not None and has_commit:
            merged = _commit_window(merged, start, partition.as_of)
        yield from merged.to_batches()
    else:
        yield from base.to_batches()


def _read_cdc_slice(partition: HudiSlicePartition):
    """Executor-side CDC decode: change rows from this slice's type-6
    log blocks inside the commit window — same validity gating as data
    blocks (the connector's queryType=cdc and HudiTable.read_changes)."""
    import pyarrow as pa

    from hudi_rs_spark.logfile import reader as logreader
    from hudi_rs_spark.logfile.reader import BLOCK_CDC_DATA

    file_blocks = []
    for p in partition.log_files:
        try:
            file_blocks.append(
                logreader.read_log_file(p, partition.storage_options)
            )
        except FileNotFoundError:
            continue  # cleaned between planning and read
    targets: set[str] = set()
    for blocks in file_blocks:
        targets |= logreader.rollback_targets(blocks)
    valid = set(partition.valid_instants)
    rows: list[dict] = []
    for blocks in file_blocks:
        for b in logreader.valid_blocks(
            blocks,
            partition.start_exclusive or None,
            partition.as_of,
            valid,
            rollback_targets_override=targets,
            archival_boundary=partition.archival_boundary,
            pending_instants=set(partition.pending_instants),
        ):
            if b.block_type != BLOCK_CDC_DATA:
                continue
            for r in b.records or []:
                rows.append(
                    {
                        "commit_time": b.instant_time,
                        "op": r.get("op"),
                        "ts_ms": r.get("ts_ms"),
                        "before": r.get("before"),
                        "after": r.get("after"),
                    }
                )
    schema = pa.schema(
        [(n, pa.string()) for n in ("commit_time", "op", "ts_ms", "before", "after")]
    )
    if rows:
        yield from pa.Table.from_pylist(rows, schema=schema).to_batches()


def _commit_window(tbl, start_exclusive: str, end_inclusive: str | None):
    """Arrow filter: _hoodie_commit_time in (start, end]."""
    import pyarrow.compute as pc

    col = tbl.column("_hoodie_commit_time")
    mask = pc.greater(col, start_exclusive)
    if end_inclusive is not None:
        mask = pc.and_(mask, pc.less_equal(col, end_inclusive))
    return tbl.filter(mask)


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Recursively mark every field/element nullable (Spark parquet-read
    semantics)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


# ---------------------------------------------------------------------------
# executor-side helpers (pure functions; importable in Python workers)
# ---------------------------------------------------------------------------
def _conform_table(
    tbl, target, constants: dict | None = None, renames: dict | None = None
):
    """Project/cast an arrow table to the resolved schema: extra columns
    dropped, missing columns read under a PRIOR name (renamed columns —
    files written before the rename hold the bytes under the old name)
    or null-backfilled (schema evolution) or filled from ``constants``
    (dropped partition columns restored from the slice's partition
    path), types cast to the declared resolution."""
    import pyarrow as pa

    cols = []
    for f in target:
        if f.name in tbl.column_names:
            cols.append(tbl.column(f.name).cast(f.type))
            continue
        prior = next(
            (
                p
                for p in (renames or {}).get(f.name, ())
                if p in tbl.column_names
            ),
            None,
        )
        if prior is not None:
            cols.append(tbl.column(prior).cast(f.type))
        elif constants and f.name in constants:
            cols.append(pa.array([constants[f.name]] * len(tbl)).cast(f.type))
        else:
            cols.append(pa.nulls(len(tbl), f.type))
    return pa.table(cols, schema=target)


def _decode_logs(partition: HudiSlicePartition, struct: T.StructType):
    """Decode + validity-filter this slice's log blocks: rollback
    targets aggregate across ALL of the slice's log files first
    (scanner.rs CollectedBlocks — a command in a later file voids blocks
    in earlier ones), then the valid-commit / archival rules."""
    from hudi_rs_spark.logfile import reader as logreader
    from hudi_rs_spark.sources.conform import apply_renames, conform_row

    file_blocks = [
        logreader.read_log_file(p, partition.storage_options)
        for p in partition.log_files
    ]
    targets: set[str] = set()
    for blocks in file_blocks:
        targets |= logreader.rollback_targets(blocks)
    valid = set(partition.valid_instants)
    rows: list[dict] = []
    deletes: list[tuple] = []  # (commit_time, key, ordering_val)
    for blocks in file_blocks:
        for b in logreader.valid_blocks(
            blocks,
            # Incremental/streaming windows must exclude pre-window log
            # blocks BEFORE the merge: otherwise a pre-window row
            # with a higher ordering value wins the slice merge and the
            # post-merge commit window then drops the key entirely.
            partition.start_exclusive or None,
            partition.as_of,
            valid,
            rollback_targets_override=targets,
            archival_boundary=partition.archival_boundary,
            pending_instants=set(partition.pending_instants),
        ):
            for r in b.records or []:
                rows.append(
                    conform_row(apply_renames(r, partition.renames), struct)
                )
            for key, _part, ordering_val in b.delete_records:
                deletes.append((b.instant_time, key, ordering_val))
    return rows, deletes


def _merge_slice_table(combined, deletes, partition, struct):
    """Slice-local OVERWRITE_WITH_LATEST merge (record_merger.rs: lexsort
    desc + first-of-key mask, then delete resolution per ordering.rs).

    Arrow-vectorized winner selection: one stable ``sort_indices`` on
    (key asc, ordering desc, seqno desc, nulls last) plus a first-of-
    key-run mask picks each key's winner — an exact tie keeps the
    earliest row. Only winners whose key carries a delete record reach
    python; one ``take`` then materializes the surviving full rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from hudi_rs_spark.sources.conform import conform_value

    ordering = partition.ordering
    if partition.strategy == "APPEND_ONLY" or ordering is None:
        return combined

    sort_keys = [("_hoodie_record_key", "ascending"), (ordering, "descending")]
    if "_hoodie_commit_seqno" in struct.names:
        sort_keys.append(("_hoodie_commit_seqno", "descending"))
    order = pc.sort_indices(combined, sort_keys=sort_keys, null_placement="at_end")
    sorted_keys = combined.column("_hoodie_record_key").take(order)
    n = len(order)
    first = np.ones(n, dtype=bool)
    if n > 1:
        prev, cur = sorted_keys.slice(0, n - 1), sorted_keys.slice(1)
        same = pc.or_(
            pc.fill_null(pc.equal(cur, prev), False),
            pc.and_(pc.is_null(cur), pc.is_null(prev)),
        )
        first[1:] = ~same.to_numpy()
    win = order.to_numpy()[first]  # winner row per key, in key order

    if deletes:
        ord_type = struct[ordering].dataType
        del_event: dict[str, object] = {}
        del_commit: dict[str, str] = {}
        for commit, key, oval in deletes:
            oval = conform_value(oval, ord_type)
            if key not in del_event:
                del_event[key] = oval
                del_commit[key] = commit
            else:
                # max with null-smallest semantics (arrow Row encoding)
                cur = del_event[key]
                if cur is None or (oval is not None and oval > cur):
                    del_event[key] = oval
                if commit > del_commit[key]:
                    del_commit[key] = commit
        win_keys = sorted_keys.filter(pa.array(first))
        hit = np.flatnonzero(
            pc.is_in(
                win_keys, value_set=pa.array(list(del_commit), win_keys.type)
            ).to_numpy()
        )
        rows = pa.array(win[hit], type=pa.int64())
        evs = combined.column(ordering).take(rows).to_pylist()
        commits = (
            combined.column("_hoodie_commit_time").take(rows).to_pylist()
            if "_hoodie_commit_time" in struct.names
            else [None] * len(rows)
        )
        deleted = np.zeros(len(win), dtype=bool)
        for pos, key, re_, rc in zip(
            hit, win_keys.take(pa.array(hit, type=pa.int64())).to_pylist(),
            evs, commits,
        ):
            de, dc = del_event.get(key), del_commit[key]
            try:
                event_zero = de is not None and float(de) == 0.0
            except (TypeError, ValueError):
                event_zero = False
            if event_zero:
                wins = dc > (rc or "")
            else:
                gt = (de is not None and re_ is None) or (
                    de is not None and re_ is not None and de > re_
                )
                eq = de == re_ or (de is None and re_ is None)
                wins = gt or (eq and dc > (rc or ""))
            deleted[pos] = wins
        win = win[~deleted]
    kept = np.sort(win).tolist()

    # typed indices: a plain empty list infers null type, which take()
    # has no kernel for
    out = combined.take(pa.array(kept, type=pa.int64()))

    fill_cols = partition.partial_fill or []
    if fill_cols:
        # PartialUpdateAvroPayload: a winner row's null fill-column takes
        # the newest non-null value among the key's OLDER versions.
        # Column-at-a-time with numpy null masks — only multi-version
        # keys with a null winner cell pay any python work; single-
        # version keys (the bulk of a slice) ride the take() above.
        keys = combined.column("_hoodie_record_key").to_pylist()
        versions: dict[str, list[int]] = {}
        for i in order.to_pylist():
            versions.setdefault(keys[i], []).append(i)
        multi = {k: v for k, v in versions.items() if len(v) > 1}
        if multi:
            for c in fill_cols:
                if c not in combined.column_names:
                    continue
                col = combined.column(c)
                nulls = np.asarray(
                    pc.is_null(col).combine_chunks().to_numpy(
                        zero_copy_only=False
                    )
                )
                adj = None
                for pos, i in enumerate(kept):
                    if not nulls[i]:
                        continue
                    for j in multi.get(keys[i], ()):
                        if not nulls[j]:
                            if adj is None:
                                adj = list(kept)
                            adj[pos] = j
                            break
                if adj is not None:
                    ci = out.column_names.index(c)
                    out = out.set_column(
                        ci, c, col.take(pa.array(adj, type=pa.int64()))
                    )
    return out
