"""HudiTable: the engine's table API — plan on the driver, execute as
DataFrames.

Query lifecycle mirrors SURVEY.md §3 / docs/reader-spec.md:
  1. parse hoodie.properties, load timeline ONCE (snapshot pinning,
     reader-spec.md:295-297)
  2. plan: timeline view as-of -> partition pruning -> file groups ->
     as-of slice per group -> minus replaced groups
  3. execute: COW / read-optimized / log-free slices ->
     spark.read.parquet(planned files) (Catalyst handles filter/projection
     pushdown, op 9/10/18/21/24); log-bearing MOR slices -> the per-slice
     Arrow kernel (sources/pyds.py::_read_slice: log decode,
     OVERWRITE_WITH_LATEST merge, delete resolution) in one mapInArrow.

Scale: planning cost ∝ files in surviving partitions (driver-side
listing); execution is a Spark parquet scan plus, for log-bearing
slices, executor-side decode+merge packed into at most one task per
core — no shuffle, since a record key never leaves its file slice.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hudi_rs_spark.avro.spark_schema import avro_record_to_struct
from hudi_rs_spark.config.read_config import HudiReadOptions
from hudi_rs_spark.config.table_config import HudiTableConfig, TableType
from hudi_rs_spark.fs.file_group import FileSlice
from hudi_rs_spark.fs.fs_view import build_file_groups, get_file_slices
from hudi_rs_spark.functions.filters import apply_filters
from hudi_rs_spark.plans.partition_pruner import Filter, PartitionPruner
from hudi_rs_spark.timeline.timeline import Timeline

META_FIELDS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]


class HudiTable:
    def __init__(
        self,
        base_path: str,
        spark: SparkSession | None = None,
        listing: str = "auto",
        storage_options: dict | None = None,
        hudi_overrides: dict | None = None,
    ):
        """``listing``: "auto" uses the metadata-table files partition
        when present (O(partitions) planning instead of O(files) storage
        walk — the difference between a usable and an unusable planner on
        a 100 TB table), silently falling back to direct listing on any
        MDT read problem; "direct" always walks storage; "mdt" forces the
        metadata path (errors surface).

        ``storage_options``: backend settings (credentials/endpoint) for
        the table's URL scheme, the reference's ``parse_url_opts``
        surface (storage/mod.rs:26-28). Registering them here primes the
        per-(scheme, authority) storage cache, so every nested planner
        module resolves the same configured backend."""
        from hudi_rs_spark.fs.storage import storage_for

        self.base_path = base_path.rstrip("/")
        # Lazy: planning (timeline, listing, pruning, schema resolution)
        # is pure driver-side Python and never touches Spark, so the
        # Python DataSource connector (sources/pyds.py) can plan without
        # a session; read paths resolve the session on first use.
        self._spark = spark
        # retained so distributed read paths (sources/pyds.py) can ship
        # the options to executor processes, whose storage cache is
        # separate from the driver's
        self.storage_options = dict(storage_options) if storage_options else None
        self.storage = storage_for(self.base_path, storage_options)
        self.config = HudiTableConfig.from_base_path(self.base_path)
        if hudi_overrides:
            # BEFORE timeline load: overrides that steer discovery
            # (hoodie.timeline.path, layout version, archive folder)
            # must be visible to it — the reference's register_hudi_options
            # applies overrides at construction the same way
            self.config.props.update(hudi_overrides)
        self.timeline = Timeline.load(self.base_path, self.config)
        if listing not in ("auto", "direct", "mdt"):
            raise ValueError(f"bad listing mode: {listing}")
        self.listing = listing

    @property
    def spark(self) -> SparkSession:
        s = self._spark or SparkSession.getActiveSession()
        if s is None:
            raise RuntimeError("no active SparkSession")
        self._spark = s
        return s

    # ------------------------------------------------------------------
    # convenience surface (reference python/hudi/_internal.pyi HudiTable
    # properties :275-376)
    # ------------------------------------------------------------------
    @property
    def base_url(self) -> str:
        return self.base_path

    @property
    def table_name(self) -> str:
        return self.config.table_name

    @property
    def table_type(self) -> str:
        return self.config.table_type.value

    @property
    def is_mor(self) -> bool:
        return self.config.table_type == TableType.MERGE_ON_READ

    @property
    def timezone(self) -> str:
        return self.config.timezone

    def hudi_options(self) -> dict[str, str]:
        """All hoodie.* configs (hoodie.properties view)."""
        return dict(self.config.props)

    @property
    def is_metadata_table(self) -> bool:
        """This table IS a nested metadata table (base path under a data
        table's ``.hoodie/metadata``)."""
        return self.base_path.rstrip("/").endswith(".hoodie/metadata")

    def is_metadata_table_enabled(self) -> bool:
        """Reference semantics (metadata/table/mod.rs:80-108): v8+ table
        that is not itself a metadata table, with either an explicit
        hoodie.metadata.enable=true or the files partition configured
        (implicit enablement)."""
        from hudi_rs_spark.metadata import files_partition as mdt

        if self.config.table_version < 8:
            return False
        if self.is_metadata_table:
            return False
        explicit = (
            self.config.props.get("hoodie.metadata.enable", "").lower()
            == "true"
        )
        return explicit or mdt.has_files_partition(self.config)

    def get_timeline(self) -> Timeline:
        return self.timeline

    def get_schema_in_avro_str(self) -> str:
        """Latest writer avro schema as a JSON string (resolver priority:
        commit metadata, then hoodie.table.create.schema)."""
        sj = self.schema_json()
        if sj is None:
            raise ValueError("table has no recorded avro schema")
        return json.dumps(sj)

    def get_schema_in_avro_str_with_meta_fields(self) -> str:
        """Avro schema with the 5 Hudi meta fields prepended (reference
        meta_field.rs:72-88 static schema + data fields)."""
        sj = self.schema_json()
        if sj is None:
            raise ValueError("table has no recorded avro schema")
        fields = [f for f in sj.get("fields", [])]
        existing = {f.get("name") for f in fields}
        meta = [
            {"name": m, "type": ["null", "string"], "default": None}
            for m in META_FIELDS
            if m not in existing
        ]
        return json.dumps({**sj, "fields": meta + fields})

    def create_file_group_reader_with_options(
        self,
        read_options: "HudiReadOptions | None" = None,
        extra_storage_overrides: dict | None = None,
    ) -> "HudiFileGroupReader":
        """Reference ``HudiTable.create_file_group_reader_with_options``
        (_internal.pyi:395-410): a per-slice reader bound to this table's
        configs, with optional read defaults and storage overrides
        (last-writer-wins over the table's own storage options)."""
        storage = dict(self.storage_options or {})
        storage.update(extra_storage_overrides or {})
        if storage == (self.storage_options or {}):
            # no effective change: bind the existing table — no reason to
            # re-read hoodie.properties / re-list the timeline remotely
            return HudiFileGroupReader(self, read_options, None)
        return HudiFileGroupReader(self, read_options, storage or None)

    # ------------------------------------------------------------------
    # schema resolution (resolver.rs:41-114 priority order)
    # ------------------------------------------------------------------
    def schema_json(self) -> dict | None:
        s = self.timeline.latest_schema_json()
        if s:
            return json.loads(s)
        s = self.config.create_schema
        if s:
            return json.loads(s)
        return None

    def get_schema(self) -> T.StructType:
        """Data schema (with meta fields when the table populates them)."""
        return self._resolve_schema(self.get_file_slices())

    def _resolve_schema(self, slices: list[FileSlice]) -> T.StructType:
        """Reference priority (resolver.rs:41-47): latest commit-metadata
        schema first, base-file footer second, hoodie.properties create
        schema last. An evolved table (column added after old base files
        were written) therefore reads with the LATEST column set and nulls
        backfilled in old files.

        Column TYPES come from the newest base footer where the column
        exists on storage (physical truth — avoids avro→spark mapping
        drift); avro-declared types cover only columns newer than every
        footer. The result feeds ``spark.read.schema(...)``, so scans do
        no footer inference/merge job at all — O(1) driver footer reads
        regardless of file count."""
        footer_schema: T.StructType | None = None
        based = [s for s in slices if s.base_file is not None]
        if based:
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            newest = max(based, key=lambda s: s.commit_timestamp)
            path = os.path.join(self.base_path, newest.base_file_relative_path())
            if path.endswith(".lance"):
                from hudi_rs_spark.lance.reader import LanceFile

                footer_schema = from_arrow_schema(
                    LanceFile.from_path(path, self.storage_options).arrow_schema()
                )
            else:
                with self.storage.open_seekable(path) as f:
                    footer_schema = from_arrow_schema(pq.read_schema(f))
        sj = self.schema_json()
        if sj is None:
            if footer_schema is not None:
                return footer_schema
            raise ValueError("cannot resolve table schema")
        struct = avro_record_to_struct(sj)
        fields: list[T.StructField] = []
        if (
            self.config.populates_meta_fields
            and "_hoodie_commit_time" not in struct.fieldNames()
        ):
            fields.extend(T.StructField(m, T.StringType(), True) for m in META_FIELDS)
        footer_fields = (
            {f.name: f for f in footer_schema.fields} if footer_schema else {}
        )
        from hudi_rs_spark.write.ddl import rename_chain
        from hudi_rs_spark.write.schema_evolve import widest

        renames = rename_chain(self.config.props)
        for f in struct.fields:
            ff = footer_fields.get(f.name)
            if ff is None and renames.get(f.name):
                # renamed column: the newest footer may still hold it
                # under a PRIOR name (rename is metadata-only)
                for prior in renames[f.name]:
                    ff = footer_fields.get(prior)
                    if ff is not None:
                        break
            # footer (physical truth) wins over avro mapping drift,
            # EXCEPT when the declared type is a legal widening of the
            # physical one (type-evolved table: newest base still holds
            # the narrow type, the commit schema already widened —
            # per-epoch casts upcast old files at scan time)
            dtype = widest(ff.dataType, f.dataType) if ff else f.dataType
            fields.append(T.StructField(f.name, dtype, True))
        return T.StructType(fields)

    def get_partition_schema(self) -> list[tuple[str, str]]:
        """[(name, spark-ddl type)] for partition fields, typed from the
        resolved schema (defaults to string)."""
        sj = self.schema_json()
        types: dict[str, str] = {}
        if sj is not None:
            struct = avro_record_to_struct(sj)
            for f in struct.fields:
                types[f.name] = f.dataType.simpleString()
        return [(name, types.get(name, "string")) for name in self.config.partition_fields]

    # ------------------------------------------------------------------
    # planning
    # ------------------------------------------------------------------
    def _completion_times(self) -> dict[str, str] | None:
        if self.config.timeline_layout_version < 2:
            return None
        pool = list(self.timeline.instants)
        if self.config.archived_read_enabled:
            pool = self.timeline.archived_instants() + pool
        return {
            i.timestamp: i.completion_timestamp or i.timestamp for i in pool
        }

    def get_file_slices(
        self,
        as_of_timestamp: str | None = None,
        filters: list[Filter] | None = None,
    ) -> list[FileSlice]:
        filters = filters or []
        # timestamp-based keygen: a filter on the source timestamp column
        # becomes a raw partition-path filter (keygen/timestamp_based.rs
        # transform_filter; op 17 extension)
        path_filters: list[Filter] = []
        from hudi_rs_spark.plans.timestamp_keygen import (
            TimestampKeyGen,
            path_filter_matches,
        )

        keygen = TimestampKeyGen.from_config(self.config)
        if keygen is not None:
            transformed: list[Filter] = []
            for f in filters:
                for out in keygen.transform_filter(f):
                    (path_filters if out.field == "__path__" else transformed).append(out)
            filters = transformed

        pruner = PartitionPruner(
            self.get_partition_schema(),
            filters,
            self.config.hive_style_partitioning,
            self.config.partition_path_url_encoded,
        )
        if path_filters:
            base = None if pruner.is_empty else pruner.should_include

            def part_filter(p: str, _base=base, _pf=tuple(path_filters)) -> bool:
                if _base is not None and not _base(p):
                    return False
                return all(path_filter_matches(p, f) for f in _pf)

        else:
            part_filter = None if pruner.is_empty else pruner.should_include
        part_filter = self._with_partition_stats_filter(part_filter, filters)
        # scheduled (pending) compaction/clustering instants: logs
        # anchored at one merge onto the previous committed slice until
        # the service lands (write/async_compact.py +
        # write/async_cluster.py non-blocking protocols)
        anchors = self.timeline.pending_service_anchors()
        groups = build_file_groups(
            self.base_path,
            self._completion_times(),
            part_filter,
            entries=self._mdt_entries(part_filter),
            compaction_anchors=anchors,
        )
        instants = self.timeline.instants_as_of(as_of_timestamp)
        valid_commits = {i.timestamp for i in instants}
        replaced = self.timeline.replaced_file_groups_as_of(as_of_timestamp)
        return get_file_slices(
            groups,
            as_of_timestamp,
            replaced_groups=replaced,
            valid_commit_timestamps=valid_commits,
            archival_boundary=self.timeline.earliest_active_timestamp(),
            pending_timestamps=self.timeline.pending_timestamps,
            archived_timestamps=self.timeline.archived_completed_timestamps(),
            archived_load_complete=self.timeline.archived_load_complete(),
            compaction_anchors=anchors,
        )

    def _with_partition_stats_filter(self, part_filter, filters):
        """Compose partition-path pruning with DATA-column partition-level
        stats pruning from the MDT partition_stats partition: a partition
        whose union bounds prove no row can match a filter is dropped
        before listing or planning any of its files — pruning on columns
        the partition scheme never mentions. Fail-open everywhere."""
        if not filters or self.listing == "direct":
            return part_filter
        from hudi_rs_spark.metadata import column_stats as cstats

        if not cstats.has_partition_stats_partition(self.config):
            return part_filter
        try:
            pstats = cstats.read_partition_stats(
                self.base_path, {f.field for f in filters}
            )
        except Exception:
            if self.listing == "mdt":
                raise
            return part_filter
        if not pstats:
            return part_filter
        from hudi_rs_spark.plans.file_pruner import should_include_file

        def combined(p: str) -> bool:
            if part_filter is not None and not part_filter(p):
                return False
            stats = pstats.get(p)
            if stats is None:
                return True  # no stats for this partition -> keep
            return should_include_file(stats, filters)

        return combined

    def _mdt_entries(self, part_filter):
        """(partition, name, size) from the metadata table's files
        partition, or None to walk storage (metadata/table/mod.rs:94-108
        enablement; partition pruning happens on MDT record keys BEFORE
        any data-table path is listed)."""
        if self.listing == "direct":
            return None
        from hudi_rs_spark.metadata import files_partition as mdt

        enabled = (
            self.config.props.get("hoodie.metadata.enable", "true").lower() != "false"
            and mdt.has_files_partition(self.config)
        )
        if self.listing == "auto" and not enabled:
            return None
        try:
            return mdt.list_partition_files_via_mdt(
                self.base_path, self.config, part_filter
            )
        except Exception as exc:
            if self.listing == "mdt":
                raise
            # auto: fall back to direct listing, but say why — a silent
            # fallback hides systematic MDT problems (e.g. an unsupported
            # codec) as a permanent slow path
            import logging

            logging.getLogger(__name__).warning(
                "MDT files-partition listing failed (%s: %s); falling back "
                "to direct storage listing for %s",
                type(exc).__name__, exc, self.base_path,
            )
            return None

    # ------------------------------------------------------------------
    # execution
    # ------------------------------------------------------------------
    def read(self, options: HudiReadOptions | None = None) -> DataFrame:
        options = (options or HudiReadOptions()).resolve()
        options.validate()
        if options.query_type == "incremental":
            return self.read_incremental(
                options.start_timestamp, options.end_timestamp, options
            )
        filters = [Filter(*f) for f in options.filters]
        as_of = options.as_of_timestamp
        if as_of is not None:
            # accept hudi-ts / epoch s-ms-us-ns / RFC3339-with-offset
            # (timeline/util.rs formats, reader-spec.md:311-319)
            from hudi_rs_spark.timeline.timestamps import to_hudi_timestamp

            as_of = to_hudi_timestamp(as_of, self.config.timezone)
        slices = self.get_file_slices(as_of, filters)
        slices = self._stats_prune(slices, filters, options)
        df = self._execute_slices(slices, as_of, options)
        df, filters = self._restore_partition_columns(df, slices, filters)
        if options.input_partitions > 0:
            # reference InputPartitions semantic (datafusion/src/lib.rs:
            # 634-636 chunks slices into N scan groups): cap the scan
            # task count. coalesce is narrow — no shuffle.
            df = df.coalesce(options.input_partitions)
        df = apply_filters(df, filters)
        if options.projection:
            df = df.select(*options.projection)
        if options.limit is not None:
            df = df.limit(options.limit)
        return df

    def read_file_slice(
        self, file_slice: FileSlice, options: HudiReadOptions | None = None
    ) -> DataFrame:
        """Physical read of ONE slice the caller already selected
        (typically from ``get_file_slices``) — the reference's
        ``FileGroupReader::read_file_slice`` (file_group/reader.rs:202-405,
        docs/reader-spec.md:131-139): base + merged logs, with the
        options' filters/projection applied and an as-of timestamp
        resolved into the log-scan bound."""
        options = (options or HudiReadOptions()).resolve()
        filters = [Filter(*f) for f in options.filters]
        as_of = options.as_of_timestamp
        if as_of is not None:
            from hudi_rs_spark.timeline.timestamps import to_hudi_timestamp

            as_of = to_hudi_timestamp(as_of, self.config.timezone)
        df = self._execute_slices([file_slice], as_of, options)
        df, filters = self._restore_partition_columns(df, [file_slice], filters)
        df = apply_filters(df, filters)
        if options.projection:
            df = df.select(*options.projection)
        return df

    def read_file_slice_from_paths(
        self,
        base_file_relative_path: str | None,
        log_file_relative_paths: list[str] | None = None,
        options: HudiReadOptions | None = None,
    ) -> DataFrame:
        """``FileGroupReader::read_file_slice_from_paths`` analog: build
        the slice from paths RELATIVE to the table base (pass None /
        empty logs for a base-only or log-only read) and read it. The
        reference requires a base path; log-only reads are our
        extension."""
        from hudi_rs_spark.fs.file_group import BaseFile, LogFile

        def _split(rel: str) -> tuple[str, str]:
            d, _, name = rel.rpartition("/")
            return d, name

        log_rels = list(log_file_relative_paths or [])
        if base_file_relative_path is None and not log_rels:
            raise ValueError("need a base file path and/or log file paths")
        base = None
        if base_file_relative_path is not None:
            part, name = _split(base_file_relative_path)
            base = BaseFile.parse(name)
        else:
            part, _ = _split(log_rels[0])
        logs = []
        for rel in log_rels:
            lp, name = _split(rel)
            if lp != part:
                raise ValueError(
                    f"log {rel!r} not in slice partition {part!r}"
                )
            logs.append(LogFile.parse(name))
        anchor = min(lf.timestamp for lf in logs) if base is None else None
        return self.read_file_slice(
            FileSlice(base, part, logs, log_anchor_timestamp=anchor), options
        )

    def read_file_slice_stream(
        self,
        file_slice: FileSlice,
        options: HudiReadOptions | None = None,
        batch_size: int | None = None,
    ):
        """``FileGroupReader::read_file_slice_stream`` analog
        (file_group/reader.rs:317-547, python/hudi/_internal.pyi:140-153):
        ONE slice as an iterator of Arrow RecordBatches of exactly
        ``batch_size`` rows (last batch may be short). Same plan as the
        eager ``read_file_slice``; batching reuses the table-level
        streaming re-chunker, so data crosses the JVM boundary once as
        Arrow buffers."""
        from hudi_rs_spark.streaming.batches import iter_batches

        options = (options or HudiReadOptions()).resolve()
        df = self.read_file_slice(file_slice, options)
        return iter_batches(
            df, options.batch_size if batch_size is None else batch_size
        )

    def read_file_slice_from_paths_stream(
        self,
        base_file_relative_path: str | None,
        log_file_relative_paths: list[str] | None = None,
        options: HudiReadOptions | None = None,
        batch_size: int | None = None,
    ):
        """``FileGroupReader::read_file_slice_from_paths_stream`` analog
        (python/hudi/_internal.pyi:155-165): the path-based slice read as
        a stream of Arrow RecordBatches."""
        from hudi_rs_spark.streaming.batches import iter_batches

        options = (options or HudiReadOptions()).resolve()
        df = self.read_file_slice_from_paths(
            base_file_relative_path, log_file_relative_paths, options
        )
        return iter_batches(
            df, options.batch_size if batch_size is None else batch_size
        )

    def _scan_base_files(self, slices, resolved: T.StructType) -> DataFrame:
        """Vectorized base-file scan, routed by base-file format (op 25
        routing is COW/MOR; this is the op 5/6 format routing the
        reference does in file_group/base_file/mod.rs): parquet slices go
        through Spark's native vectorized reader, ``.lance`` slices
        through the distributed pure-python Lance v2 decoder."""
        lance = [
            s for s in slices if s.base_file_relative_path().endswith(".lance")
        ]
        pq_slices = [
            s for s in slices if not s.base_file_relative_path().endswith(".lance")
        ]
        parts: list[DataFrame] = []
        if pq_slices:
            parts.append(self._scan_parquet_bases(pq_slices, resolved))
        if lance:
            parts.append(
                self._scan_lance_files(
                    [
                        os.path.join(self.base_path, s.base_file_relative_path())
                        for s in lance
                    ],
                    resolved,
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan_parquet_bases(self, slices, resolved: T.StructType) -> DataFrame:
        """Fast path: ONE multi-file scan with
        the resolved schema. When a column's TYPE evolved across commits
        (e.g. long -> string ts_millis in the reference's
        v9_timebasedkeygen_epochmillis fixture), old files' physical type
        contradicts the resolved schema and Spark's vectorized reader
        errors — the reference survives because its per-slice reader
        casts every batch (table_read_tests.rs:1058 pins this table).
        Here: group files by the avro schema their WRITING COMMIT
        recorded (driver-side JSON, no footer reads), scan each epoch
        with its own physical types, cast to resolved, union. One epoch
        (the overwhelmingly common case) degenerates to the fast path."""
        by_ts = {i.timestamp: i for i in self.timeline.instants}
        if self.config.archived_read_enabled:
            for i in self.timeline.archived_instants():
                by_ts.setdefault(i.timestamp, i)

        def epoch(s: FileSlice) -> str | None:
            inst = by_ts.get(s.commit_timestamp)
            if inst is None:
                return None
            try:
                return self.timeline.metadata_for(inst).schema_json
            except Exception:
                return None

        from hudi_rs_spark.write.ddl import rename_chain

        renames = rename_chain(self.config.props)
        groups: dict[str | None, list[str]] = {}
        for s in slices:
            groups.setdefault(epoch(s), []).append(
                os.path.join(self.base_path, s.base_file_relative_path())
            )
        if len(groups) <= 1 and not renames:
            paths = next(iter(groups.values()))
            return self.spark.read.schema(resolved).parquet(*paths)

        parts: list[DataFrame] = []
        for schema_json, paths in sorted(
            groups.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
        ):
            epoch_types: dict[str, T.DataType] = {}
            if schema_json:
                try:
                    struct = avro_record_to_struct(json.loads(schema_json))
                    epoch_types = {f.name: f.dataType for f in struct.fields}
                except Exception:
                    epoch_types = {}

            def phys_name(fname: str, _types=epoch_types) -> str:
                # renamed column: files of an epoch written BEFORE the
                # rename hold the bytes under a prior name
                if _types and fname not in _types and renames.get(fname):
                    for prior in renames[fname]:
                        if prior in _types:
                            return prior
                return fname

            names = {f.name: phys_name(f.name) for f in resolved.fields}
            phys = T.StructType(
                [
                    T.StructField(
                        names[f.name],
                        epoch_types.get(names[f.name], f.dataType),
                        True,
                    )
                    for f in resolved.fields
                ]
            )
            df = self.spark.read.schema(phys).parquet(*paths)
            parts.append(
                df.select(
                    *[
                        F.col(names[f.name]).cast(f.dataType).alias(f.name)
                        if names[f.name] != f.name
                        or phys[names[f.name]].dataType != f.dataType
                        else F.col(f.name)
                        for f in resolved.fields
                    ]
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _scan_lance_files(self, paths: list[str], resolved: T.StructType) -> DataFrame:
        """Distributed Lance v2 base-file scan (op 6 — reference
        crates/core/src/file_group/base_file/lance.rs:56-271 via the
        lance-file crate; here the pure-python ``lance/reader.py``
        decoder). Paths are shipped to executors and each decodes its
        files locally into Arrow batches cast to the resolved schema —
        per-file casts absorb schema evolution (extra columns dropped,
        missing columns null-backfilled), the same conformance the
        connector applies to parquet bases."""
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(resolved)
        from hudi_rs_spark.write.ddl import rename_chain

        opts = self.storage_options
        renames = rename_chain(self.config.props) or None
        n = min(len(paths), self.spark.sparkContext.defaultParallelism) or 1
        paths_df = self.spark.createDataFrame(
            [(p,) for p in paths],
            T.StructType([T.StructField("path", T.StringType())]),
        ).repartition(n)

        def decode(batches):
            from hudi_rs_spark.lance.reader import LanceFile
            from hudi_rs_spark.sources.pyds import _conform_table

            for batch in batches:
                for path in batch.column("path").to_pylist():
                    tbl = _conform_table(
                        LanceFile.from_path(path, opts).to_table(), target,
                        renames=renames,
                    )
                    if len(tbl):
                        yield from tbl.to_batches()

        return paths_df.mapInArrow(decode, resolved)

    def _restore_partition_columns(self, df, slices, filters):
        """hoodie.datasource.write.drop.partition.columns=true support:
        the partition columns are NOT in the data files, so the plain
        scan yields them as nulls. Two obligations (reference
        `options_for_file_group`, table/mod.rs:725-753):

        1. STRIP partition-column filters from the post-scan residual —
           the partition pruner already enforced them at file level, and
           evaluating them against null columns would wrongly drop every
           row (the reference strips for the same reason: its per-slice
           reader validates filter columns against the batch schema).
        2. RESTORE the values from the partition paths (beyond the
           reference, which leaves them to the engine): a broadcast join
           from `_hoodie_partition_path` to the pruner-parsed typed
           values — O(partitions) driver work, no extra scan.

        Returns (df, residual_filters)."""
        pf = self.config.partition_fields
        if not (self.config.drops_partition_columns and pf):
            return df, filters
        pnames = set(pf)
        remaining = [f for f in filters if f.field not in pnames]
        restorable = set(pf) & set(df.columns)
        if "_hoodie_partition_path" not in df.columns or not restorable:
            return df, remaining
        pruner = PartitionPruner(
            self.get_partition_schema(),
            [],
            self.config.hive_style_partitioning,
            self.config.partition_path_url_encoded,
        )
        rows = []
        for p in sorted({s.partition_path for s in slices}):
            try:
                vals = pruner.parse_path(p)
            except (ValueError, KeyError):
                return df, remaining  # unparseable layout: leave nulls
            rows.append((p, *[str(vals[n]) for n in pf]))
        if not rows:
            return df, remaining
        mapping = self.spark.createDataFrame(
            rows, ["__pp"] + [f"__pv_{n}" for n in pf]
        )
        out = df.join(
            F.broadcast(mapping),
            df["_hoodie_partition_path"] == mapping["__pp"],
            "left",
        )
        replaced = [
            (
                F.coalesce(df[c], F.col(f"__pv_{c}").cast(df.schema[c].dataType)).alias(c)
                if c in restorable
                else df[c]
            )
            for c in df.columns
        ]
        # Restore succeeded: the partition columns are now evaluable, so
        # KEEP their filters in the residual. The pruner fails open on
        # unparseable paths / uncomparable values, so file-level pruning
        # alone may not have enforced them — stripping here would return
        # rows the filter should exclude. Only filters on non-restorable
        # partition columns (absent from the projection) stay stripped.
        residual = remaining + [
            f for f in filters if f.field in pnames and f.field in restorable
        ]
        return out.select(*replaced), residual

    def _stats_prune(self, slices, filters, options):
        """File-level min/max skip — ONLY when no log files will be
        read: log rows can contradict base stats (safety gate,
        table/mod.rs:485-491).

        Stats come from the MDT column_stats partition when present (one
        tiny HFile slice read for ALL files — O(partitions) driver work)
        and fall back to per-file parquet footer reads (O(candidate
        files)) otherwise."""
        if not filters:
            return slices
        base_only = options.use_read_optimized_mode or not any(
            s.has_log_files for s in slices
        )
        if not base_only:
            return slices
        from hudi_rs_spark.plans.file_pruner import should_include_file

        mdt_stats: dict[str, dict[str, tuple]] = {}
        if self.listing != "direct":
            from hudi_rs_spark.metadata import column_stats as cstats

            if cstats.has_column_stats_partition(self.config):
                try:
                    mdt_stats = cstats.read_column_stats(
                        self.base_path, {f.field for f in filters}
                    )
                except Exception:
                    if self.listing == "mdt":
                        raise
                    mdt_stats = {}

        out = []
        for s in slices:
            if s.base_file is None:
                out.append(s)  # log-only slice: no footer/MDT stats, keep
                continue
            stats = mdt_stats.get(s.base_file.file_name)
            if stats is None:
                from hudi_rs_spark.plans.file_pruner import parquet_footer_stats

                path = os.path.join(self.base_path, s.base_file_relative_path())
                try:
                    stats, s.num_records = parquet_footer_stats(path)
                except Exception:
                    out.append(s)  # unreadable stats -> keep
                    continue
            # attach the loaded stats to the slice (reference parity:
            # HudiFileSlice.base_file_column_stats is populated exactly
            # when pruning loaded statistics, _internal.pyi:211-223)
            s.column_stats = stats
            if should_include_file(stats, filters):
                out.append(s)
        return out

    def compute_table_stats(self, exact: bool | None = None) -> tuple[int, int]:
        """(est_rows, est_bytes) for the current snapshot — op 23.

        Exact mode reads every footer (O(files) — fine for small tables,
        and strictly better when affordable). The sampled mode is the
        reference's estimator (statistics/estimator.rs:30-88): listed
        on-disk sizes x avg row size sampled from ONE footer — O(1)
        driver reads, which is what survives 10^5 files. Default: exact
        up to 64 files, sampled beyond."""
        slices = self.get_file_slices()
        if exact is None:
            exact = len(slices) <= 64
        # log-only slices have no base footer; like the reference, the
        # row estimate counts base num_records only (reader-spec.md §4)
        slices = [s for s in slices if s.base_file is not None]
        paths = [
            os.path.join(self.base_path, s.base_file_relative_path()) for s in slices
        ]
        if exact or not slices:
            from hudi_rs_spark.plans.file_pruner import estimate_table_stats

            return estimate_table_stats(paths)
        import pyarrow.parquet as pq

        total_bytes = sum(s.base_file.size for s in slices)
        sample = max(slices, key=lambda s: s.base_file.size)
        sample_path = os.path.join(self.base_path, sample.base_file_relative_path())
        if sample_path.endswith(".lance"):
            from hudi_rs_spark.lance.reader import LanceFile

            sample_rows = LanceFile.num_rows_from_path(
                sample_path, self.storage_options
            )
        else:
            with self.storage.open_seekable(sample_path) as f:
                sample_rows = pq.ParquetFile(f).metadata.num_rows
        sample_bytes = sample.base_file.size or self.storage.size(sample_path)
        if sample_rows <= 0 or sample_bytes <= 0:
            return 0, total_bytes
        est_rows = round(total_bytes * (sample_rows / sample_bytes))
        return est_rows, total_bytes

    def point_lookup(
        self, keys: list[str], options: HudiReadOptions | None = None
    ) -> DataFrame:
        """Rows for the given record keys via the MDT record index: the
        index maps key -> (partition, file_group), so the scan touches
        ONLY those file slices (plus the key filter) instead of the whole
        table. Requires hoodie.table.metadata.partitions to include
        record_index — except bucket-indexed tables
        (hoodie.index.type=BUCKET), where the key's file group is a pure
        hash (write/bucket.py): the lookup prunes to the keys' bucket
        groups with no index read at all."""
        from hudi_rs_spark.metadata.record_index import (
            has_record_index_partition,
            read_record_index,
        )
        from hudi_rs_spark.write.bucket import is_bucket_table

        options = options or HudiReadOptions()
        if not has_record_index_partition(self.config):
            if is_bucket_table(self.config.props):
                return self._bucket_point_lookup(keys, options)
            raise ValueError("table has no record_index metadata partition")
        locations = read_record_index(self.base_path, set(keys))
        targets = set(locations.values())
        slices = [
            s
            for s in self.get_file_slices()
            if (s.partition_path, s.file_id) in targets
        ]
        df = self._execute_slices(slices, None, options)
        if "_hoodie_record_key" in df.columns:
            return df.filter(F.col("_hoodie_record_key").isin(list(keys)))
        # hoodie.populate.meta.fields=false: no materialized key column —
        # rebuild the predicate from the configured record-key field
        key_fields = self.config.record_key_fields
        if len(key_fields) == 1 and key_fields[0] in df.columns:
            return df.filter(F.col(key_fields[0]).isin(list(keys)))
        raise ValueError(
            "point_lookup on a table without populated meta fields needs a "
            "single hoodie.table.recordkey.fields column present in the "
            f"schema; got {key_fields!r}"
        )

    def _bucket_point_lookup(
        self, keys: list[str], options: HudiReadOptions
    ) -> DataFrame:
        """Point lookup on a bucket-indexed table: bucket(key) =
        pmod(xxhash64(key), N) names the only file group (per partition)
        that can hold the key — descending the split trie when the
        bucket was rescaled (write/bucket.py::split_bucket) — so the
        scan prunes to the keys' bucket groups, zero index I/O. The hash
        is computed driver-side (functions/xxhash.py — bit-identical to
        Spark's xxhash64, parity-pinned in tests), so planning costs
        pure CPU on the key list, no Spark job."""
        from hudi_rs_spark.write.bucket import (
            num_buckets,
            parse_bucket_leaf,
            parse_splits,
            route_key,
        )

        n = num_buckets(self.config.props)
        splits = parse_splits(self.config.props)
        wanted = {route_key(k, n, splits) for k in keys}
        slices = [
            s
            for s in self.get_file_slices()
            if parse_bucket_leaf(s.file_id, n) in wanted
        ]
        if not slices:
            return self.spark.createDataFrame([], self.get_schema())
        df = self._execute_slices(slices, None, options)
        if "_hoodie_record_key" in df.columns:
            return df.filter(F.col("_hoodie_record_key").isin(list(keys)))
        key_fields = self.config.record_key_fields
        if len(key_fields) == 1 and key_fields[0] in df.columns:
            return df.filter(
                F.col(key_fields[0]).cast("string").isin([str(k) for k in keys])
            )
        raise ValueError(
            "bucket point lookup without populated meta fields needs a "
            "single record-key column present in the schema"
        )

    def lookup_by_secondary_key(
        self,
        index_name: str,
        values: list[str],
        options: HudiReadOptions | None = None,
    ) -> DataFrame:
        """Rows whose indexed column equals one of ``values``, via the
        secondary index -> record keys -> record-index point lookup.
        ``index_name`` may be the short index name or the full
        ``secondary_index_...`` partition name."""
        from hudi_rs_spark.metadata.secondary_index import (
            SECONDARY_INDEX_PREFIX,
            list_secondary_indexes,
            read_secondary_index,
        )

        partition = (
            index_name
            if index_name.startswith(SECONDARY_INDEX_PREFIX)
            else SECONDARY_INDEX_PREFIX + index_name
        )
        if partition not in list_secondary_indexes(self.config):
            raise ValueError(f"no secondary index partition {partition!r}")
        idx = read_secondary_index(self.base_path, partition, set(values))
        keys = sorted({k for ks in idx.values() for k in ks})
        if not keys:
            return self.spark.createDataFrame([], self.get_schema())
        df = self.point_lookup(keys, options)
        # the index is a pruning structure, not an authority: a
        # value-changing update leaves the old value's cell behind
        # (write/secondary_index.py docstring), so re-check the indexed
        # column on the fetched rows — stale cells then cost extra slice
        # reads, never wrong rows
        col = partition.removeprefix(SECONDARY_INDEX_PREFIX)
        if col in df.columns:
            df = df.filter(F.col(col).cast("string").isin(list(values)))
        return df

    def read_where_expression(
        self,
        name: str,
        op: str,
        value,
        options: HudiReadOptions | None = None,
    ) -> DataFrame:
        """Expression-index-pruned read (write/expr_index.py — Hudi
        1.0's expr_index_* partitions): drop every file slice whose
        indexed [min, max] interval of the expression DISPROVES
        ``<expr> <op> <value>``, then apply the expression as a residual
        row filter on the survivors. Fail-open: slices without an index
        entry (written after the build) and slices carrying log files
        (whose updates the base-file stats cannot see) always survive —
        index staleness costs extra reads, never wrong rows."""
        from hudi_rs_spark.metadata.column_stats import read_column_stats
        from hudi_rs_spark.write.expr_index import (
            PROP_PREFIX,
            expr_index_partition,
        )

        expr = self.config.props.get(PROP_PREFIX + name)
        if expr is None:
            raise ValueError(f"no expression index {name!r} on this table")
        if op not in ("=", "<", "<=", ">", ">="):
            raise ValueError(f"unsupported expression-index op {op!r}")
        stats = read_column_stats(
            self.base_path, partition=expr_index_partition(name)
        )

        def may_match(s) -> bool:
            if s.base_file is None or s.log_files:
                return True
            cols = stats.get(s.base_file.file_name)
            if not cols:
                return True
            (mn, mx) = next(iter(cols.values()))
            try:
                if op == "=":
                    return mn <= value <= mx
                if op == "<":
                    return mn < value
                if op == "<=":
                    return mn <= value
                if op == ">":
                    return mx > value
                return mx >= value
            except TypeError:
                return True  # incomparable literal/stat types: fail open

        slices = [s for s in self.get_file_slices() if may_match(s)]
        options = options or HudiReadOptions()
        if not slices:
            df = self.spark.createDataFrame([], self.get_schema())
        else:
            df = self._execute_slices(slices, None, options)
        if isinstance(value, bool):
            lit = "true" if value else "false"
        elif isinstance(value, str):
            lit = "'" + value.replace("'", "''") + "'"
        else:
            lit = repr(value)
        return df.filter(F.expr(f"({expr}) {op} {lit}"))

    def read_incremental(
        self,
        start_timestamp: str | None,
        end_timestamp: str | None = None,
        options: HudiReadOptions | None = None,
    ) -> DataFrame:
        """Rows changed in (start, end]: latest in-range state per key
        (reader-spec.md:299-301). File groups come from the in-range
        commits' metadata (timeline/mod.rs:333-386) minus replaced groups;
        a per-row commit-time filter bounds the result
        (file_group/reader.rs:652-701)."""
        options = options or HudiReadOptions()
        # bounds accept the same forms as as_of (hudi-ts / epoch / RFC3339)
        from hudi_rs_spark.timeline.timestamps import to_hudi_timestamp

        if start_timestamp is not None:
            start_timestamp = to_hudi_timestamp(start_timestamp, self.config.timezone)
        if end_timestamp is not None:
            end_timestamp = to_hudi_timestamp(end_timestamp, self.config.timezone)
        end = end_timestamp or self.timeline.latest_commit_timestamp()
        instants = self.timeline.instants_in_range(start_timestamp, end)
        touched: set[tuple[str, str]] = set()
        for i in instants:
            meta = self.timeline.metadata_for(i)
            for ws in meta.write_stats:
                touched.add((ws.partition_path, ws.file_id))
        filters = [Filter(*f) for f in options.filters]
        all_slices = self.get_file_slices(end, filters)
        slices = [
            s for s in all_slices if (s.partition_path, s.file_id) in touched
        ]
        df = self._execute_slices(slices, end, options, start_exclusive=start_timestamp)
        df, filters = self._restore_partition_columns(df, slices, filters)
        if "_hoodie_commit_time" in df.columns:
            if start_timestamp:
                df = df.filter(F.col("_hoodie_commit_time") > F.lit(start_timestamp))
            if end:
                df = df.filter(F.col("_hoodie_commit_time") <= F.lit(end))
        df = apply_filters(df, filters)
        if options.projection:
            df = df.select(*options.projection)
        return df

    def cdc_log_groups(
        self, start_timestamp: str | None, end: str | None
    ) -> dict[tuple[str, str], list[str]]:
        """Plan a CDC window read: (partition, file_id) -> sorted relative
        log paths that may hold in-window CDC blocks. Sourced from the
        in-window commits' write stats (the files those commits actually
        wrote) UNIONED with the as-of-end slice log lists — the slice
        view alone loses pre-compaction log files (a compaction inside
        the window swaps the slice to a new base and drops old logs),
        silently truncating the change feed. Commit metadata is the
        durable record of what was written (ref: timeline commit
        avro/json partitionToWriteStats)."""
        groups: dict[tuple[str, str], set[str]] = {}
        for s in self.get_file_slices(end):
            key = (s.partition_path, s.file_id)
            groups.setdefault(key, set()).update(s.log_file_relative_paths())
        for i in self.timeline.instants_in_range(start_timestamp, end):
            meta = self.timeline.metadata_for(i)
            for ws in meta.write_stats:
                rel = ws.path.lstrip("/")
                base_name = os.path.basename(rel)
                if ".log." not in base_name and ".cdc." not in base_name:
                    continue  # base files carry no CDC blocks
                # no per-file existence HEAD here: on an object store that
                # is O(in-window log files) sequential driver round-trips.
                # Cleaned-since files surface as FileNotFoundError at read
                # time and are skipped there (the same race exists with a
                # check anyway).
                groups.setdefault((ws.partition_path, ws.file_id), set()).add(rel)
        return {k: sorted(v) for k, v in groups.items()}

    def read_changes(
        self,
        start_timestamp: str | None,
        end_timestamp: str | None = None,
    ) -> DataFrame:
        """CDC-format incremental query — the analog of Hudi's
        ``hoodie.datasource.query.incremental.format=cdc``: typed change
        rows (op i/u/d, before/after JSON images) decoded from CDC log
        blocks (type 6) written by a cdc-enabled writer, bounded to the
        commit window (start, end]. The reference reads CDC blocks only
        as plain record data (scanner.rs:182,223); this surfaces their
        payload. Tables that never wrote CDC blocks yield an empty
        frame — use ``read_changes_derived`` there (before/after diffed
        from consecutive commit snapshots); the row-level incremental
        query stays ``read_incremental``.

        Blocks pass the same validity gates as data blocks (rollbacks,
        uncommitted, archival rules), so a rolled-back commit's changes
        never leak into the feed. Decode runs on executors, one CDC log
        group per slice descriptor through the same kernel as snapshot
        reads (``sources/pyds.py::_read_cdc_slice``): the feed never
        materializes on the driver."""
        from hudi_rs_spark.sources.pyds import (
            HudiPyDataSource,
            _cdc_partitions,
            read_slices,
        )
        from hudi_rs_spark.timeline.timestamps import to_hudi_timestamp

        if start_timestamp is not None:
            start_timestamp = to_hudi_timestamp(start_timestamp, self.config.timezone)
        if end_timestamp is not None:
            end_timestamp = to_hudi_timestamp(end_timestamp, self.config.timezone)
        schema = HudiPyDataSource.CDC_SCHEMA
        parts = _cdc_partitions(self, start_timestamp, end_timestamp, schema.json())
        if not parts:
            return self.spark.createDataFrame([], schema)
        return read_slices(self.spark, parts)

    def read_changes_derived(
        self,
        start_timestamp: str | None,
        end_timestamp: str | None = None,
        max_commits: int = 256,
        checkpoint_every: int = 16,
    ) -> DataFrame:
        """Change feed for tables WITHOUT CDC log blocks: derive op /
        before / after by diffing consecutive commit snapshots. Neither
        the reference nor its incremental query can produce before-images
        on such tables — this closes that gap using the snapshot engine
        that already exists.

        Per in-window commit: read the touched file groups (from the
        commit's write stats — never the whole table) as-of that commit
        and as-of the previous commit, full-outer join on the record key,
        and classify: only-new -> 'i', only-old -> 'd', value change ->
        'u' (unchanged keys drop out). Images are JSON over the data
        columns, matching the CDC writer's shape.

        Scale: cost ∝ commits-in-window × touched-group bytes, each diff
        one key-shuffle join; the CDC-block path (read_changes) stays the
        cheap primary when the writer records change blocks. Two bounds
        keep the driver-built plan sane on long windows: the window is
        capped at ``max_commits`` per call (loud error — page through
        sub-windows instead of building one thousand-join plan), and the
        accumulating union is lineage-truncated with a lazy
        localCheckpoint every ``checkpoint_every`` commits so plan depth
        stays O(checkpoint_every) no matter the window length."""
        from hudi_rs_spark.timeline.timestamps import to_hudi_timestamp

        if start_timestamp is not None:
            start_timestamp = to_hudi_timestamp(start_timestamp, self.config.timezone)
        if end_timestamp is not None:
            end_timestamp = to_hudi_timestamp(end_timestamp, self.config.timezone)
        from hudi_rs_spark.sources.pyds import HudiPyDataSource

        end = end_timestamp or self.timeline.latest_commit_timestamp()
        schema = HudiPyDataSource.CDC_SCHEMA
        window = self.timeline.instants_in_range(start_timestamp, end)
        if not window:
            return self.spark.createDataFrame([], schema)
        if len(window) > max_commits:
            raise ValueError(
                f"derived change feed window spans {len(window)} commits, "
                f"over the max_commits={max_commits} bound — page through "
                "smaller (start, end] sub-windows (each commit's diff is "
                "independent, so results concatenate), or raise max_commits"
            )
        all_commits = [i.timestamp for i in self.timeline.instants_as_of(end)]
        options = HudiReadOptions()
        if self.config.populates_meta_fields:
            key = "_hoodie_record_key"
        else:
            # no materialized key column: diff on the configured record
            # key (same fallback as point_lookup)
            key_fields = self.config.record_key_fields
            if len(key_fields) != 1:
                raise ValueError(
                    "derived change feed needs _hoodie_record_key or a "
                    f"single record-key field, got {key_fields}"
                )
            key = key_fields[0]
        parts: list[DataFrame] = []
        for inst in window:
            meta = self.timeline.metadata_for(inst)
            touched = {(ws.partition_path, ws.file_id) for ws in meta.write_stats}
            # a replacecommit's write stats list only the NEW groups; the
            # before-image lives in the groups it REPLACED. Including them
            # makes clustering a no-op in the feed (before == after drops
            # out) and insert_overwrite emit 'd' for removed keys instead
            # of re-inserting the whole rewritten data set.
            replaced = {
                (p, fid)
                for p, ids in meta.replaced_file_ids.items()
                for fid in ids
            }
            if not touched and not replaced:
                continue
            prior = [c for c in all_commits if c < inst.timestamp]
            prev_ts = max(prior) if prior else None

            def _snap(as_of, groups):
                if as_of is None:
                    return None
                slices = [
                    s
                    for s in self.get_file_slices(as_of)
                    if (s.partition_path, s.file_id) in groups
                ]
                if not slices:
                    return None
                return self._execute_slices(slices, as_of, options)

            new_df = _snap(inst.timestamp, touched)
            old_df = _snap(prev_ts, touched | replaced)
            if new_df is None and old_df is None:
                continue  # e.g. delete_partition of never-written groups
            # image columns = union of BOTH sides' data columns; a side
            # missing a column (schema evolved between prev_ts and this
            # instant) null-fills it instead of raising AnalysisException
            data_cols = sorted(
                {
                    c
                    for df in (new_df, old_df)
                    if df is not None
                    for c in df.columns
                    if not c.startswith("_hoodie_")
                }
            )

            def _img(df):
                return F.to_json(
                    F.struct(
                        *[
                            (
                                F.col(c)
                                if c in df.columns
                                else F.lit(None).cast("string")
                            ).alias(c)
                            for c in data_cols
                        ]
                    )
                )

            def _side(df, alias):
                if df is None:
                    return self.spark.createDataFrame(
                        [],
                        T.StructType(
                            [
                                T.StructField("__k", T.StringType(), True),
                                T.StructField(alias, T.StringType(), True),
                            ]
                        ),
                    )
                return df.filter(F.col(key).isNotNull()).select(
                    F.col(key).alias("__k"), _img(df).alias(alias)
                )

            n = _side(new_df, "after")
            o = _side(old_df, "before")
            j = n.join(o, "__k", "full_outer")
            op = (
                F.when(F.col("before").isNull(), F.lit("i"))
                .when(F.col("after").isNull(), F.lit("d"))
                .otherwise(F.lit("u"))
            )
            parts.append(
                j.filter(
                    F.col("before").isNull()
                    | F.col("after").isNull()
                    | (F.col("before") != F.col("after"))
                ).select(
                    F.lit(inst.timestamp).alias("commit_time"),
                    op.alias("op"),
                    F.lit(None).cast("string").alias("ts_ms"),
                    F.col("before"),
                    F.col("after"),
                )
            )
        if not parts:
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        since_checkpoint = 0
        for p in parts[1:]:
            out = out.unionByName(p)
            since_checkpoint += 1
            if since_checkpoint >= checkpoint_every:
                # lazy: truncates the accumulated union's lineage without
                # forcing a job now — plan depth stays O(checkpoint_every)
                out = out.localCheckpoint(eager=False)
                since_checkpoint = 0
        return out

    # -- physical plan builders ---------------------------------------
    def _execute_slices(
        self,
        slices: list[FileSlice],
        as_of: str | None,
        options: HudiReadOptions,
        start_exclusive: str | None = None,
    ) -> DataFrame:
        """Base-only slices (COW, read-optimized, MOR slices without log
        files) scan through Spark's native parquet reader. Log-bearing
        MOR slices decode and merge in the per-slice Arrow kernel
        (``sources/pyds.py::_read_slice``, one ``mapInArrow`` over slice
        descriptors): the merge scope is the file slice, as in the
        reference (record_merger.rs runs per read_file_slice), so no
        shuffle is needed. A key re-inserted into a second file group
        after a rollback keeps both rows (pinned by table_read_tests.rs
        test_nonpartitioned_rollback_mor_snapshot). Incremental reads
        bound base rows and log blocks to (start_exclusive, as_of]
        BEFORE the merge (file_group/reader.rs:169-177), so an
        out-of-range row cannot beat an in-range one and make the key
        vanish."""
        from hudi_rs_spark.sources.pyds import _slice_partitions, read_slices

        # explicit schema: no footer inference job, and old base files of an
        # evolved table read with the latest column set (nulls backfilled);
        # type-evolved tables (heterogeneous physical types) scan per
        # schema epoch with casts. Log-only slices (no base file — beyond
        # the reference, which rejects them) merge against an empty base.
        resolved = self._resolve_schema(slices)
        merge_logs = (
            not options.use_read_optimized_mode
            and self.config.table_type != TableType.COPY_ON_WRITE
        )
        log_slices = [s for s in slices if merge_logs and s.has_log_files]
        based = [
            s for s in slices
            if s.base_file is not None and not (merge_logs and s.has_log_files)
        ]
        parts: list[DataFrame] = []
        if based:
            parts.append(self._scan_base_files(based, resolved))
        if log_slices:
            parts.append(
                read_slices(
                    self.spark,
                    _slice_partitions(
                        self, log_slices, as_of, False, start_exclusive, resolved
                    ),
                )
            )
        if not parts:
            return self.spark.createDataFrame([], resolved)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class HudiFileGroupReader:
    """Per-slice reader bound to one table's configs — the reference's
    ``HudiFileGroupReader`` (python/hudi/_internal.pyi:102-170,
    crates/core/src/file_group/reader.rs). Construct directly from a base
    URI, or via ``HudiTable.create_file_group_reader_with_options``.

    ``default_options`` apply to every read unless a call passes its own;
    ``storage_options`` override the table's storage settings."""

    def __init__(
        self,
        table_or_uri,
        default_options: "HudiReadOptions | None" = None,
        storage_options: dict | None = None,
    ):
        if isinstance(table_or_uri, HudiTable):
            self.table = table_or_uri
            if storage_options:
                # rebind: overridden credentials must win for this reader
                self.table = HudiTable(
                    table_or_uri.base_path,
                    table_or_uri._spark,
                    listing=table_or_uri.listing,
                    storage_options=storage_options,
                )
        else:
            self.table = HudiTable(
                str(table_or_uri), storage_options=storage_options
            )
        self.default_options = default_options

    @property
    def is_metadata_table(self) -> bool:
        """Reference ``is_metadata_table`` (_internal.pyi:166-170)."""
        return self.table.is_metadata_table

    def _opts(self, options):
        return options or self.default_options

    def read_file_slice(self, file_slice, options=None) -> DataFrame:
        return self.table.read_file_slice(file_slice, self._opts(options))

    def read_file_slice_from_paths(
        self, base_file_path, log_file_paths=None, options=None
    ) -> DataFrame:
        return self.table.read_file_slice_from_paths(
            base_file_path, log_file_paths, self._opts(options)
        )

    def read_file_slice_stream(self, file_slice, options=None, batch_size=None):
        return self.table.read_file_slice_stream(
            file_slice, self._opts(options), batch_size
        )

    def read_file_slice_from_paths_stream(
        self, base_file_path, log_file_paths=None, options=None, batch_size=None
    ):
        return self.table.read_file_slice_from_paths_stream(
            base_file_path, log_file_paths, self._opts(options), batch_size
        )


def build_hudi_table(
    base_uri: str,
    hudi_options: dict | None = None,
    storage_options: dict | None = None,
    options: dict | None = None,
    spark: SparkSession | None = None,
) -> HudiTable:
    """Reference ``build_hudi_table`` (_internal.pyi:452-470): construct
    a table from a base URI plus mixed options — ``options`` entries are
    split by key prefix (``hoodie.`` -> hudi config overrides, everything
    else -> storage backend settings), then merged under the explicit
    dicts. Hudi overrides are applied on top of ``hoodie.properties``
    (last-writer-wins, the reference's register_hudi_options)."""
    hudi = dict(hudi_options or {})
    storage = dict(storage_options or {})
    for k, v in (options or {}).items():
        if k.startswith("hoodie."):
            hudi.setdefault(k, v)
        else:
            storage.setdefault(k, v)
    return HudiTable(
        base_uri,
        spark,
        storage_options=storage or None,
        hudi_overrides=hudi or None,
    )
