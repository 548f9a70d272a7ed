"""Write-path configuration: ``df.write.format("hudi_py")`` options.

Option names follow the public Hudi Spark datasource surface
(``hoodie.datasource.write.*`` with short aliases); the table-level
properties they initialize are exactly the keys the read side's
``HudiTableConfig`` (config/table_config.py) consumes, so a table
written here is planned/merged by the same rules as the reference's
golden fixtures. The reference itself is read-only (hudi-rs has no
writer); this surface is the write-side dual of its reader contract.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

META_COLS = (
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
)

# upsert routing columns attached by write/upsert.py's tagging join;
# stripped from the stored data columns by the task writer
TARGET_FILE_COL = "__hoodie_target_file_id"
TARGET_INSTANT_COL = "__hoodie_target_base_instant"
LOG_VERSION_COL = "__hoodie_log_version"
DELETE_COL = "_hoodie_is_deleted"  # public Hudi soft-delete marker field

INTERNAL_COLS = (TARGET_FILE_COL, TARGET_INSTANT_COL, LOG_VERSION_COL)

OP_INSERT = "insert"
OP_UPSERT = "upsert"
OP_INSERT_OVERWRITE = "insert_overwrite_table"
OP_INSERT_OVERWRITE_PARTITION = "insert_overwrite"  # dynamic: touched partitions only
OPERATIONS = (
    OP_INSERT, OP_UPSERT, OP_INSERT_OVERWRITE, OP_INSERT_OVERWRITE_PARTITION,
    "bulk_insert", "compact", "cluster", "clean", "rollback",
    "delete_partition", "alter_schema",
)


def new_instant() -> str:
    """17-digit Hudi commit timestamp (yyyyMMddHHmmssSSS, UTC)."""
    now = datetime.now(timezone.utc)
    return now.strftime("%Y%m%d%H%M%S") + f"{now.microsecond // 1000:03d}"


PARTIAL_UPDATE_PAYLOAD = (
    "org.apache.hudi.common.model.PartialUpdateAvroPayload"
)
AWS_DMS_PAYLOAD = "org.apache.hudi.payload.AWSDmsAvroPayload"
POSTGRES_DEBEZIUM_PAYLOAD = (
    "org.apache.hudi.common.model.debezium.PostgresDebeziumAvroPayload"
)
MYSQL_DEBEZIUM_PAYLOAD = (
    "org.apache.hudi.common.model.debezium.MySqlDebeziumAvroPayload"
)


def _normalize_payload_class(raw) -> str:
    v = str(raw or "").strip()
    if not v:
        return ""
    key = v.lower().replace("_", "")
    if key in ("partialupdate", "partialupdatepayload",
               "partialupdateavropayload"):
        return PARTIAL_UPDATE_PAYLOAD
    if key in ("awsdms", "awsdmspayload", "awsdmsavropayload"):
        return AWS_DMS_PAYLOAD
    if key in ("postgresdebezium", "postgresdebeziumavropayload"):
        return POSTGRES_DEBEZIUM_PAYLOAD
    if key in ("mysqldebezium", "mysqldebeziumavropayload"):
        return MYSQL_DEBEZIUM_PAYLOAD
    return v


def ops_delete_rule(payload_class: str) -> tuple[str, str] | None:
    """(op column name, delete marker) for CDC-ingest payloads that
    carry the source operation in a data column: AWS DMS emits ``Op``
    with ``D`` for deletes (AWSDmsAvroPayload checks exactly that);
    Debezium emits lowercase ``op`` with ``d``. None = the payload has
    no op-column semantics. Matching is case-insensitive on both the
    column name and the marker; inserts/updates (I/U/c/u/r) flow
    through the normal upsert path unchanged."""
    key = (payload_class or "").lower().replace("_", "")
    if "awsdms" in key:
        return ("Op", "D")
    if "debezium" in key:
        return ("op", "d")
    return None


def _normalize_concurrency_mode(raw) -> str:
    v = str(raw).strip().lower()
    if v in ("nbcc", "non_blocking_concurrency_control"):
        return "nbcc"
    if v in ("occ", "optimistic_concurrency_control",
             "single_writer", ""):
        return "occ"
    raise ValueError(
        f"unknown hoodie.write.concurrency.mode {raw!r}: expected "
        "OPTIMISTIC_CONCURRENCY_CONTROL or NON_BLOCKING_CONCURRENCY_CONTROL"
    )


def _opt(options: dict, *names, default=None):
    """Case-insensitive option lookup across aliases."""
    lowered = {str(k).lower(): v for k, v in options.items()}
    for n in names:
        if n.lower() in lowered:
            return lowered[n.lower()]
    return default


@dataclass
class WriteConfig:
    """Resolved, serializable write configuration (driver builds it once;
    executors receive it inside the writer instance)."""

    path: str
    table_name: str = "table"
    record_key_fields: tuple[str, ...] = ("id",)
    precombine_field: str | None = None
    partition_fields: tuple[str, ...] = ()
    hive_style: bool = True
    table_type: str = "COPY_ON_WRITE"
    table_version: int = 6
    operation: str = OP_INSERT
    instant: str = field(default_factory=new_instant)
    # True when the caller pinned the instant explicitly (tests, retry
    # harnesses): claim_instant then refuses to auto-regenerate it on a
    # same-millisecond timestamp collision and fails loudly instead
    instant_pinned: bool = False
    max_rows_per_file: int = 1 << 22  # ~4M rows: ~128MB at ~32B/row
    # task-memory bound: a partition's buffered Arrow bytes roll into a
    # base file at this threshold even below max_rows_per_file, and the
    # task's TOTAL buffered bytes are capped at 2x this by flushing the
    # largest partition — a skewed partition inside one task can not
    # grow an unbounded buffer (Hudi's small-file/size-rolled analog)
    max_buffer_bytes: int = 256 << 20
    # inline growth management (write/maintenance.py, Hudi's
    # hoodie.keep.max/min.commits + metadata.compact.max.delta.commits):
    # 0 disables. Checked after every successful commit so streaming
    # sinks stay bounded without operator action.
    keep_max_commits: int = 30
    keep_min_commits: int = 20
    mdt_compact_max_deltas: int = 10
    # base-file format for INSERTED file groups: parquet (default) or
    # lance (v9 tables only — the version that introduced Lance bases);
    # readers route by file extension, services rewrite in parquet
    base_file_format: str = "parquet"
    # change-data-capture: tagged upsert/delete flushes (and new-group
    # inserts) also append type-6 CDC blocks so read_changes / the
    # connector's query.type=cdc serve a typed change feed; persisted in
    # hoodie.table.cdc.enabled so appends keep the feed complete
    emit_cdc: bool = False
    # record index type (hoodie.index.type): "" = lookup-based tagging
    # (record index / bloom tier / meta-column scan); "bucket" = hash
    # buckets — every record key maps to bucket xxhash64(key) % N, each
    # bucket is ONE file group per partition, and upsert tagging is a
    # pure map-side hash (no index read, no tag join). Pinned at table
    # creation (hoodie.bucket.index.num.buckets is immutable).
    index_type: str = ""
    bucket_index_num_buckets: int = 0
    # write concurrency mode (hoodie.write.concurrency.mode): "occ"
    # fails any commit whose touched file groups overlap a concurrent
    # completed commit; "nbcc" (Hudi 1.0's
    # NON_BLOCKING_CONCURRENCY_CONTROL, v8+ MOR only) lets concurrent
    # LOG-APPEND deltacommits to the same file group all land — the
    # readers' merge resolves them by ordering field + instant order
    # (the reference's completion-time machinery,
    # file_group/builder.rs:69-154, merge/ordering.rs:36-46). Base
    # rewrites (compaction) and replacements (clustering/overwrite)
    # still conflict in either mode.
    concurrency_mode: str = "occ"
    # record payload class (hoodie.datasource.write.payload.class /
    # shorthand payload.class=partial_update): persisted as
    # hoodie.compaction.payload.class like Hudi proper. The partial
    # payload makes upserts SPARSE — an update row may carry only the
    # key/ordering columns plus the columns it changes; readers fill the
    # rest from older versions (sources/pyds.py::_merge_slice_table).
    payload_class: str = ""
    # post-commit notification sink (write/callbacks.py — the analog of
    # hoodie.write.commit.callback.*): append one JSON event line per
    # published instant; persisted as a table property when set at
    # creation so services fire it too
    callback_file: str = ""
    # automatic cleaning (hoodie.clean.automatic + hoodie.cleaner.*):
    # run the cleaner inline after commits. Opt-in here (Hudi defaults
    # it on) because this is an embedded single-writer engine where
    # destructive reclamation stays explicit unless asked for;
    # persisted as table properties so appends/services inherit.
    clean_automatic: bool = False
    cleaner_policy: str = ""
    clean_retain_commits: int = 10
    clean_retain_file_versions: int = 3
    clean_retain_hours: float = 168.0
    # inline compaction (hoodie.compact.inline +
    # hoodie.compact.inline.max.delta.commits): compact after every
    # N-th deltacommit since the last compaction — the classic MOR
    # read-amplification bound; persisted so appends inherit
    compact_inline: bool = False
    compact_inline_max_deltas: int = 5
    # timestamp-based key generator (hoodie.keygen.timebased.*): the
    # single partition field is a timestamp SOURCE column; partition
    # paths are its formatted value (plans/timestamp_keygen.py — the
    # read side already prunes through the same transform)
    keygen_timestamp_type: str = ""
    keygen_output_format: str = ""
    keygen_input_format: str = ""
    emit_metadata: bool = False
    emit_column_stats: bool = False
    emit_bloom_filters: bool = False
    emit_record_index: bool = False
    record_index_shards: int = 4
    secondary_index_columns: tuple[str, ...] = ()
    # backend settings for the table's URL scheme (endpoint/credentials
    # overrides), mirroring the reader's ``storage.<key>`` options —
    # a hashable tuple so the config stays serializable to executors,
    # which resolve their own Storage backend from these
    storage_options: tuple[tuple[str, str], ...] = ()

    def storage_dict(self) -> dict | None:
        return dict(self.storage_options) if self.storage_options else None

    def __post_init__(self):
        if self.operation not in OPERATIONS:
            raise ValueError(
                f"unsupported write operation {self.operation!r}; one of {OPERATIONS}"
            )
        if self.table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise ValueError(f"bad table type {self.table_type!r}")
        if self.table_version not in (6, 8, 9):
            raise ValueError(f"unsupported table version {self.table_version}")
        if self.base_file_format not in ("parquet", "lance"):
            raise ValueError(
                f"unsupported base file format {self.base_file_format!r}"
            )
        if self.index_type not in ("", "bucket"):
            raise ValueError(
                f"unsupported hoodie.index.type {self.index_type!r} "
                "(supported: BUCKET)"
            )
        if self.index_type == "bucket":
            if self.table_type != "MERGE_ON_READ":
                raise ValueError(
                    "the bucket index requires a MERGE_ON_READ table "
                    "(bucket-routed writes are log appends)"
                )
            if self.bucket_index_num_buckets < 1:
                raise ValueError(
                    "hoodie.index.type=BUCKET requires "
                    "hoodie.bucket.index.num.buckets >= 1"
                )
        if self.base_file_format == "lance" and self.table_version < 9:
            raise ValueError(
                "lance base files require table version 9 (the version "
                "that introduced them)"
            )
        if self.emit_metadata and self.table_version < 8:
            raise ValueError(
                "metadata-table emission requires table version 8 "
                "(the read side only enables the MDT fast path on v8+)"
            )
        if self.emit_column_stats and not self.emit_metadata:
            raise ValueError(
                "column-stats emission rides in the metadata table; "
                "enable metadata.enable too"
            )
        if self.emit_bloom_filters and not self.emit_metadata:
            raise ValueError(
                "bloom-filter emission rides in the metadata table; "
                "enable metadata.enable too"
            )
        if self.emit_record_index and not self.emit_metadata:
            raise ValueError(
                "record-index emission rides in the metadata table; "
                "enable metadata.enable too"
            )
        if self.secondary_index_columns and not self.emit_record_index:
            raise ValueError(
                "secondary indexes resolve through the record index; "
                "enable metadata.recordindex.enable too"
            )
        if self.keygen_timestamp_type and self.keygen_output_format:
            if len(self.partition_fields) != 1:
                raise ValueError(
                    "timestamp keygen partitions on exactly ONE source "
                    f"field, got {list(self.partition_fields)}"
                )
            if "SSS" in self.keygen_output_format:
                raise ValueError(
                    "millisecond (SSS) output partition formats are "
                    "unsupported on the write side — partition at second "
                    "granularity or coarser"
                )
        if "partialupdate" in self.payload_class.lower().replace("_", ""):
            if self.table_type != "MERGE_ON_READ":
                raise ValueError(
                    "payload.class=PartialUpdateAvroPayload requires a "
                    "MERGE_ON_READ table: partial versions live in log "
                    "files and merge on read"
                )
            if not self.precombine_field:
                raise ValueError(
                    "the partial-update payload needs precombine.field: "
                    "column-wise fill is ordered by the ordering field"
                )
            if self.emit_cdc:
                raise ValueError(
                    "cdc.enabled is incompatible with the partial-update "
                    "payload: change blocks carry the written (sparse) "
                    "after-image, which would misreport the merged row"
                )

    @property
    def action(self) -> str:
        if self.operation in (OP_INSERT_OVERWRITE, OP_INSERT_OVERWRITE_PARTITION):
            return "replacecommit"
        return "deltacommit" if self.table_type == "MERGE_ON_READ" else "commit"

    def table_properties(self) -> dict[str, str]:
        props = {
            "hoodie.table.name": self.table_name,
            "hoodie.table.type": self.table_type,
            "hoodie.table.version": str(self.table_version),
            "hoodie.timeline.layout.version": "1" if self.table_version < 8 else "2",
            "hoodie.table.recordkey.fields": ",".join(self.record_key_fields),
            "hoodie.populate.meta.fields": "true",
        }
        if self.table_version >= 8:
            props["hoodie.timeline.path"] = "timeline"
        if self.table_version >= 9:
            # v9 renames/additions (fixture parity:
            # sample_table/cow/v9_txns_*/.hoodie/hoodie.properties)
            props["hoodie.table.format"] = "native"
            props["hoodie.table.initial.version"] = "9"
            if self.base_file_format != "parquet":
                props["hoodie.table.base.file.format"] = (
                    self.base_file_format.upper()
                )
        if self.emit_cdc:
            props["hoodie.table.cdc.enabled"] = "true"
            props["hoodie.table.cdc.supplemental.logging.mode"] = "data_after"
        if self.index_type == "bucket":
            props["hoodie.index.type"] = "BUCKET"
            props["hoodie.bucket.index.num.buckets"] = str(
                self.bucket_index_num_buckets
            )
        if self.payload_class:
            props["hoodie.compaction.payload.class"] = self.payload_class
        if self.callback_file:
            props["hoodie.write.commit.callback.file"] = self.callback_file
        if self.keygen_timestamp_type and self.keygen_output_format:
            props["hoodie.table.keygenerator.type"] = "TIMESTAMP"
            props["hoodie.keygen.timebased.timestamp.type"] = (
                self.keygen_timestamp_type.upper()
            )
            props["hoodie.keygen.timebased.output.dateformat"] = (
                self.keygen_output_format
            )
            if self.keygen_input_format:
                props["hoodie.keygen.timebased.input.dateformat"] = (
                    self.keygen_input_format
                )
        if self.compact_inline:
            props["hoodie.compact.inline"] = "true"
            props["hoodie.compact.inline.max.delta.commits"] = str(
                self.compact_inline_max_deltas
            )
        if self.clean_automatic:
            props["hoodie.clean.automatic"] = "true"
            props["hoodie.cleaner.commits.retained"] = str(
                self.clean_retain_commits
            )
            if self.cleaner_policy:
                props["hoodie.cleaner.policy"] = self.cleaner_policy
            props["hoodie.cleaner.fileversions.retained"] = str(
                self.clean_retain_file_versions
            )
            props["hoodie.cleaner.hours.retained"] = str(
                self.clean_retain_hours
            )
        if self.precombine_field:
            # v9 renamed precombine -> ordering fields; the reader's
            # ordering_fields property consumes either key
            key = (
                "hoodie.table.ordering.fields"
                if self.table_version >= 9
                else "hoodie.table.precombine.field"
            )
            props[key] = self.precombine_field
        if self.partition_fields:
            props["hoodie.table.partition.fields"] = ",".join(self.partition_fields)
            props["hoodie.datasource.write.hive_style_partitioning"] = (
                "true" if self.hive_style else "false"
            )
        if self.emit_metadata:
            parts = {"files"}
            if self.emit_column_stats:
                parts |= {"column_stats", "partition_stats"}
            if self.emit_bloom_filters:
                parts.add("bloom_filters")
            if self.emit_record_index:
                parts |= {"record_index"}
                # pin the shard count AT CREATION — inferring it later
                # from on-disk file names is unsafe (write/record_index.
                # existing_shard_count refuses), so never leave a window
                # where index files exist without the property
                props["hoodie.metadata.record.index.shards"] = str(
                    self.record_index_shards
                )
            for col in self.secondary_index_columns:
                parts.add(f"secondary_index_{col}")
            props["hoodie.table.metadata.partitions"] = ",".join(sorted(parts))
            props["hoodie.metadata.enable"] = "true"
        return props

    @classmethod
    def from_options(cls, options: dict, overwrite: bool = False) -> "WriteConfig":
        path = _opt(options, "path")
        if not path:
            raise ValueError("hudi_py write requires option 'path'")

        def fields_of(*names) -> tuple[str, ...]:
            v = _opt(options, *names, default="")
            return tuple(f.strip() for f in str(v).split(",") if f.strip())

        operation = str(
            _opt(options, "hoodie.datasource.write.operation", "operation",
                 default=OP_INSERT)
        ).lower()
        if overwrite:
            operation = OP_INSERT_OVERWRITE
        keys = fields_of(
            "hoodie.datasource.write.recordkey.field", "recordkey.field"
        ) or ("id",)
        return cls(
            path=str(path),
            table_name=str(_opt(options, "hoodie.table.name", "table.name",
                                default="table")),
            record_key_fields=keys,
            precombine_field=_opt(
                options, "hoodie.datasource.write.precombine.field",
                "precombine.field",
            ),
            partition_fields=fields_of(
                "hoodie.datasource.write.partitionpath.field",
                "partitionpath.field",
            ),
            hive_style=str(
                _opt(options, "hoodie.datasource.write.hive_style_partitioning",
                     "hive_style_partitioning", default="true")
            ).lower() == "true",
            table_type=str(
                _opt(options, "hoodie.datasource.write.table.type", "table.type",
                     default="COPY_ON_WRITE")
            ).upper(),
            table_version=int(
                _opt(options, "hoodie.table.version", "table.version", default="6")
            ),
            operation=operation,
            instant=str(_opt(options, "instant", default="") or new_instant()),
            instant_pinned=bool(_opt(options, "instant", default="")),
            max_rows_per_file=int(
                _opt(options, "max.rows.per.file", default=str(1 << 22))
            ),
            max_buffer_bytes=int(
                _opt(options, "max.buffer.bytes", default=str(256 << 20))
            ),
            keep_max_commits=int(
                _opt(options, "hoodie.keep.max.commits", "keep.max.commits",
                     default="30")
            ),
            keep_min_commits=int(
                _opt(options, "hoodie.keep.min.commits", "keep.min.commits",
                     default="20")
            ),
            mdt_compact_max_deltas=int(
                _opt(options, "hoodie.metadata.compact.max.delta.commits",
                     "metadata.compact.max.delta.commits", default="10")
            ),
            base_file_format=str(
                _opt(options, "hoodie.table.base.file.format",
                     "base.file.format", default="parquet")
            ).lower(),
            emit_cdc=str(
                _opt(options, "hoodie.table.cdc.enabled", "cdc.enabled",
                     default="false")
            ).lower() == "true",
            concurrency_mode=_normalize_concurrency_mode(
                _opt(options, "hoodie.write.concurrency.mode",
                     "concurrency.mode", default="occ")
            ),
            payload_class=_normalize_payload_class(
                _opt(options, "hoodie.datasource.write.payload.class",
                     "hoodie.compaction.payload.class", "payload.class",
                     default="")
            ),
            callback_file=str(
                _opt(options, "hoodie.write.commit.callback.file",
                     "commit.callback.file", default="")
            ),
            keygen_timestamp_type=str(
                _opt(options, "hoodie.keygen.timebased.timestamp.type",
                     "keygen.timestamp.type", default="")
            ),
            keygen_output_format=str(
                _opt(options, "hoodie.keygen.timebased.output.dateformat",
                     "keygen.output.dateformat", default="")
            ),
            keygen_input_format=str(
                _opt(options, "hoodie.keygen.timebased.input.dateformat",
                     "keygen.input.dateformat", default="")
            ),
            compact_inline=str(
                _opt(options, "hoodie.compact.inline", "compact.inline",
                     default="false")
            ).lower() == "true",
            compact_inline_max_deltas=int(
                _opt(options, "hoodie.compact.inline.max.delta.commits",
                     "compact.inline.max.delta.commits", default=5)
            ),
            clean_automatic=str(
                _opt(options, "hoodie.clean.automatic", "clean.automatic",
                     default="false")
            ).lower() == "true",
            cleaner_policy=str(
                _opt(options, "hoodie.cleaner.policy", "cleaner.policy",
                     default="")
            ),
            clean_retain_commits=int(
                _opt(options, "hoodie.cleaner.commits.retained",
                     "cleaner.commits.retained", default=10)
            ),
            clean_retain_file_versions=int(
                _opt(options, "hoodie.cleaner.fileversions.retained",
                     "cleaner.fileversions.retained", default=3)
            ),
            clean_retain_hours=float(
                _opt(options, "hoodie.cleaner.hours.retained",
                     "cleaner.hours.retained", default=168.0)
            ),
            index_type=str(
                _opt(options, "hoodie.index.type", "index.type", default="")
            ).lower(),
            bucket_index_num_buckets=int(
                _opt(options, "hoodie.bucket.index.num.buckets",
                     "bucket.index.num.buckets", default="0")
            ),
            emit_column_stats=str(
                _opt(options, "hoodie.metadata.index.column.stats.enable",
                     "metadata.columnstats.enable", default="false")
            ).lower() == "true",
            emit_bloom_filters=str(
                _opt(options, "hoodie.metadata.index.bloom.filter.enable",
                     "metadata.bloomfilter.enable", default="false")
            ).lower() == "true",
            emit_record_index=str(
                _opt(options, "hoodie.metadata.record.index.enable",
                     "metadata.recordindex.enable", default="false")
            ).lower() == "true",
            record_index_shards=int(
                _opt(options, "metadata.recordindex.shards", default="4")
            ),
            secondary_index_columns=fields_of(
                "hoodie.metadata.index.secondary.columns",
                "metadata.secondaryindex.columns",
            ),
            emit_metadata=str(
                _opt(options, "hoodie.metadata.enable", "metadata.enable",
                     default="false")
            ).lower() == "true",
            storage_options=tuple(
                sorted(
                    (str(k)[len("storage.") :], str(v))
                    for k, v in options.items()
                    if str(k).lower().startswith("storage.")
                    and str(k)[len("storage.") :]
                )
            ),
        )


def service_config(
    tc,
    path: str,
    instant: str,
    operation: str = "compact",
    pinned: bool = False,
) -> WriteConfig:
    """The WriteConfig a table service or metadata-only commit at
    ``instant`` runs with, from the table's loaded config ``tc``.
    ``pinned``: the caller chose ``instant``, so a claim fails on a
    timestamp collision instead of regenerating it."""
    return WriteConfig(
        path=path,
        table_name=tc.table_name,
        record_key_fields=tuple(tc.record_key_fields) or ("id",),
        precombine_field=(tc.ordering_fields or [None])[0],
        partition_fields=tuple(tc.partition_fields),
        table_type=tc.table_type.value,
        table_version=tc.table_version,
        instant=instant,
        instant_pinned=pinned,
        operation=operation,
    )
