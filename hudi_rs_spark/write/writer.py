"""Spark DataFrame writer for Hudi tables: ``df.write.format("hudi_py")``.

The write-side dual of the connector's reader (sources/pyds.py), built
on Spark 4's Python Data Source write API:

    df.write.format("hudi_py").option("path", p) \\
        .option("recordkey.field", "id").option("precombine.field", "ts") \\
        .mode("append").save()

Division of labor (the only scalable split):
- EXECUTORS (``HudiPyBatchWriter.write``, one call per task, Arrow
  batches in): key/partition-path extraction, meta-column synthesis,
  parquet base-file encode (insert path) or log-block encode (upsert
  path, routed by the tagging columns ``write/upsert.py`` attaches) —
  all pyarrow-vectorized, file-size-rolled, zero driver involvement.
- DRIVER (``commit``): collects per-task write stats and atomically
  publishes ONE timeline instant (hoodie.properties on first commit,
  then ``{instant}.{action}`` / v8 ``{instant}_{completion}.{action}``)
  with partition-grouped stats + the avro writer schema. Readers ignore
  files not reachable from a completed instant, so a failed job leaves
  the table unchanged (commit-file atomicity = Hudi's own guarantee).

Scale: a 1000-executor insert writes 1000-way parallel with no shuffle
(tasks write their partitions' files independently; Hudi tolerates many
files per partition per commit); the driver handles O(files) stat dicts
only. Upsert adds exactly one hash shuffle on the target file id (see
write/upsert.py). Local/file:// storage only — object stores would
plug in at ``_write_bytes``.

The reference is read-only (crates/core has no write path); this module
targets the reader contract its fixtures pin: base-file naming
``{file_id}_{token}_{instant}.parquet`` (file_group/base_file/mod.rs:96),
log naming ``.{file_id}_{instant}.log.{version}_{token}``
(log_file/mod.rs:77-123), commit metadata shape
(timeline/commit_metadata.py), meta columns (table/mod.rs fixtures).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    WriterCommitMessage,
)

from hudi_rs_spark.write.config import (
    DELETE_COL,
    INTERNAL_COLS,
    LOG_VERSION_COL,
    META_COLS,
    OP_INSERT_OVERWRITE,
    OP_INSERT_OVERWRITE_PARTITION,
    OP_UPSERT,
    TARGET_FILE_COL,
    TARGET_INSTANT_COL,
    WriteConfig,
    _opt,
    new_instant,
)
from hudi_rs_spark.write.worklist import finish_base_file, task_token

_FILE_ID_NS = uuid.UUID("00000000-0000-0000-0000-00000000aced")


@dataclass
class HudiWriteMessage(WriterCommitMessage):
    stats: list = field(default_factory=list)  # per-file stat dicts


# ---------------------------------------------------------------------------
# executor side
# ---------------------------------------------------------------------------
def _base(path: str) -> str:
    """Normalized table base path: a plain filesystem path for
    local/file:// URIs (keeps pyarrow's mmap'd local parquet fast path),
    the scheme-qualified URI otherwise — every write-path module joins
    below this with '/' and routes bytes through ``_fs``."""
    from hudi_rs_spark.fs.storage import as_local_path

    p = as_local_path(path)
    return path if p is None else p


# transitional alias: older call sites / tests import _local
_local = _base


def _fs(path: str, options: dict | None = None):
    """Storage backend for any path under the table — the write-side
    twin of the readers' ``storage_for`` routing (the reference's
    parse_url_opts, crates/core/src/storage/mod.rs:26-28). Executors
    call this too: workers resolve their own backend from the options
    shipped inside WriteConfig."""
    from hudi_rs_spark.fs.storage import storage_for

    return storage_for(path, options)


def write_parquet(tbl: pa.Table, full_path: str, storage) -> int:
    """Encode one parquet base file through the storage backend;
    returns its size in bytes. Local paths keep pyarrow's plain-path
    fast path (threaded writer, no Python stream shim)."""
    from hudi_rs_spark.fs.storage import as_local_path

    lp = as_local_path(full_path)
    if lp is not None:
        d = os.path.dirname(lp)
        if d:
            os.makedirs(d, exist_ok=True)
        pq.write_table(tbl, lp)
        return os.path.getsize(lp)
    with storage.open_output(full_path) as f:
        pq.write_table(tbl, f)
    return storage.size(full_path)


def write_base_file(tbl: pa.Table, full_path: str, storage) -> int:
    """Route by extension: parquet (default) or Lance v2 (v9 tables —
    ``lance/writer.py``, read back by the same ``lance/reader.py`` that
    decodes the reference's golden Lance fixtures)."""
    if full_path.endswith(".lance"):
        from hudi_rs_spark.lance.writer import write_lance

        data = write_lance(tbl)
        storage.write_bytes(full_path, data)
        return len(data)
    return write_parquet(tbl, full_path, storage)


def _key_array(tbl: pa.Table, key_fields: tuple[str, ...]) -> pa.Array:
    """Record key per row: str(value) for a single key field, the
    ComplexAvroKeyGenerator's ``f1:v1,f2:v2`` for composite keys."""
    cols = []
    for f in key_fields:
        if f not in tbl.column_names:
            raise ValueError(f"record key field {f!r} missing from data")
        arr = pc.cast(tbl[f], pa.string())
        if pc.any(pc.is_null(arr)).as_py():
            raise ValueError(f"record key field {f!r} contains nulls")
        cols.append(arr.combine_chunks())
    if len(cols) == 1:
        return cols[0]
    out_parts: list = [pa.scalar(f"{key_fields[0]}:"), cols[0]]
    for f, arr in zip(key_fields[1:], cols[1:]):
        out_parts.append(pa.scalar(f",{f}:"))
        out_parts.append(arr)
    out_parts.append("")
    return pc.binary_join_element_wise(*out_parts)


def _partition_array(tbl: pa.Table, cfg: WriteConfig) -> pa.Array | None:
    """Relative partition dir per row (hive style ``f=v`` joined by "/");
    null/empty values map to Hudi's ``default`` bucket. None when the
    table is non-partitioned (every row in the table root)."""
    if not cfg.partition_fields:
        return None
    from hudi_rs_spark.plans.timestamp_keygen import keygen_from_write_config

    kg = keygen_from_write_config(cfg)
    parts: list = []
    for i, f in enumerate(cfg.partition_fields):
        if f not in tbl.column_names:
            raise ValueError(f"partition field {f!r} missing from data")
        if kg is not None:
            # timestamp keygen: the partition value is the formatted
            # source timestamp (vectorized arrow strptime/strftime)
            v = kg.arrow_partition_values(tbl[f].combine_chunks())
        else:
            v = pc.cast(tbl[f], pa.string()).combine_chunks()
        v = pc.if_else(
            pc.or_(pc.is_null(v), pc.equal(v, pa.scalar(""))),
            pa.scalar("default"),
            v,
        )
        if i:
            parts.append(pa.scalar("/"))
        if cfg.hive_style:
            parts.append(pa.scalar(f"{f}="))
        parts.append(v)
    parts.append("")
    if len(parts) == 2:  # single raw column + separator
        return parts[0]
    return pc.binary_join_element_wise(*parts)


class _TaskWriter:
    """Per-task buffering encoder: routes rows to per-partition base-file
    buffers (inserts) or per-file-group log buffers (tagged upserts),
    rolls base files at ``max_rows_per_file``, and emits stat dicts."""

    def __init__(self, cfg: WriteConfig, task_id: int, token: str):
        self.cfg = cfg
        self.task_id = task_id
        # the write token embeds THIS write's instant: task ids alone
        # collide ACROSS PROCESSES (fresh sessions hand out the same
        # partition/stage/attempt ids), and log/MDT appends anchor at a
        # SHARED instant (the base slice's), so two racing writers would
        # otherwise emit byte-identical names for the same file group —
        # and the OCC loser's abort would delete the winner's files.
        # Instant-first so same-version twins sort in commit order.
        self.token = f"{cfg.instant}-{token}"
        self.base = _base(cfg.path)
        self.storage = _fs(self.base, cfg.storage_dict())
        self.seq = 0  # rows numbered within the task (commit seqno)
        self.file_seq = 0
        self.buffers: dict[str, list[pa.Table]] = {}
        self.buffered_rows: dict[str, int] = {}
        self.buffered_bytes: dict[str, int] = {}
        # (partition, file_id) -> {"instant": ..., "version": int,
        #                          "tables": [...], "deletes": [...]}
        self.log_groups: dict[tuple[str, str], dict] = {}
        self.stats: list[dict] = []
        self.side = {
            "column_stats": cfg.emit_column_stats,
            "bloom": cfg.emit_bloom_filters,
            "index_shards": (
                cfg.record_index_shards if cfg.emit_record_index else 0
            ),
        }

    # -- routing ----------------------------------------------------------
    def consume(self, batch: pa.RecordBatch) -> None:
        tbl = pa.Table.from_batches([batch])
        keys = _key_array(tbl, self.cfg.record_key_fields)
        part = _partition_array(tbl, self.cfg)
        tagged = TARGET_FILE_COL in tbl.column_names
        if not tagged:
            self._route_inserts(tbl, keys, part, None)
            return
        target = tbl[TARGET_FILE_COL].combine_chunks()
        is_tagged = pc.is_valid(target)
        n_tagged = pc.sum(pc.cast(is_tagged, pa.int64())).as_py() or 0
        if n_tagged < len(tbl):
            mask = pc.invert(is_tagged)
            self._route_inserts(
                tbl.filter(mask), keys.filter(mask),
                part.filter(mask) if part is not None else None, None,
            )
        if n_tagged:
            sub = tbl.filter(is_tagged)
            self._route_updates(
                sub, keys.filter(is_tagged),
                part.filter(is_tagged) if part is not None else None,
            )

    def _partition_masks(self, part: pa.Array | None, n: int):
        if part is None:
            yield "", None
            return
        for pv in pc.unique(part):
            yield pv.as_py(), pc.equal(part, pv)

    def _route_inserts(self, tbl, keys, part, _unused) -> None:
        if DELETE_COL in tbl.column_names:
            # deletes for keys that don't exist anywhere: no-ops
            live = pc.fill_null(pc.invert(pc.cast(tbl[DELETE_COL], pa.bool_())), True)
            live = live.combine_chunks()
            tbl, keys = tbl.filter(live), keys.filter(live)
            part = part.filter(live) if part is not None else None
        if not len(tbl):
            return
        for pv, mask in self._partition_masks(part, len(tbl)):
            sub = tbl if mask is None else tbl.filter(mask)
            sub_keys = keys if mask is None else keys.filter(mask)
            if not len(sub):
                continue
            sub = sub.append_column("__hoodie_key", sub_keys)
            self.buffers.setdefault(pv, []).append(sub)
            self.buffered_rows[pv] = self.buffered_rows.get(pv, 0) + len(sub)
            self.buffered_bytes[pv] = self.buffered_bytes.get(pv, 0) + sub.nbytes
            # roll at EITHER cap: row count (file-size target) or buffered
            # bytes (task-memory bound — a skewed/wide partition must not
            # grow an unbounded Arrow buffer inside one task)
            if (
                self.buffered_rows[pv] >= self.cfg.max_rows_per_file
                or self.buffered_bytes[pv] >= self.cfg.max_buffer_bytes
            ):
                self._flush_partition(pv)
        # global bound: many medium partitions in one task may together
        # exceed memory even while each is under its per-partition cap —
        # flush the largest until the task's total is back under 2x cap
        while (
            sum(self.buffered_bytes.values()) > 2 * self.cfg.max_buffer_bytes
        ):
            hottest = max(self.buffered_bytes, key=self.buffered_bytes.get)
            self._flush_partition(hottest)

    def _route_updates(self, tbl, keys, part) -> None:
        target = tbl[TARGET_FILE_COL].combine_chunks()
        # group by (file id, partition) — bucket-indexed tables reuse ONE
        # fid across partitions (write/bucket.py), so the partition must
        # be part of the routing key, not sampled from the first row
        for fid_s in pc.unique(target):
            fid = fid_s.as_py()
            fmask = pc.equal(target, fid_s)
            ftbl = tbl.filter(fmask)
            fkeys = keys.filter(fmask)
            fpart = part.filter(fmask) if part is not None else None
            for pv, pmask in self._partition_masks(fpart, len(ftbl)):
                sub = ftbl if pmask is None else ftbl.filter(pmask)
                sub_keys = fkeys if pmask is None else fkeys.filter(pmask)
                if not len(sub):
                    continue
                self._route_update_group(sub, sub_keys, pv, fid)

    def _route_update_group(self, sub, sub_keys, pv: str, fid: str) -> None:
        g = self.log_groups.setdefault(
            (pv, fid),
            {
                # null anchor = bucket-routed first touch: the group
                # does not exist yet, so its log-only slice anchors
                # at this very commit (write/bucket.py)
                "instant": sub[TARGET_INSTANT_COL][0].as_py()
                or self.cfg.instant,
                "version": int(sub[LOG_VERSION_COL][0].as_py() or 1),
                "tables": [],
                "deletes": [],
            },
        )
        if DELETE_COL in sub.column_names:
            dmask = pc.fill_null(
                pc.cast(sub[DELETE_COL], pa.bool_()), False
            ).combine_chunks()
            dels, dkeys = sub.filter(dmask), sub_keys.filter(dmask)
            if len(dels):
                ordv = (
                    dels[self.cfg.precombine_field].to_pylist()
                    if self.cfg.precombine_field in dels.column_names
                    else [0] * len(dels)
                )
                g["deletes"].extend(
                    (k, pv, o) for k, o in zip(dkeys.to_pylist(), ordv)
                )
            live = pc.invert(dmask)
            sub, sub_keys = sub.filter(live), sub_keys.filter(live)
        if len(sub):
            g["tables"].append(sub.append_column("__hoodie_key", sub_keys))

    # -- encode + flush ---------------------------------------------------
    def _data_columns(self, tbl: pa.Table) -> pa.Table:
        drop = [
            c for c in tbl.column_names
            if c in META_COLS or c in INTERNAL_COLS
            or c in (DELETE_COL, "__hoodie_key")
        ]
        return tbl.drop_columns(drop) if drop else tbl

    def _with_meta(self, tbl: pa.Table, keys: pa.Array, pv: str, file_name: str) -> pa.Table:
        n = len(tbl)
        instant = self.cfg.instant
        seqno = [f"{instant}_{self.task_id}_{self.seq + i}" for i in range(n)]
        self.seq += n
        meta = pa.table(
            {
                "_hoodie_commit_time": pa.array([instant] * n, pa.string()),
                "_hoodie_commit_seqno": pa.array(seqno, pa.string()),
                "_hoodie_record_key": keys,
                "_hoodie_partition_path": pa.array([pv] * n, pa.string()),
                "_hoodie_file_name": pa.array([file_name] * n, pa.string()),
            }
        )
        out = meta
        for name, col in zip(tbl.column_names, tbl.columns):
            out = out.append_column(name, col)
        return out

    def _cdc_rows(self, data: pa.Table, op: str) -> list[dict]:
        """Typed change records (op + canonical-JSON after image) for a
        flush — the data_after supplemental logging mode: no
        read-old-values cost, downstream consumers reconstruct befores
        from the prior feed state when they need them."""
        import json as _json

        out = []
        cols = data.column_names
        for row in zip(*(data[c].to_pylist() for c in cols)):
            image = _json.dumps(
                dict(zip(cols, row)), sort_keys=True, default=str
            )
            out.append(
                {"op": op, "ts_ms": self.cfg.instant, "before": None,
                 "after": image}
            )
        return out

    def _emit_secondary_cells(self, data: pa.Table, keys: pa.Array) -> None:
        """Append (value, record_key) secondary-index cells for every
        indexed column present in this flush (nulls unindexed)."""
        if not self.cfg.secondary_index_columns:
            return
        from hudi_rs_spark.write.secondary_index import (
            append_secondary_index_log,
        )

        key_list = [k.as_py() for k in keys]
        for col in self.cfg.secondary_index_columns:
            if col not in data.column_names:
                continue
            cells = [
                (str(v), k)
                for v, k in zip(data[col].to_pylist(), key_list)
                if v is not None
            ]
            append_secondary_index_log(
                self.cfg.path, self.cfg.instant, col, cells, self.token,
                self.cfg.storage_dict(),
            )

    def _new_file_id(self, pv: str) -> str:
        fid = uuid.uuid5(
            _FILE_ID_NS,
            f"{self.cfg.instant}:{self.task_id}:{pv}:{self.file_seq}",
        )
        self.file_seq += 1
        return f"{fid}-0"

    def _flush_partition(self, pv: str) -> None:
        tables = self.buffers.pop(pv, [])
        self.buffered_rows.pop(pv, None)
        self.buffered_bytes.pop(pv, None)
        if not tables:
            return
        merged = pa.concat_tables(tables, promote_options="default")
        keys = merged["__hoodie_key"].combine_chunks()
        data = self._data_columns(merged)
        file_id = self._new_file_id(pv)
        stat = finish_base_file(  # names the file and sets _hoodie_file_name
            self._with_meta(data, keys, pv, ""), self.cfg.path, pv, file_id,
            self.cfg.instant, self.token, self.side,
            ext=self.cfg.base_file_format,
            storage_options=self.cfg.storage_dict(), inserts=True,
        )
        self._emit_secondary_cells(data, keys)
        if self.cfg.emit_cdc and len(data):
            # change rows ride in a SIDECAR ``.cdc.`` file: the data
            # readers consume type-6 blocks as record data (reference
            # scanner parity), so CDC payloads must live in files the
            # data scan never parses as log files — Hudi's own separate
            # .cdc file design. The CDC readers find them through the
            # commit's write stats (cdc_log_groups).
            self._emit_cdc_file(pv, file_id, self._cdc_rows(data, "i"))
        self.stats.append(stat)

    def _emit_cdc_file(self, pv: str, fid: str, changes: list[dict]) -> None:
        from hudi_rs_spark.write.logblocks import cdc_block

        if not changes:
            return
        name = f".{fid}_{self.cfg.instant}.cdc.1_{self.token}"
        rel = f"{pv}/{name}" if pv else name
        payload = cdc_block(self.cfg.instant, changes)
        self.storage.append_bytes(f"{self.base}/{rel}", payload)
        self.stats.append(
            {
                "fileId": fid,
                "path": rel,
                "partitionPath": pv,
                "numWrites": 0,
                "fileSizeInBytes": len(payload),
                "totalWriteBytes": len(payload),
            }
        )

    def _flush_log_group(self, pv: str, fid: str, g: dict) -> None:
        from hudi_rs_spark.write.logblocks import delete_block, parquet_data_block

        name = f".{fid}_{g['instant']}.log.{g['version']}_{self.token}"
        rel = f"{pv}/{name}" if pv else name
        payload = b""
        n_upd = 0
        if g["tables"]:
            merged = pa.concat_tables(g["tables"], promote_options="default")
            keys = merged["__hoodie_key"].combine_chunks()
            data = self._with_meta(self._data_columns(merged), keys, pv, name)
            payload += parquet_data_block(
                self.cfg.instant,
                {c: data[c].to_pylist() for c in data.column_names},
            )
            n_upd = len(merged)
        if g["deletes"]:
            payload += delete_block(self.cfg.instant, g["deletes"])
        if self.cfg.emit_cdc and (n_upd or g["deletes"]):
            import json as _json

            changes = []
            if n_upd:
                changes.extend(self._cdc_rows(self._data_columns(merged), "u"))
            changes.extend(
                {
                    "op": "d", "ts_ms": self.cfg.instant,
                    "before": _json.dumps(
                        {"_hoodie_record_key": k, "_hoodie_partition_path": p},
                        sort_keys=True,
                    ),
                    "after": None,
                }
                for k, p, _o in g["deletes"]
            )
            self._emit_cdc_file(pv, fid, changes)
        if not payload:
            return
        full = f"{self.base}/{rel}"
        self.storage.append_bytes(full, payload)
        stat = {
            "fileId": fid,
            "path": rel,
            "partitionPath": pv,
            "numWrites": n_upd,
            "numUpdateWrites": n_upd,
            "numDeletes": len(g["deletes"]),
            "fileSizeInBytes": self.storage.size(full),
            "totalWriteBytes": len(payload),
        }
        if self.cfg.emit_column_stats and g["tables"]:
            # upserted LOG values must widen the partition_stats union
            # (deletes never widen ranges, so delete-only blocks skip);
            # the file-level entry is keyed by the log name — unused by
            # base-file pruning, load-bearing for the partition union
            from hudi_rs_spark.write.mdt_stats import compute_column_stats

            stat["columnStats"] = compute_column_stats(data)
        if self.cfg.secondary_index_columns and g["tables"]:
            self._emit_secondary_cells(data, keys)
        if self.cfg.emit_record_index and g["deletes"]:
            # updates never move a record between file groups; deletes
            # tombstone their index entries
            from hudi_rs_spark.write.record_index import append_record_index_log

            append_record_index_log(
                self.cfg.path, self.cfg.instant,
                {str(k): None for k, _p, _o in g["deletes"]},
                self.cfg.record_index_shards, self.token,
                self.cfg.storage_dict(),
            )
        self.stats.append(stat)

    def finish(self) -> list[dict]:
        for pv in list(self.buffers):
            self._flush_partition(pv)
        for (pv, fid), g in self.log_groups.items():
            self._flush_log_group(pv, fid, g)
        return self.stats


def write_task(cfg: WriteConfig, iterator) -> HudiWriteMessage:
    """One executor task: consume Arrow batches, emit files + stats."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    tw = _TaskWriter(cfg, tc.partitionId() if tc else 0, task_token())
    for batch in iterator:
        tw.consume(batch)
    return HudiWriteMessage(stats=tw.finish())


# ---------------------------------------------------------------------------
# driver side: commit protocol
# ---------------------------------------------------------------------------
def _spark_to_avro(dt, name: str = "rec"):
    """Spark type -> avro schema (reverse of avro/spark_schema.py; same
    public mapping table, SURVEY.md §1.3)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return {
            "type": "record",
            "name": name,
            "fields": [
                {
                    "name": f.name,
                    "type": ["null", _spark_to_avro(f.dataType, f.name)]
                    if f.nullable
                    else _spark_to_avro(f.dataType, f.name),
                    **({"default": None} if f.nullable else {}),
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        item = _spark_to_avro(dt.elementType, name + "_item")
        return {"type": "array", "items": ["null", item] if dt.containsNull else item}
    if isinstance(dt, T.MapType):
        val = _spark_to_avro(dt.valueType, name + "_value")
        return {"type": "map", "values": ["null", val] if dt.valueContainsNull else val}
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes", "logicalType": "decimal",
            "precision": dt.precision, "scale": dt.scale,
        }
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return {"type": "long", "logicalType": "timestamp-micros"}
    simple = {
        T.BooleanType: "boolean", T.IntegerType: "int", T.ShortType: "int",
        T.ByteType: "int", T.LongType: "long", T.FloatType: "float",
        T.DoubleType: "double", T.StringType: "string", T.BinaryType: "bytes",
    }
    for cls, avro in simple.items():
        if isinstance(dt, cls):
            return avro
    raise ValueError(f"no avro mapping for spark type {dt}")


def data_avro_schema(spark_schema, table_name: str) -> dict:
    from pyspark.sql import types as T

    fields = [
        f for f in spark_schema.fields
        if f.name not in META_COLS and f.name not in INTERNAL_COLS
        and f.name != DELETE_COL
    ]
    return _spark_to_avro(T.StructType(fields), table_name + "_record")


def existing_config(path: str, storage: dict | None = None):
    """The hoodie.properties of the table at ``path``, read once; None
    before the table exists. ``storage``: the write's ``storage.*``
    backend options."""
    base = _base(path)
    if not _fs(base, storage).isfile(f"{base}/.hoodie/hoodie.properties"):
        return None
    from hudi_rs_spark.config.table_config import HudiTableConfig

    return HudiTableConfig.from_base_path(base)


def existing_table(path: str, storage: dict | None = None, spark=None):
    """The table at ``path`` as one snapshot (config and timeline, read
    once) that a write step plans, tags, checks and publishes from; None
    before the table exists."""
    base = _base(path)
    if not _fs(base, storage).isfile(f"{base}/.hoodie/hoodie.properties"):
        return None
    from hudi_rs_spark.sources.hudi import HudiTable

    return HudiTable(base, spark, listing="direct", storage_options=storage)


def resolve_index_flags(cfg: WriteConfig, existing) -> None:
    """Resolve layout + stats/index emission on the DRIVER against the
    existing table, mutating ``cfg`` in place — called by BOTH the
    batch and streaming writers before cfg ships to executors.
    ``existing``: the table's config as the writer loaded it (None
    before the table exists).

    - ``table_version`` is AUTHORITATIVE from the existing table: a v8
      table appended to with default options would otherwise get a
      layout-1 commit written into ``.hoodie/`` instead of
      ``.hoodie/timeline/`` — an invisible commit (identity fields like
      record key / table type stay validated loudly by ``init_table``
      instead of silently synced).
    - once a table advertises column_stats, every later write must keep
      widening the partition_stats union or exclusion pruning on new
      values would be WRONG (the file-listing analog, mdt_enabled,
      resolves at commit time, but stats/index entries are computed
      executor-side, so these flags must resolve early); the
      record-index shard count is likewise fixed at table creation
      (cross-shard duplicates break the reader's last-wins merge).
    """
    from hudi_rs_spark.metadata.bloom_filters import (
        has_bloom_filters_partition,
    )
    from hudi_rs_spark.metadata.column_stats import has_column_stats_partition
    from hudi_rs_spark.metadata.files_partition import has_files_partition
    from hudi_rs_spark.metadata.record_index import has_record_index_partition
    from hudi_rs_spark.metadata.secondary_index import (
        SECONDARY_INDEX_PREFIX,
        list_secondary_indexes,
    )

    base = _base(cfg.path)
    indexed: tuple[str, ...] = ()
    if existing is not None:
        cfg.table_version = existing.table_version
        if has_files_partition(existing):
            cfg.emit_metadata = True
        if (
            existing.props.get("hoodie.table.cdc.enabled", "").lower()
            == "true"
        ):
            # once a table advertises CDC, every append must keep the
            # change feed complete (a gap = silently missing changes)
            cfg.emit_cdc = True
        if existing.props.get("hoodie.table.base.file.format") == "LANCE":
            cfg.base_file_format = "lance"
        if existing.payload_class and not cfg.payload_class:
            # merge semantics are a table-level invariant: appends
            # inherit the payload (partial-update commit-schema handling
            # keys off it)
            cfg.payload_class = existing.payload_class
        if has_column_stats_partition(existing):
            cfg.emit_column_stats = True
        # a table that advertises bloom_filters keeps emitting them —
        # new base files without a bloom record are still CORRECT
        # (missing record = always-candidate in the tag path), they
        # just stop the index paying for itself
        if has_bloom_filters_partition(existing):
            cfg.emit_bloom_filters = True
        indexed = tuple(
            p.removeprefix(SECONDARY_INDEX_PREFIX)
            for p in list_secondary_indexes(existing)
        )
    if cfg.emit_column_stats or cfg.emit_bloom_filters:
        cfg.emit_metadata = True
    if existing is not None and has_record_index_partition(existing):
        cfg.emit_record_index = True
    elif cfg.emit_record_index and existing is not None:
        # enabling the record index on a table with EXISTING data would
        # leave old keys unindexed — and the connector's index pruning
        # treats a missing key as proof the row does not exist. Refuse;
        # write.record_index.backfill_record_index builds the complete
        # index first.
        if _has_commits(base, existing):
            raise ValueError(
                "cannot enable the record index on a table with existing "
                "commits: old keys would be unindexed and index-based "
                "pruning treats missing keys as nonexistent rows. Run "
                "hudi_rs_spark.write.record_index.backfill_record_index "
                "first."
            )
    if cfg.emit_record_index:
        cfg.emit_metadata = True
        from hudi_rs_spark.write.record_index import existing_shard_count

        n = existing_shard_count(base, existing)
        if n:
            cfg.record_index_shards = n
    if not cfg.secondary_index_columns:
        if indexed:
            cfg.secondary_index_columns = indexed
    elif existing is not None:
        # same completeness argument as the record index: a secondary
        # index missing pre-existing rows' cells produces FALSE
        # NEGATIVES in lookup_by_secondary_key (the post-filter only
        # removes stale cells, it cannot conjure missing ones)
        new_cols = set(cfg.secondary_index_columns) - set(indexed)
        if new_cols and _has_commits(base, existing):
            raise ValueError(
                f"cannot enable secondary index(es) {sorted(new_cols)} on "
                "a table with existing commits: old rows would be "
                "unindexed (lookups would miss them). Run "
                "hudi_rs_spark.write.secondary_index."
                "backfill_secondary_index first."
            )


def _has_commits(base: str, config) -> bool:
    from hudi_rs_spark.timeline.timeline import Timeline

    return bool(Timeline.load(base, config).instants)


def mdt_enabled(cfg: WriteConfig, config) -> bool:
    """Maintain the MDT when the write asked for it OR the table, as
    loaded for this commit (``config``; None before it exists), already
    advertises a files partition (appends must not let the MDT go stale
    once it exists)."""
    from hudi_rs_spark.metadata.files_partition import has_files_partition

    return cfg.emit_metadata or (
        config is not None and has_files_partition(config)
    )


def init_table(cfg: WriteConfig, existing=None) -> bool:
    """Create ``.hoodie/hoodie.properties`` if absent. Returns True when
    this call created the table. Validates key configs on existing
    tables so an append can't silently change table identity.
    ``existing``: the table's config as the caller loaded it; read from
    storage when not given."""
    base = _base(cfg.path)
    st = _fs(base, cfg.storage_dict())
    props_path = f"{base}/.hoodie/hoodie.properties"
    if existing is None:
        existing = existing_config(base, cfg.storage_dict())
    if existing is not None:
        if tuple(existing.record_key_fields) != cfg.record_key_fields:
            raise ValueError(
                f"record key mismatch: table has {existing.record_key_fields}, "
                f"write requested {list(cfg.record_key_fields)}"
            )
        if existing.table_type.value != cfg.table_type:
            raise ValueError(
                f"table type mismatch: table is {existing.table_type.value}, "
                f"write requested {cfg.table_type}"
            )
        if tuple(existing.partition_fields) != cfg.partition_fields:
            raise ValueError(
                f"partition fields mismatch: table has "
                f"{existing.partition_fields}, write requested "
                f"{list(cfg.partition_fields)}"
            )
        if cfg.payload_class and existing.payload_class and (
            cfg.payload_class != existing.payload_class
        ):
            raise ValueError(
                f"payload class mismatch: table has "
                f"{existing.payload_class}, write requested "
                f"{cfg.payload_class} (merge semantics are a table-level "
                "invariant)"
            )
        return False
    props = cfg.table_properties()
    st.publish_bytes(
        props_path,
        ("\n".join(f"{k}={v}" for k, v in sorted(props.items())) + "\n").encode(),
    )
    return True


def timeline_dir(cfg: WriteConfig) -> str:
    base = _base(cfg.path)
    if cfg.table_version >= 8:
        return f"{base}/.hoodie/timeline"
    return f"{base}/.hoodie"


def completed_instant_name(instant: str, action: str, table_version: int) -> str:
    """File name of ``instant``'s completed ``action``: v8+
    ``{instant}_{completion}.{action}`` with a completion time that never
    precedes the instant, v6 ``{instant}.{action}``."""
    if table_version >= 8:
        return f"{instant}_{max(new_instant(), instant)}.{action}"
    return f"{instant}.{action}"


def commit_instant(
    cfg: WriteConfig,
    stats: list[dict],
    schema_json: dict | None,
    replaced: dict[str, list[str]] | None = None,
    extra_metadata: dict[str, str] | None = None,
    action: str | None = None,
    table_config=None,
) -> str:
    """Write the completed-instant file for ``cfg.instant``; returns its
    path. Committers go through ``concurrency.publish``, which calls
    this under the commit lock. ``table_config``: the table's config as
    the caller loaded it, for the callback-sink lookup (read from
    storage when not given)."""
    instant = cfg.instant
    action = action or cfg.action
    by_partition: dict[str, list[dict]] = {}
    for s in stats:
        by_partition.setdefault(s.get("partitionPath", ""), []).append(s)
    meta: dict = {
        "partitionToWriteStats": by_partition,
        "operationType": cfg.operation.upper(),
    }
    if replaced is not None:
        meta["partitionToReplaceFileIds"] = replaced
    extra = dict(extra_metadata or {})
    if schema_json is not None:
        extra["schema"] = json.dumps(schema_json)
    if extra:
        meta["extraMetadata"] = extra
    tdir = timeline_dir(cfg)
    path = f"{tdir}/{completed_instant_name(instant, action, cfg.table_version)}"
    # atomic publish: a reader sees a complete instant or none at all
    _fs(tdir, cfg.storage_dict()).publish_bytes(path, json.dumps(meta).encode())
    # post-publish notification (write/callbacks.py) — never fails the
    # commit; O(commits) driver work
    from hudi_rs_spark.write.callbacks import fire

    fire(cfg, instant, action, stats, table_config)
    return path


def existing_file_group_ids(cfg: WriteConfig) -> dict[str, list[str]]:
    """partition -> live file group ids (for insert_overwrite_table's
    replacecommit). Empty when the table doesn't exist yet."""
    table = existing_table(cfg.path, cfg.storage_dict())
    if table is None:
        return {}
    out: dict[str, list[str]] = {}
    for sl in table.get_file_slices():
        out.setdefault(sl.partition_path, []).append(sl.file_id)
    for k in out:
        out[k] = sorted(set(out[k]))
    return out


_IDENTITY_ALIASES: tuple[tuple[tuple[str, ...], object], ...] = (
    (("hoodie.datasource.write.recordkey.field", "recordkey.field"),
     lambda tc: ",".join(tc.record_key_fields)),
    (("hoodie.datasource.write.precombine.field", "precombine.field"),
     lambda tc: (tc.ordering_fields or [""])[0]),
    (("hoodie.datasource.write.partitionpath.field", "partitionpath.field"),
     lambda tc: ",".join(tc.partition_fields)),
    (("hoodie.datasource.write.hive_style_partitioning",
      "hive_style_partitioning"),
     lambda tc: "true" if tc.hive_style_partitioning else "false"),
    (("hoodie.table.type", "table.type"), lambda tc: tc.table_type.value),
    (("hoodie.table.version", "table.version"),
     lambda tc: str(tc.table_version)),
    (("hoodie.table.name", "table.name"), lambda tc: tc.table_name),
    (("hoodie.keygen.timebased.timestamp.type", "keygen.timestamp.type"),
     lambda tc: tc.props.get("hoodie.keygen.timebased.timestamp.type", "")),
    (("hoodie.keygen.timebased.output.dateformat",
      "keygen.output.dateformat"),
     lambda tc: tc.props.get(
         "hoodie.keygen.timebased.output.dateformat", "")),
    (("hoodie.keygen.timebased.input.dateformat", "keygen.input.dateformat"),
     lambda tc: tc.props.get(
         "hoodie.keygen.timebased.input.dateformat", "")),
)


def storage_options_of(options: dict) -> dict | None:
    """The write's ``storage.<key>`` options (backend endpoint and
    credentials) without the prefix; None when there are none."""
    storage = {
        str(k)[len("storage."):]: str(v)
        for k, v in options.items()
        if str(k).lower().startswith("storage.") and str(k)[len("storage."):]
    }
    return storage or None


def inherit_table_identity(options: dict, tc) -> dict:
    """Fill table-identity options absent from ``options`` from the
    existing table's config ``tc`` (None: no table yet, nothing to
    fill). This is what lets a bare ``INSERT INTO <hudi_py view>``
    (whose OPTIONS carry only the path) or a minimal ``df.write`` append
    land on an existing table without restating keys/type/version — the
    table is authoritative for its own identity, exactly like upsert()'s
    merged options."""
    if tc is None:
        return options
    lowered = {str(k).lower() for k in options}
    out = dict(options)
    for aliases, getter in _IDENTITY_ALIASES:
        if any(a in lowered for a in aliases):
            continue
        v = getter(tc)
        if v:
            out[aliases[-1]] = v
    return out


class HudiPyBatchWriter(DataSourceArrowWriter):
    """Batch writer behind ``df.write.format("hudi_py")``.

    mode("append")   -> insert (new file groups) or, with the tagging
                        columns present, upsert log blocks (MOR)
    mode("overwrite")-> insert_overwrite_table: new file groups plus a
                        replacecommit excluding every prior file group
    """

    def __init__(self, options: dict, schema, overwrite: bool):
        # the plan step reads hoodie.properties once; identity, index
        # flags and the bucket guard all resolve from this one config
        path = _opt(options, "path")
        tc = (
            existing_config(str(path), storage_options_of(options))
            if path else None
        )
        options = inherit_table_identity(options, tc)
        self.cfg = WriteConfig.from_options(options, overwrite=overwrite)
        # executor-side MDT appenders reuse any anchor they find on
        # disk; a failed prior write's never-committed anchor would
        # poison the shard slice (reader drops it whole), so restore
        # the "every on-disk anchor is committed" invariant up front —
        # BEFORE flag resolution, which itself inspects index files
        from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

        purge_uncommitted_mdt_logs(self.cfg.path)
        resolve_index_flags(self.cfg, tc)
        from hudi_rs_spark.timeline.timeline import Timeline
        from hudi_rs_spark.write.concurrency import claim_instant

        # OCC read point: completed instants visible when this write
        # planned. upsert() passes the timeline of the snapshot its
        # tag/index join planned from (occ.readpoint) — it predates this
        # __init__; everything that completes after it is a concurrent
        # writer checked at commit
        rp = _opt(options, "occ.readpoint")
        if rp is not None:
            self._read_point = frozenset(x for x in str(rp).split(",") if x)
        elif tc is None:
            self._read_point = frozenset()
        else:
            self._read_point = frozenset(
                i.timestamp
                for i in Timeline.load(_base(self.cfg.path), tc).instants
            )
        self.schema = schema
        if self.cfg.operation == OP_UPSERT and self.cfg.table_type != "MERGE_ON_READ":
            raise ValueError(
                "operation=upsert requires a MERGE_ON_READ table "
                "(COW updates go through write.compact or mode('overwrite'))"
            )
        if (
            self.cfg.operation == OP_UPSERT
            and TARGET_FILE_COL not in {f.name for f in schema.fields}
            and self._read_point
            # upsert() coordinates through occ.readpoint; its presence
            # marks the internal tagged protocol (tag columns may ride
            # in the task batches without appearing in the DataFrame
            # schema), not a raw user write
            and rp is None
        ):
            # The sink API hands this writer rows, never the table
            # index, so it cannot know which file group each key lives
            # in — appending untagged "upserts" to a non-empty table
            # would write NEW file groups and silently duplicate every
            # existing key. (On a fresh table upsert degrades to insert
            # — nothing to duplicate — so bootstrap writes stay legal.)
            raise ValueError(
                "operation=upsert through the raw DataFrame writer is "
                "only valid on an empty table: rows are not index-"
                "tagged, so existing keys would be duplicated. Use "
                "hudi_rs_spark.write.upsert(df, path, ...) — it tags "
                "rows against the record index / live file groups and "
                "routes updates as MOR log blocks."
            )
        if self.cfg.concurrency_mode == "nbcc" and (
            self.cfg.table_type != "MERGE_ON_READ" or self.cfg.table_version < 8
        ):
            raise ValueError(
                "NON_BLOCKING_CONCURRENCY_CONTROL requires a v8+ "
                "MERGE_ON_READ table: concurrent log appends are only "
                "safe under completion-time merge ordering"
            )
        if TARGET_FILE_COL not in {f.name for f in schema.fields}:
            # untagged rows would become uuid file groups — on a bucket
            # table that breaks the one-group-per-bucket invariant
            from hudi_rs_spark.write.bucket import is_bucket_table

            if self.cfg.index_type == "bucket" or (
                tc is not None and is_bucket_table(tc.props)
            ):
                raise ValueError(
                    "bucket-indexed tables (hoodie.index.type=BUCKET) are "
                    "written through write.upsert — the raw writer cannot "
                    "guarantee one file group per bucket across tasks"
                )
        # claim the instant BEFORE any task writes a byte, but AFTER
        # every validation guard above: a write rejected here must not
        # leave a stale claim behind (Spark only calls abort() once
        # tasks have started). A second writer racing the same instant
        # fails loudly at the claim instead of interleaving with this
        # job's commit (write/concurrency.py).
        claim_instant(self.cfg)
        # capture the pre-write live file groups NOW (driver, plan time):
        # these are what an overwrite's replacecommit excludes
        self._replaced = (
            existing_file_group_ids(self.cfg)
            if self.cfg.operation in (OP_INSERT_OVERWRITE,
                                      OP_INSERT_OVERWRITE_PARTITION)
            else None
        )

    def write(self, iterator):
        return write_task(self.cfg, iterator)

    def _commit_schema(self, table, stats) -> dict:
        """Under the commit lock, with the table as ``publish`` loaded it
        (None before it exists): create or identity-check the table, then
        resolve the schema this commit publishes."""
        tc = table.config if table is not None else None
        init_table(self.cfg, tc)
        schema_json = data_avro_schema(self.schema, self.cfg.table_name)
        total_writes = sum(int(s.get("numWrites") or 0) for s in stats)
        total_deletes = sum(int(s.get("numDeletes") or 0) for s in stats)
        sj = (
            table.schema_json()
            if table is not None and (total_writes or total_deletes)
            else None
        )
        if total_writes == 0 and total_deletes > 0:
            # delete-only commit: a tombstone frame usually carries only
            # key (+ partition + precombine) columns — publishing THAT
            # as the commit schema would narrow the table's latest
            # schema and drop every data column from later snapshots.
            # Deletes never evolve schema; keep the table's current one.
            if sj is not None:
                schema_json = sj
        elif total_writes > 0:
            # commit-schema union for EVERY write on an existing table:
            # table columns first (order authoritative), each published
            # at the WIDEST of (table, frame) type along the avro
            # promotion lattice (resolver.rs:41-114 + schema.rs:63-150
            # widening rules); frame-only columns append (add-column
            # evolution). A sparse frame — partial-update upserts carry
            # only the columns they change — can therefore never NARROW
            # the published schema, and a type-widening upsert
            # (int->long, float->double) publishes the widened type so
            # old base files cast up per-epoch on read.
            from hudi_rs_spark.write.schema_evolve import union_commit_schema

            if sj is not None and isinstance(sj.get("fields"), list):
                schema_json = union_commit_schema(sj, schema_json)
        return schema_json

    def commit(self, messages):
        stats = [s for m in messages if m is not None for s in m.stats]
        # OCC: the locked conflict check fails BEFORE publishing if a
        # concurrent writer completed an overlapping commit since our
        # read point (write/concurrency.py::publish); Spark then calls
        # abort(), which releases the claim and the MDT logs.
        from hudi_rs_spark.write.concurrency import publish, release_instant

        strict = self.cfg.operation in (
            OP_INSERT_OVERWRITE, OP_INSERT_OVERWRITE_PARTITION
        )
        replaced = self._replaced
        if (
            replaced is not None
            and self.cfg.operation == OP_INSERT_OVERWRITE_PARTITION
        ):
            # dynamic overwrite: only partitions this write actually
            # touched lose their prior file groups; untouched
            # partitions keep theirs (insert_overwrite_table replaces
            # everything)
            touched = {s.get("partitionPath", "") or "" for s in stats}
            replaced = {p: v for p, v in replaced.items() if p in touched}
        publish(
            self.cfg, stats, lambda table: self._commit_schema(table, stats),
            read_point=self._read_point,
            strict=strict,
            nbcc_log_appends=(
                self.cfg.concurrency_mode == "nbcc" and not strict
            ),
            replaced=replaced,
        )
        release_instant(self.cfg)
        # inline growth management: archive / fold the MDT when this
        # commit crossed the configured thresholds (never fails the
        # already-durable commit)
        from hudi_rs_spark.write.maintenance import maybe_auto_maintain

        maybe_auto_maintain(self.cfg)

    def abort(self, messages):
        """Best-effort cleanup: files from successful tasks are invisible
        without a commit file, but delete them to avoid orphans. MDT log
        files this write's tasks appended are removed too when anchored
        at the (never-committed) write instant — leaving them would
        poison the shard file group's anchor for every later append."""
        base = _base(self.cfg.path)
        st = _fs(base, self.cfg.storage_dict())
        for m in messages:
            if m is None:
                continue
            for s in m.stats:
                try:
                    st.remove(f"{base}/{s['path']}")
                except OSError:
                    pass
        from hudi_rs_spark.write.concurrency import release_instant
        from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

        purge_uncommitted_mdt_logs(self.cfg.path)
        release_instant(self.cfg)
