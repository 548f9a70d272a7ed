"""MOR delta-log reader: block framing, payload decode, rollback handling.

Re-expresses the public Hudi log format as read by
/root/reference/crates/core/src/file_group/log_file/reader.rs (framing),
log_block.rs:74-161 (block/metadata-key enums), content.rs:51-200
(payload decode) and scanner.rs:99-168 (rollback voiding + instant-range
gating).

Framing (format version 1):
  magic "#HUDI#" | u64 block_len (excl. magic & len field) | u32 version |
  u32 block_type | header map (u32 count; per entry u32 key ordinal,
  u32 len, bytes) | u64 content_len | content | footer map | u64 total_len

Payloads: AvroData = u32 block-version(3) + u32 record count + per-record
(u32 len + avro datum); ParquetData = a full parquet file (pyarrow);
Delete = u32 block-version(3) + u32 byte len + HoodieDeleteRecordList
avro datum; Command(rollback) voids blocks of the target instant.
"""

from __future__ import annotations

import io
import json
import struct
from dataclasses import dataclass, field

from hudi_rs_spark.avro.binary import Reader, collect_names, decode

MAGIC = b"#HUDI#"

BLOCK_COMMAND = 0
BLOCK_DELETE = 1
BLOCK_CORRUPTED = 2
BLOCK_AVRO_DATA = 3
BLOCK_HFILE_DATA = 4
BLOCK_PARQUET_DATA = 5
BLOCK_CDC_DATA = 6

# header metadata key ordinals (log_block.rs:146-161)
KEY_INSTANT_TIME = 0
KEY_TARGET_INSTANT_TIME = 1
KEY_SCHEMA = 2
KEY_COMMAND_BLOCK_TYPE = 3

DELETE_RECORD_LIST_SCHEMA = {
    "type": "record",
    "name": "HoodieDeleteRecordList",
    "fields": [
        {
            "name": "deleteRecordList",
            "type": {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "HoodieDeleteRecord",
                    "fields": [
                        {"name": "recordKey", "type": ["null", "string"], "default": None},
                        {"name": "partitionPath", "type": ["null", "string"], "default": None},
                        {
                            "name": "orderingVal",
                            "type": [
                                "null", "int", "long", "float", "double", "bytes", "string",
                                {"type": "bytes", "logicalType": "decimal", "precision": 30, "scale": 15},
                                {"type": "int", "logicalType": "date"},
                                {"type": "int", "logicalType": "time-millis"},
                                {"type": "long", "logicalType": "time-micros"},
                                {"type": "long", "logicalType": "timestamp-millis"},
                                {"type": "long", "logicalType": "timestamp-micros"},
                            ],
                            "default": None,
                        },
                    ],
                },
            },
        }
    ],
}


@dataclass
class LogBlock:
    block_type: int
    header: dict[int, str]
    records: list[dict] = field(default_factory=list)  # data rows (avro/parquet)
    delete_records: list[tuple] = field(default_factory=list)  # (key, partition, ordering)
    schema_json: dict | None = None
    hfile_content: bytes | None = None  # raw HFile bytes (MDT log blocks)

    @property
    def instant_time(self) -> str | None:
        return self.header.get(KEY_INSTANT_TIME)

    @property
    def target_instant_time(self) -> str | None:
        return self.header.get(KEY_TARGET_INSTANT_TIME)

    @property
    def is_rollback_command(self) -> bool:
        return self.block_type == BLOCK_COMMAND and self.header.get(
            KEY_COMMAND_BLOCK_TYPE, "0"
        ) == "0"


def _read_metadata_map(r: Reader) -> dict[int, str]:
    (count,) = struct.unpack(">I", r.read(4))
    out = {}
    for _ in range(count):
        (key,) = struct.unpack(">I", r.read(4))
        (vlen,) = struct.unpack(">I", r.read(4))
        out[key] = r.read(vlen).decode("utf-8")
    return out


def read_log_file(path: str, options: dict | None = None) -> list[LogBlock]:
    """Every block of the log file at ``path``, opened with the table's
    storage ``options``."""
    from hudi_rs_spark.fs.storage import storage_for

    buf = storage_for(path, options).read_bytes(path)
    r = Reader(buf)
    blocks: list[LogBlock] = []
    while not r.at_end():
        magic = r.read(6)
        if magic != MAGIC:
            raise ValueError(f"bad log magic in {path}")
        pos_after_magic = r.pos
        (block_len,) = struct.unpack(">Q", r.read(8))
        (version,) = struct.unpack(">I", r.read(4))
        if version not in (0, 1):
            raise ValueError(f"unsupported log format version {version}")
        block_type = BLOCK_CORRUPTED
        header: dict[int, str] = {}
        if version >= 1:
            (block_type,) = struct.unpack(">I", r.read(4))
            header = _read_metadata_map(r)
            (content_len,) = struct.unpack(">Q", r.read(8))
        else:
            content_len = block_len
        content = r.read(content_len)
        if version >= 1:
            _footer = _read_metadata_map(r)
            _total = struct.unpack(">Q", r.read(8))
        # defensively re-align to the declared block end
        r.pos = pos_after_magic + 8 + block_len

        block = LogBlock(block_type=block_type, header=header)
        if block_type in (BLOCK_AVRO_DATA, BLOCK_CDC_DATA):
            # CDC blocks serialize exactly like avro data blocks (the CDC
            # schema rides in the header); the reference scans them as
            # record data alongside Avro/Parquet blocks
            # (scanner.rs:182,223), so a CDC-enabled table reads instead
            # of failing.
            _decode_avro_data(content, header, block)
        elif block_type == BLOCK_PARQUET_DATA:
            _decode_parquet_data(content, block)
        elif block_type == BLOCK_DELETE:
            _decode_delete(content, block)
        elif block_type == BLOCK_HFILE_DATA:
            # metadata-table log block: payload is a complete HFile; kept
            # raw for the MDT reader (mixing HFile and row data blocks in
            # one slice is invalid — scanner.rs detect_content_type — so
            # the table read path never consumes these as rows)
            block.hfile_content = content
        elif block_type in (BLOCK_COMMAND, BLOCK_CORRUPTED):
            pass
        else:
            raise ValueError(f"unsupported log block type {block_type}")
        blocks.append(block)
    return blocks


def _decode_avro_data(content: bytes, header: dict[int, str], block: LogBlock) -> None:
    r = Reader(content)
    (block_version,) = struct.unpack(">I", r.read(4))
    if block_version != 3:
        raise ValueError(f"unsupported avro log block version {block_version}")
    schema = json.loads(header[KEY_SCHEMA])
    names = collect_names(schema)
    (count,) = struct.unpack(">I", r.read(4))
    for _ in range(count):
        (rec_len,) = struct.unpack(">I", r.read(4))
        rec = Reader(r.read(rec_len))
        block.records.append(decode(rec, schema, names))
    block.schema_json = schema


def _decode_parquet_data(content: bytes, block: LogBlock) -> None:
    import pyarrow.parquet as pq

    table = pq.read_table(io.BytesIO(content))
    block.records = table.to_pylist()


def _decode_delete(content: bytes, block: LogBlock) -> None:
    r = Reader(content)
    (block_version,) = struct.unpack(">I", r.read(4))
    if block_version != 3:
        raise ValueError(f"unsupported delete block version {block_version}")
    (nbytes,) = struct.unpack(">I", r.read(4))
    rec = Reader(r.read(nbytes))
    names = collect_names(DELETE_RECORD_LIST_SCHEMA)
    value = decode(rec, DELETE_RECORD_LIST_SCHEMA, names)
    for d in value["deleteRecordList"]:
        block.delete_records.append(
            (d.get("recordKey"), d.get("partitionPath"), d.get("orderingVal"))
        )


def rollback_targets(blocks: list[LogBlock]) -> set[str]:
    """Target instants voided by rollback command blocks."""
    return {
        b.target_instant_time
        for b in blocks
        if b.is_rollback_command and b.target_instant_time
    }


def valid_blocks(
    blocks: list[LogBlock],
    start_exclusive: str | None = None,
    end_inclusive: str | None = None,
    valid_instants: set[str] | None = None,
    rollback_targets_override: set[str] | frozenset[str] | None = None,
    archival_boundary: str | None = None,
    pending_instants: set[str] | frozenset[str] | None = None,
) -> list[LogBlock]:
    """Apply rollback voiding then instant-range gating
    (scanner.rs:99-168; range semantics open-closed like
    InstantRange::new(..., false, true)).

    ``rollback_targets_override``: the SLICE-level target set. The
    reference aggregates rollback targets across all log files of a file
    group before filtering (scanner.rs CollectedBlocks) — a rollback
    command appended to a later log file (writer rollover) must void data
    blocks in an earlier file, which a per-file scan cannot see. Callers
    with multi-file slices pass the aggregated set; None falls back to
    this block list's own commands."""
    targets = (
        rollback_targets_override
        if rollback_targets_override is not None
        else rollback_targets(blocks)
    )
    out = []
    for b in blocks:
        if b.block_type == BLOCK_COMMAND:
            continue
        t = b.instant_time
        if t is None or t in targets:
            continue
        if start_exclusive is not None and t <= start_exclusive:
            continue
        if end_inclusive is not None and t > end_inclusive:
            continue
        if valid_instants is not None and t not in valid_instants:
            # pending/rolled-back commit — unless older than the archival
            # boundary AND free of a live requested/inflight marker (a
            # crashed write can predate the boundary; its blocks must
            # stay invisible until lazy rollback cleans it)
            archived_ok = (
                archival_boundary is not None
                and t < archival_boundary
                and (pending_instants is None or t not in pending_instants)
            )
            if not archived_ok:
                continue
        out.append(b)
    return out
