"""Hudi log-block framing and avro encoding — the write-side twin of
``logfile/reader.py`` (format re-derived from the public Hudi spec;
reference reader: crates/core/src/file_group/log_file/log_block.rs).
EXPERIMENTAL: see ``hudi_rs_spark.write``."""

from __future__ import annotations

import io
import json
import struct

import pyarrow as pa
import pyarrow.parquet as pq

from hudi_rs_spark.logfile.reader import (
    BLOCK_AVRO_DATA,
    BLOCK_CDC_DATA,
    BLOCK_COMMAND,
    BLOCK_DELETE,
    BLOCK_PARQUET_DATA,
    DELETE_RECORD_LIST_SCHEMA,
    KEY_COMMAND_BLOCK_TYPE,
    KEY_INSTANT_TIME,
    KEY_SCHEMA,
    KEY_TARGET_INSTANT_TIME,
    MAGIC,
)


# ---------------------------------------------------------------------------
# log-block framing (format version 1)
# ---------------------------------------------------------------------------
def _meta_map(entries: dict[int, str]) -> bytes:
    out = struct.pack(">I", len(entries))
    for k, v in entries.items():
        vb = v.encode("utf-8")
        out += struct.pack(">I", k) + struct.pack(">I", len(vb)) + vb
    return out


def frame_block(block_type: int, header: dict[int, str], content: bytes) -> bytes:
    body = (
        struct.pack(">I", 1)
        + struct.pack(">I", block_type)
        + _meta_map(header)
        + struct.pack(">Q", len(content))
        + content
        + _meta_map({})
    )
    total = 6 + 8 + len(body) + 8
    body += struct.pack(">Q", total)
    return MAGIC + struct.pack(">Q", len(body)) + body


def parquet_bytes(columns: dict) -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.table(columns), buf)
    return buf.getvalue()


def parquet_data_block(
    instant: str, columns: dict, extra_header: dict[int, str] | None = None
) -> bytes:
    header = {KEY_INSTANT_TIME: instant}
    if extra_header:
        header.update(extra_header)
    return frame_block(BLOCK_PARQUET_DATA, header, parquet_bytes(columns))


# ---------------------------------------------------------------------------
# minimal avro binary encoder (test-side twin of hudi_rs_spark/avro/binary.py;
# covers the primitives the synthesized blocks need)
# ---------------------------------------------------------------------------
def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _union_branch_matches(value, bname: str) -> bool:
    """Pick the union branch whose avro type fits the python value —
    needed once unions carry several non-null primitives (the delete
    record's orderingVal). int/long share the zigzag encoding, so either
    branch is wire-compatible for python ints."""
    if isinstance(value, bool):
        return bname == "boolean"
    if isinstance(value, int):
        return bname in ("int", "long")
    if isinstance(value, float):
        return bname in ("double", "float")
    if isinstance(value, str):
        return bname == "string"
    if isinstance(value, (bytes, bytearray)):
        return bname == "bytes"
    if isinstance(value, dict):
        return bname in ("record", "map")
    if isinstance(value, (list, tuple)):
        return bname == "array"
    return False


def encode_datum(value, schema) -> bytes:
    if isinstance(schema, list):  # union: write branch index then value
        branch_names = [
            b if isinstance(b, str) else b.get("type") for b in schema
        ]
        if value is None and "null" in branch_names:
            return _zigzag(branch_names.index("null"))
        # exact-type branch first; fall back to first non-null branch
        for i, (branch, bname) in enumerate(zip(schema, branch_names)):
            if value is not None and _union_branch_matches(value, bname):
                return _zigzag(i) + encode_datum(value, branch)
        for i, (branch, bname) in enumerate(zip(schema, branch_names)):
            if value is not None and bname != "null":
                return _zigzag(i) + encode_datum(value, branch)
        raise ValueError(f"no union branch for {value!r}")
    stype = schema if isinstance(schema, str) else schema["type"]
    if stype == "null":
        return b""
    if stype in ("int", "long"):
        return _zigzag(int(value))
    if stype == "string":
        raw = value.encode("utf-8")
        return _zigzag(len(raw)) + raw
    if stype == "boolean":
        return b"\x01" if value else b"\x00"
    if stype == "double":
        return struct.pack("<d", float(value))
    if stype == "float":
        return struct.pack("<f", float(value))
    if stype == "bytes":
        raw = bytes(value)
        return _zigzag(len(raw)) + raw
    if stype == "record":
        out = b""
        for f in schema["fields"]:
            out += encode_datum(value.get(f["name"]), f["type"])
        return out
    if stype == "array":
        if not value:
            return _zigzag(0)
        out = _zigzag(len(value))
        for item in value:
            out += encode_datum(item, schema["items"])
        return out + _zigzag(0)
    if stype == "map":
        if not value:
            return _zigzag(0)
        out = _zigzag(len(value))
        for k, v in value.items():
            kb = k.encode("utf-8")
            out += _zigzag(len(kb)) + kb + encode_datum(v, schema["values"])
        return out + _zigzag(0)
    raise ValueError(f"unsupported avro type for encoder: {stype}")


def avro_data_block(
    instant: str, schema: dict, records: list[dict], block_type: int = BLOCK_AVRO_DATA
) -> bytes:
    """Avro data block: u32 block-version(3) + u32 count + per-record
    (u32 len + datum). CDC blocks (type 6) use the same serialization."""
    content = struct.pack(">I", 3) + struct.pack(">I", len(records))
    for r in records:
        datum = encode_datum(r, schema)
        content += struct.pack(">I", len(datum)) + datum
    header = {KEY_INSTANT_TIME: instant, KEY_SCHEMA: json.dumps(schema)}
    return frame_block(block_type, header, content)


def ocf_bytes(schema: dict, records: list[dict]) -> bytes:
    """Minimal avro Object Container File (null codec, one block)."""
    sync = b"\x07" * 16
    meta_entries = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"null",
    }
    out = b"Obj\x01" + _zigzag(len(meta_entries))
    for k, v in meta_entries.items():
        kb = k.encode()
        out += _zigzag(len(kb)) + kb + _zigzag(len(v)) + v
    out += _zigzag(0) + sync
    payload = b"".join(encode_datum(r, schema) for r in records)
    out += _zigzag(len(records)) + _zigzag(len(payload)) + payload + sync
    return out


# LSM timeline history record schema (public Hudi archived-timeline shape:
# instant identity + the original commit-file bytes as `metadata`)
LSM_HISTORY_SCHEMA = {
    "type": "record",
    "name": "HoodieLSMTimelineInstant",
    "fields": [
        {"name": "instantTime", "type": ["null", "string"], "default": None},
        {"name": "completionTime", "type": ["null", "string"], "default": None},
        {"name": "action", "type": ["null", "string"], "default": None},
        {"name": "metadata", "type": ["null", "bytes"], "default": None},
    ],
}


def write_lsm_history(
    history_dir: str, instants: list[tuple[str, str, str, bytes]]
) -> None:
    """instants: (instantTime, completionTime, action, commit_file_bytes).
    Writes _version_, manifest_{v}, and one compacted OCF history file
    (lsm_tree.rs:91-110 layout)."""
    from hudi_rs_spark.write.writer import _fs

    st = _fs(history_dir)
    records = [
        {"instantTime": ts, "completionTime": ct, "action": act, "metadata": meta}
        for ts, ct, act, meta in instants
    ]
    fname = f"{instants[0][0]}_{instants[-1][0]}_0.avro"
    data = ocf_bytes(LSM_HISTORY_SCHEMA, records)
    st.write_bytes(f"{history_dir}/{fname}", data)
    manifest = {
        "version": 1,
        "entries": [
            {
                "file_name": fname,
                "min_instant": instants[0][0],
                "max_instant": instants[-1][0],
                "level": 0,
                "file_size": len(data),
            }
        ],
    }
    # manifest LAST, version marker after it: readers resolve the
    # archive through _version_ -> manifest -> files, so publish in
    # reverse dependency order for crash consistency
    st.publish_bytes(f"{history_dir}/manifest_1", json.dumps(manifest).encode())
    st.publish_bytes(f"{history_dir}/_version_", b"1")


CDC_SCHEMA = {
    "type": "record",
    "name": "HoodieCdcRecord",
    "fields": [
        {"name": "op", "type": ["null", "string"], "default": None},
        {"name": "ts_ms", "type": ["null", "string"], "default": None},
        {"name": "before", "type": ["null", "string"], "default": None},
        {"name": "after", "type": ["null", "string"], "default": None},
    ],
}


def cdc_block(instant: str, changes: list[dict]) -> bytes:
    return avro_data_block(instant, CDC_SCHEMA, changes, block_type=BLOCK_CDC_DATA)


def delete_block(
    instant: str, deletes: list[tuple[str, str, object]]
) -> bytes:
    """Delete block (type 1): ``deletes`` = (record_key, partition_path,
    ordering_val) triples, avro-encoded as HoodieDeleteRecordList —
    content layout mirrored from the reader's ``_decode_delete``
    (block-version 3, u32 record-bytes length, one record)."""
    rec = encode_datum(
        {
            "deleteRecordList": [
                {"recordKey": k, "partitionPath": p, "orderingVal": o}
                for k, p, o in deletes
            ]
        },
        DELETE_RECORD_LIST_SCHEMA,
    )
    content = struct.pack(">I", 3) + struct.pack(">I", len(rec)) + rec
    return frame_block(BLOCK_DELETE, {KEY_INSTANT_TIME: instant}, content)


def rollback_block(instant: str, target: str) -> bytes:
    return frame_block(
        BLOCK_COMMAND,
        {
            KEY_INSTANT_TIME: instant,
            KEY_TARGET_INSTANT_TIME: target,
            KEY_COMMAND_BLOCK_TYPE: "0",
        },
        b"",
    )



def avro_schema(fields: list[tuple[str, str]]) -> dict:
    """Nullable-union avro record schema from (name, primitive-type)."""
    return {
        "type": "record",
        "name": "rec",
        "fields": [{"name": n, "type": ["null", t], "default": None} for n, t in fields],
    }
