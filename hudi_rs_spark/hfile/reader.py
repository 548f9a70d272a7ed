"""HBase HFile v3 reader for the Hudi metadata-table read path: full
scan of data-block cells, INDEXED point lookup and prefix scan over the
load-on-open block index, and file-info access for the embedded avro
schema.

Re-expresses the format handled by
/root/reference/crates/core/src/hfile/{trailer.rs:66-133, block.rs:62-145,
key.rs:198-280, reader.rs:74-1010, proto.rs:28-89}:

  - fixed 4096-byte trailer at EOF: magic "TRABLK\"$", length-delimited
    protobuf TrailerProto, last 4 bytes = [minor, major(3 bytes)]
  - blocks: 33-byte header (magic, on-disk size, uncompressed size, prev
    offset, checksum type, bytes/checksum, on-disk-with-header), payload
    (possibly compressed), per-chunk CRC checksums counted INSIDE the
    on-disk size
  - data-block cells: key_len(i32) value_len(i32) key value mvcc(1B);
    key content = 2-byte length prefix + bytes
  - load-on-open section (reader.rs:225-416): root index block
    ("IDXROOT2", entry = offset(8) size(4) vlong-len serialized-key),
    descending through "IDXINTE2"/"IDXLEAF2" blocks (entry-count +
    secondary-offset table + entries) when num_data_index_levels > 1
  - file info block: "FILEINF2" + "PBUF" + length-delimited InfoProto of
    (key, value) byte pairs; "schema" holds the avro record schema

lookup_records / records_by_prefix (reader.rs:937/:972 parity) decode
ONLY the blocks the index selects — O(log blocks) work for a handful of
keys instead of a full decompress-everything scan; ``n_blocks_decoded``
counts block decodes so tests can pin that property.

The driver reads MDT partitions with this (they are O(table partitions)
small); nothing here touches executors.
"""

from __future__ import annotations

import json
import struct
from bisect import bisect_right

from hudi_rs_spark.hfile import compression as hfc

TRAILER_SIZE = 4096
BLOCK_HEADER_SIZE = 33
MAGIC_LENGTH = 8
DATA_MAGICS = (b"DATABLK*", b"DATABLKE")
TRAILER_MAGIC = b'TRABLK"$'
FILEINFO_MAGIC = b"FILEINF2"
PBUF_MAGIC = b"PBUF"
ROOT_INDEX_MAGIC = b"IDXROOT2"
NONROOT_INDEX_MAGICS = (b"IDXLEAF2", b"IDXINTE2")

# HBase compression ids (compression.rs:26-60)
CODEC_LZO, CODEC_GZ, CODEC_NONE, CODEC_SNAPPY, CODEC_LZ4 = 0, 1, 2, 3, 4


def read_hadoop_vlong(buf: bytes, pos: int) -> tuple[int, int]:
    """Hadoop WritableUtils VLong (block.rs:274-311): first byte >= -112
    is the value itself; otherwise it encodes payload size and sign."""
    first = struct.unpack_from(">b", buf, pos)[0]
    if first >= -112:
        return first, pos + 1
    negative = first < -120
    nbytes = ((-119 - first) if negative else (-111 - first)) - 1
    value = int.from_bytes(buf[pos + 1 : pos + 1 + nbytes], "big")
    if negative:
        value = ~value
    return value, pos + 1 + nbytes


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result, shift = 0, 0
    while pos < len(buf):
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return result, pos


def parse_protobuf(buf: bytes) -> dict[int, list]:
    """Minimal protobuf wire-format parse: varint(0) and bytes(2) fields
    (all the Trailer/Info protos use)."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            val, pos = read_varint(buf, pos)
        elif wire == 2:
            n, pos = read_varint(buf, pos)
            val = buf[pos : pos + n]
            pos += n
        elif wire == 5:
            val = buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            val = buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")
        out.setdefault(field, []).append(val)
    return out


def _first_int(pb: dict[int, list], field: int, default: int = 0) -> int:
    v = pb.get(field)
    return int(v[0]) if v else default


class BlockHeader:
    __slots__ = (
        "magic", "on_disk_size", "uncompressed_size", "prev_offset",
        "checksum_type", "bytes_per_checksum", "on_disk_with_header",
    )

    def __init__(self, buf: bytes, off: int):
        self.magic = buf[off : off + MAGIC_LENGTH]
        (self.on_disk_size,) = struct.unpack_from(">i", buf, off + 8)
        (self.uncompressed_size,) = struct.unpack_from(">i", buf, off + 12)
        (self.prev_offset,) = struct.unpack_from(">q", buf, off + 16)
        self.checksum_type = buf[off + 24]
        (self.bytes_per_checksum,) = struct.unpack_from(">i", buf, off + 25)
        (self.on_disk_with_header,) = struct.unpack_from(">i", buf, off + 29)

    def checksum_bytes(self) -> int:
        if self.bytes_per_checksum <= 0:
            return 0
        total = BLOCK_HEADER_SIZE + self.on_disk_size
        chunks = -(-total // self.bytes_per_checksum)
        return chunks * 4

    def next_offset(self, off: int) -> int:
        return off + BLOCK_HEADER_SIZE + self.on_disk_size


class HFile:
    """Parsed HFile over an in-memory byte buffer."""

    def __init__(self, data: bytes):
        self.data = data
        if len(data) < TRAILER_SIZE:
            raise ValueError(f"file too small for HFile trailer: {len(data)}")
        t = data[-TRAILER_SIZE:]
        if t[:MAGIC_LENGTH] != TRAILER_MAGIC:
            raise ValueError("bad HFile trailer magic")
        minor, major = t[-4], (t[-3] << 16) | (t[-2] << 8) | t[-1]
        if major != 3:
            raise ValueError(f"unsupported HFile version {major}.{minor}")
        n, pos = read_varint(t, MAGIC_LENGTH)
        pb = parse_protobuf(t[pos : pos + n])
        self.file_info_offset = _first_int(pb, 1)
        self.load_on_open_offset = _first_int(pb, 2)
        self.data_index_count = _first_int(pb, 5)
        self.entry_count = _first_int(pb, 7)
        self.num_data_index_levels = _first_int(pb, 8, 1)
        self.first_data_block_offset = _first_int(pb, 9)
        self.last_data_block_offset = _first_int(pb, 10)
        self.codec = _first_int(pb, 12, CODEC_NONE)
        self.n_blocks_decoded = 0  # decompress counter (tests pin lookups)
        self._data_index: list[tuple[bytes, int, int]] | None = None
        self._block_cells_cache: dict[int, list[tuple[bytes, bytes]]] = {}
        self.file_info = self._read_file_info()
        self._check_mvcc_support()

    def _check_mvcc_support(self) -> None:
        """Reject HFiles written with MVCC timestamps (reference
        reader.rs:186-221): cells then carry a varint memstore ts, which
        the fixed 1-byte-mvcc cell walk in records() would misparse
        silently. KEY_VALUE_VERSION==1 + MAX_MEMSTORE_TS_KEY>0 == MVCC."""
        ver = self.file_info.get("KEY_VALUE_VERSION")
        if not ver or len(ver) < 4:
            return
        if struct.unpack(">i", ver[:4])[0] != 1:
            return
        ts = self.file_info.get("MAX_MEMSTORE_TS_KEY")
        if ts and len(ts) >= 8 and struct.unpack(">q", ts[:8])[0] > 0:
            raise ValueError(
                "HFile written with MVCC timestamps "
                "(KEY_VALUE_VERSION=1, MAX_MEMSTORE_TS_KEY>0) is unsupported"
            )

    @classmethod
    def from_path(cls, path: str, options: dict | None = None) -> "HFile":
        from hudi_rs_spark.fs.storage import storage_for

        return cls(storage_for(path, options).read_bytes(path))

    # -- blocks -----------------------------------------------------------
    def _block_payload(self, off: int) -> tuple[BlockHeader, bytes]:
        h = BlockHeader(self.data, off)
        self.n_blocks_decoded += 1
        start = off + BLOCK_HEADER_SIZE
        if self.codec == CODEC_NONE:
            payload = self.data[start : start + h.uncompressed_size]
        else:
            end = start + h.on_disk_size - h.checksum_bytes()
            payload = hfc.decompress(self.codec, self.data[start:end], h.uncompressed_size)
            if len(payload) != h.uncompressed_size:
                raise ValueError("HFile block decompressed to unexpected size")
        return h, payload

    def _read_file_info(self) -> dict[str, bytes]:
        if not self.file_info_offset:
            return {}
        h, payload = self._block_payload(self.file_info_offset)
        if h.magic != FILEINFO_MAGIC:
            raise ValueError(f"expected FILEINF2 block, got {h.magic!r}")
        if payload[:4] != PBUF_MAGIC:
            raise ValueError("file info block missing PBUF magic")
        n, pos = read_varint(payload, 4)
        info_pb = parse_protobuf(payload[pos : pos + n])
        out: dict[str, bytes] = {}
        for pair_bytes in info_pb.get(1, []):
            pair = parse_protobuf(pair_bytes)
            key = pair.get(1, [b""])[0].decode("utf-8")
            out[key] = pair.get(2, [b""])[0]
        return out

    def avro_schema(self) -> dict | None:
        raw = self.file_info.get("schema")
        return json.loads(raw.decode("utf-8")) if raw else None

    # -- cells ------------------------------------------------------------
    @staticmethod
    def _parse_cells(payload: bytes) -> list[tuple[bytes, bytes]]:
        """Cells of one DATA block: key_len(i32) value_len(i32) key value
        mvcc(1B); key content = 2-byte length prefix + bytes."""
        cells: list[tuple[bytes, bytes]] = []
        pos = 0
        while pos + 8 <= len(payload):
            key_len, val_len = struct.unpack_from(">ii", payload, pos)
            key_start = pos + 8
            content_len = struct.unpack_from(">h", payload, key_start)[0]
            key = payload[key_start + 2 : key_start + 2 + content_len]
            val_start = key_start + key_len
            cells.append((key, payload[val_start : val_start + val_len]))
            pos = val_start + val_len + 1  # +1 mvcc byte (always 0)
        return cells

    def records(self):
        """Yield (key_bytes, value_bytes) for every cell, in key order
        (HFile data blocks are sorted). Sequential block walk — the MDT
        files partition is O(table partitions) records, so a full collect
        is the intended access pattern (reader.rs collect_records)."""
        off = self.first_data_block_offset
        end = self.load_on_open_offset or len(self.data) - TRAILER_SIZE
        while off < end:
            h, payload = self._block_payload(off)
            if h.magic in DATA_MAGICS:
                yield from self._parse_cells(payload)
            off = h.next_offset(off)

    # -- block index (load-on-open section) --------------------------------
    @staticmethod
    def _key_content(serialized: bytes) -> bytes:
        """Index entries store the full serialized cell key; its content
        is behind a 2-byte length prefix (key.rs Key::new/content)."""
        (n,) = struct.unpack_from(">h", serialized, 0)
        return serialized[2 : 2 + n]

    def _parse_root_index(self, payload: bytes, count: int):
        """Root entry = offset(8BE) size(4BE) vlong(serialized-key-len)
        serialized-key (reader.rs:304-356)."""
        out, pos = [], 0
        for _ in range(count):
            off, size = struct.unpack_from(">qi", payload, pos)
            pos += 12
            klen, pos = read_hadoop_vlong(payload, pos)
            out.append((self._key_content(payload[pos : pos + klen]), off, size))
            pos += klen
        return out

    def _parse_nonroot_index(self, payload: bytes):
        """Leaf/intermediate entry table (reader.rs:358-417):
        entry-count(4BE), (count+1) relative offsets, then per entry
        offset(8BE) size(4BE) serialized-key (to the next rel offset)."""
        (count,) = struct.unpack_from(">i", payload, 0)
        rel = list(struct.unpack_from(f">{count + 1}i", payload, 4))
        base = 4 + 4 * (count + 1)
        out = []
        for i in range(count):
            pos = base + rel[i]
            off, size = struct.unpack_from(">qi", payload, pos)
            key = payload[pos + 12 : base + rel[i + 1]]
            out.append((self._key_content(key), off, size))
        return out

    def _data_block_index(self) -> list[tuple[bytes, int, int]]:
        """(first_key_content, block_offset, on_disk_size) per data
        block, sorted by key — root index descended through intermediate
        levels (reader.rs:262-301 BFS)."""
        if self._data_index is not None:
            return self._data_index
        entries: list[tuple[bytes, int, int]] = []
        if self.load_on_open_offset and self.data_index_count:
            h, payload = self._block_payload(self.load_on_open_offset)
            if h.magic != ROOT_INDEX_MAGIC:
                raise ValueError(f"expected IDXROOT2 block, got {h.magic!r}")
            entries = self._parse_root_index(payload, self.data_index_count)
            for _ in range(self.num_data_index_levels - 1):
                nxt = []
                for _, off, _size in entries:
                    ih, ip = self._block_payload(off)
                    if ih.magic not in NONROOT_INDEX_MAGICS:
                        raise ValueError(f"expected index block, got {ih.magic!r}")
                    nxt.extend(self._parse_nonroot_index(ip))
                entries = nxt
        self._data_index = entries
        return entries

    def _block_cells(self, off: int) -> list[tuple[bytes, bytes]]:
        cached = self._block_cells_cache.get(off)
        if cached is not None:
            return cached
        h, payload = self._block_payload(off)
        if h.magic not in DATA_MAGICS:
            raise ValueError(f"index pointed at non-data block {h.magic!r}")
        cells = self._parse_cells(payload)
        self._block_cells_cache[off] = cells
        return cells

    # -- indexed access (reader.rs:937 lookup_records, :972 prefix) --------
    def lookup_records(self, keys) -> dict[bytes, bytes]:
        """{key_bytes: value_bytes} for the requested keys (str or bytes,
        any order), decoding ONLY the index-selected blocks — O(log
        blocks) per key instead of a full-file scan. Falls back to the
        sequential walk when the file predates block indexes."""
        wanted = [k.encode("utf-8") if isinstance(k, str) else k for k in keys]
        if not wanted:
            return {}
        index = self._data_block_index()
        if not index:
            want = set(wanted)
            return {k: v for k, v in self.records() if k in want}
        firsts = [e[0] for e in index]
        by_block: dict[int, set[bytes]] = {}
        for kb in wanted:
            i = bisect_right(firsts, kb) - 1
            if i < 0:
                continue  # before the first block's first key: absent
            by_block.setdefault(index[i][1], set()).add(kb)
        out: dict[bytes, bytes] = {}
        for off, want in by_block.items():
            for key, val in self._block_cells(off):
                if key in want:
                    out[key] = val
        return out

    def records_by_prefix(self, prefix) -> list[tuple[bytes, bytes]]:
        """All (key, value) cells whose key starts with ``prefix``, in
        key order; decodes only the contiguous block range the sorted
        index maps the prefix to."""
        pb = prefix.encode("utf-8") if isinstance(prefix, str) else prefix
        index = self._data_block_index()
        if not index:
            return [(k, v) for k, v in self.records() if k.startswith(pb)]
        firsts = [e[0] for e in index]
        start = max(bisect_right(firsts, pb) - 1, 0)
        out: list[tuple[bytes, bytes]] = []
        for j in range(start, len(index)):
            for key, val in self._block_cells(index[j][1]):
                if key.startswith(pb):
                    out.append((key, val))
                elif key[: len(pb)] > pb:
                    return out  # sorted: past the prefix range
        return out
