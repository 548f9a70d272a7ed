"""Pure-Python WRITER for Lance v2 data files — the write-side dual of
``lance/reader.py`` (same re-derived subset of the published Lance file
layout; reference integration: crates/core/src/file_group/base_file/
lance.rs:22-53, which delegates to the `lance-file` crate that is not
available in this environment).

Emits exactly the closed encoding set the reader decodes — and that
Hudi's own Lance writer produces for tabular data:

- flat           fixed-width values (1/32/64/128 bits)
- nullable       no_nulls / all_nulls / some_nulls{validity, values}
- binary         cumulative end offsets + byte buffer, null adjustment
- list           offsets page over a child column (child follows its
                 parent in the flattened pre-order field list)

Layout written (mirrors the reader's docstring):

    [data buffers][global buffer 0: FileDescriptor{Schema}]
    [column metadatas][column metadata offset table]
    [global buffer offset table][40-byte footer, magic "LANC"]

One page per column: Hudi base files are bounded by the writer's
file-rolling (max_rows_per_file / max_buffer_bytes caps), so a single
page keeps the metadata minimal; the reader handles multi-page files
from real Lance writers regardless.

Round-trip authority: ``tests/test_lance_writer.py`` pins writer →
reader equality against pyarrow on every supported type, and the
golden-fixture suite keeps the READER honest against real Lance files —
together they pin this writer to the real format.
"""

from __future__ import annotations

import struct

import pyarrow as pa

MAGIC = b"LANC"


# ---------------------------------------------------------------------------
# minimal protobuf wire-format writer (dual of reader._fields)
def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(fno: int, wt: int) -> bytes:
    return _varint((fno << 3) | wt)


def _len_field(fno: int, payload: bytes) -> bytes:
    return _tag(fno, 2) + _varint(len(payload)) + payload


def _varint_field(fno: int, n: int) -> bytes:
    return _tag(fno, 0) + _varint(n)


def _packed(values: list[int]) -> bytes:
    return b"".join(_varint(v) for v in values)


# ---------------------------------------------------------------------------
# logical types
_LOGICAL = {
    pa.int32(): ("int32", 32),
    pa.int64(): ("int64", 64),
    pa.float32(): ("float", 32),
    pa.float64(): ("double", 64),
    pa.bool_(): ("bool", 1),
    pa.date32(): ("date32:day", 32),
}


def _logical_type(typ: pa.DataType) -> tuple[str, int]:
    """(logical_type string, bits per value; 0 = variable width)."""
    if typ in _LOGICAL:
        return _LOGICAL[typ]
    if typ == pa.string():
        return "string", 0
    if typ == pa.binary():
        return "binary", 0
    if pa.types.is_timestamp(typ):
        lt = f"timestamp:{typ.unit}"
        if typ.tz:
            lt += f":{typ.tz}"
        return lt, 64
    if pa.types.is_decimal128(typ):
        return f"decimal:128:{typ.precision}:{typ.scale}", 128
    if pa.types.is_list(typ):
        return "list", 0
    raise ValueError(f"unsupported arrow type for lance write: {typ}")


# ---------------------------------------------------------------------------
class _Writer:
    def __init__(self):
        self.out = bytearray()

    def put(self, data: bytes) -> tuple[int, int]:
        pos = len(self.out)
        self.out.extend(data)
        return pos, len(data)

    # -- ArrayEncoding builders -----------------------------------------
    @staticmethod
    def _flat_enc(bits: int, buffer_index: int) -> bytes:
        buf_msg = _varint_field(1, buffer_index)
        return _len_field(1, _varint_field(1, bits) + _len_field(2, buf_msg))

    @staticmethod
    def _nullable(variant: int, payload: bytes) -> bytes:
        return _len_field(2, _len_field(variant, payload))

    def _values_buffer(self, arr: pa.Array, bits: int) -> bytes:
        """Raw little-endian fixed-width values, nulls as zeros."""
        arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        if arr.null_count:
            arr = arr.fill_null(_zero_of(arr.type))
        if bits == 1:
            out = bytearray((len(arr) + 7) // 8)
            for i, v in enumerate(arr.to_pylist()):
                if v:
                    out[i >> 3] |= 1 << (i & 7)
            return bytes(out)
        if bits == 128:
            scale = arr.type.scale
            return b"".join(
                int(
                    0 if v is None else round(v.scaleb(scale))
                ).to_bytes(16, "little", signed=True)
                for v in arr.to_pylist()
            )
        # 32/64-bit: pyarrow's own buffer is already the wire format,
        # but only when the array has zero offset; normalize via take
        np_arr = _fixed_np(arr, bits)
        return np_arr.tobytes()

    def _validity_bits(self, arr: pa.Array) -> bytes:
        out = bytearray((len(arr) + 7) // 8)
        for i in range(len(arr)):
            if arr[i].is_valid:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)

    def encode_fixed_page(self, arr: pa.Array, bits: int) -> tuple[list, bytes]:
        """(buffers, ArrayEncoding) for a fixed-width column page."""
        if arr.null_count == len(arr) and len(arr):
            return [], self._nullable(2, b"")  # all_nulls
        values = self.put(self._values_buffer(arr, bits))
        if arr.null_count == 0:
            inner = _len_field(1, self._flat_enc(bits, 0))
            return [values], self._nullable(1, inner)  # no_nulls
        validity = self.put(self._validity_bits(arr))
        some = _len_field(1, self._flat_enc(1, 1)) + _len_field(
            2, self._flat_enc(bits, 0)
        )
        return [values, validity], self._nullable(3, some)

    def encode_binary_page(self, arr: pa.Array) -> tuple[list, bytes]:
        """(buffers, ArrayEncoding) for string/binary."""
        data = bytearray()
        ends: list[int] = []
        nulls = False
        raw = arr.to_pylist()
        for v in raw:
            if v is None:
                nulls = True
            else:
                data.extend(v.encode() if isinstance(v, str) else v)
            ends.append(len(data))
        adjustment = len(data) + 1 if nulls else 0
        if adjustment:
            ends = [
                e + adjustment if v is None else e
                for e, v in zip(ends, raw)
            ]
        ends_buf = self.put(
            b"".join(struct.pack("<Q", e) for e in ends)
        )
        data_buf = self.put(bytes(data))
        msg = (
            _len_field(1, self._flat_enc(64, 0))
            + _len_field(2, self._flat_enc(8, 1))
            + _varint_field(3, adjustment)
        )
        return [ends_buf, data_buf], _len_field(6, msg)

    def encode_list_page(self, arr: pa.Array) -> tuple[list, bytes, pa.Array]:
        """(buffers, ArrayEncoding, flattened child values) for list."""
        arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        ends: list[int] = []
        child_values = []
        n_items = 0
        nulls = False
        for i in range(len(arr)):
            if arr[i].is_valid:
                vals = arr[i].as_py()
                child_values.extend(vals)
                n_items += len(vals)
            else:
                nulls = True
            ends.append(n_items)
        adjustment = n_items + 1 if nulls else 0
        if adjustment:
            ends = [
                e + adjustment if not arr[i].is_valid else e
                for i, e in enumerate(ends)
            ]
        ends_buf = self.put(b"".join(struct.pack("<Q", e) for e in ends))
        msg = (
            _len_field(1, self._flat_enc(64, 0))
            + _varint_field(2, adjustment)
            + _varint_field(3, n_items)
        )
        child_type = arr.type.value_type
        child = pa.array(child_values, type=child_type)
        return [ends_buf], _len_field(4, msg), child


def _zero_of(typ: pa.DataType):
    if pa.types.is_decimal128(typ):
        import decimal

        return decimal.Decimal(0).scaleb(-typ.scale)
    if typ == pa.bool_():
        return False
    if pa.types.is_timestamp(typ) or pa.types.is_date(typ):
        return 0
    if typ in (pa.float32(), pa.float64()):
        return 0.0
    return 0


def _fixed_np(arr: pa.Array, bits: int):
    import numpy as np

    dt = {
        (pa.int32(), 32): "<i4", (pa.int64(), 64): "<i8",
        (pa.float32(), 32): "<f4", (pa.float64(), 64): "<f8",
        (pa.date32(), 32): "<i4",
    }.get((arr.type, bits))
    if dt is None:
        if pa.types.is_timestamp(arr.type):
            dt = "<i8"
        else:
            raise ValueError(f"no numpy dtype for {arr.type}")
    np_vals = arr.cast(
        pa.int64() if bits == 64 and not arr.type.equals(pa.float64())
        and not arr.type.equals(pa.int64()) else arr.type
    ).to_numpy(zero_copy_only=False)
    return np_vals.astype(dt)


def write_lance(table: pa.Table) -> bytes:
    """Serialize an Arrow table as a Lance v2 (2.0) file byte string."""
    w = _Writer()
    table = table.combine_chunks()

    # flatten fields pre-order: a list field's single child follows it
    flat_fields: list[tuple[str, pa.DataType, bool, int]] = []  # name, typ, nullable, parent
    columns: list[pa.Array | None] = []  # per flattened field

    for i, fld in enumerate(table.schema):
        flat_fields.append((fld.name, fld.type, fld.nullable, -1))
        col = table.column(fld.name)
        col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        columns.append(col)
        if pa.types.is_list(fld.type):
            child_f = fld.type.value_field
            flat_fields.append(
                (child_f.name or "element", child_f.type, child_f.nullable,
                 len(flat_fields) - 1)
            )
            columns.append(None)  # filled when the parent page is encoded

    # encode pages (data buffers land first in the file)
    col_meta: list[bytes] = []
    pending_child: dict[int, pa.Array] = {}
    for idx, ((name, typ, nullable, parent), col) in enumerate(
        zip(flat_fields, columns)
    ):
        if col is None:
            col = pending_child.pop(idx)
        rows = len(col)
        lt, bits = _logical_type(typ)
        if lt == "list":
            buffers, enc, child = w.encode_list_page(col)
            pending_child[idx + 1] = child
        elif bits == 0:
            buffers, enc = w.encode_binary_page(col)
        else:
            buffers, enc = w.encode_fixed_page(col, bits)
        wrapped = _len_field(1, b"/lance.encodings.ArrayEncoding") + _len_field(
            2, enc
        )
        page_enc = _len_field(2, _len_field(1, wrapped))
        page = (
            _len_field(1, _packed([p for p, _ in buffers]))
            + _len_field(2, _packed([s for _, s in buffers]))
            + _varint_field(3, rows)
            + _len_field(4, page_enc)
            + _varint_field(5, 0)  # priority: first (only) page
        )
        col_meta.append(_len_field(1, b"") + _len_field(2, page))

    # global buffer 0: FileDescriptor{1: Schema{1: repeated Field}}
    fields_msg = b""
    for fid, (name, typ, nullable, parent) in enumerate(flat_fields):
        lt, _bits = _logical_type(typ)
        parent_enc = parent if parent >= 0 else (1 << 64) - 1  # -1 two's compl.
        fields_msg += _len_field(
            1,
            _len_field(2, name.encode())
            + _varint_field(3, fid)
            + _varint_field(4, parent_enc)
            + _len_field(5, lt.encode())
            + _varint_field(6, 1 if nullable else 0),
        )
    descriptor = _len_field(1, fields_msg)
    gb_pos, gb_size = w.put(descriptor)

    cm_start = len(w.out)
    cm_spans = [w.put(m) for m in col_meta]
    cmo_start = len(w.out)
    for pos, size in cm_spans:
        w.out.extend(struct.pack("<QQ", pos, size))
    gbo_start = len(w.out)
    w.out.extend(struct.pack("<QQ", gb_pos, gb_size))

    w.out.extend(struct.pack("<QQQ", cm_start, cmo_start, gbo_start))
    w.out.extend(struct.pack("<IIHH", 1, len(flat_fields), 0, 3))
    w.out.extend(MAGIC)
    return bytes(w.out)
