"""Metadata-table ``record_index`` partition: record key -> file group
location, for point lookups that read ONE file slice instead of scanning
the table.

Beyond the reference's MDT scope (its read path uses only ``files``), but
the payload shape is the public HoodieMetadataRecord.recordIndexMetadata:
partitionName + the file id packed as UUID high/low bits + fileIndex
(fileIdEncoding 0) or a raw fileId string (encoding 1).

Scale story: a key lookup on a 100 TB table becomes O(record-index slice)
driver work + a single-file-group Spark scan, instead of a full-table
scan-and-filter.
"""

from __future__ import annotations

from hudi_rs_spark.avro.binary import Reader, collect_names, decode
from hudi_rs_spark.metadata.files_partition import iter_partition_hfiles

RECORD_INDEX_PARTITION = "record_index"


def _uuid_from_bits(high: int, low: int) -> str:
    val = ((high & 0xFFFFFFFFFFFFFFFF) << 64) | (low & 0xFFFFFFFFFFFFFFFF)
    h = f"{val:032x}"
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _file_id(ri: dict) -> str | None:
    enc = ri.get("fileIdEncoding", 0)
    if enc == 1:
        return ri.get("fileId") or None
    high, low = ri.get("fileIdHighBits"), ri.get("fileIdLowBits")
    if high is None or low is None:
        return None
    base = _uuid_from_bits(high, low)
    idx = ri.get("fileIndex")
    return f"{base}-{idx}" if idx is not None and idx >= 0 else base


def read_record_index(
    data_table_base_path: str,
    keys: set[str] | None = None,
    file_id: str | None = None,
    snapshot=None,
) -> dict[str, tuple[str, str]]:
    """{record_key: (partition_path, file_id)}. With ``keys`` given, each
    index HFile answers through its block index (hfile/reader.py
    lookup_records — reference reader.rs:937 parity): only the blocks
    holding requested keys decompress, O(log blocks) per key, instead of
    a full index scan — the point of a point lookup on a 10^9-key index.
    ``snapshot``: the partition as ``files_partition.plan_partition``
    planned it (shard tasks get it from the driver); None plans here."""
    # Fold rule (r13 correctness fix): one commit can legitimately emit
    # BOTH a tombstone and an add for the same key from DIFFERENT writer
    # tasks (update.partition.path=true: the record moves — tombstone at
    # the old location, insert at the new one), landing as same-instant
    # same-version log-file twins whose filename order is task-schedule
    # dependent. A commit's index mutations are a SET: within one
    # instant, deletes apply BEFORE adds so delete+add nets to the add,
    # deterministically. Across instants the instant order (later commit
    # wins) is the semantic order; base files (compacted merged state)
    # apply first.
    #
    # r14 (ADVICE): iter_partition_hfiles yields in slice merge order —
    # base first, log blocks in non-decreasing instant order except the
    # same-instant twins — so the fold streams with PER-INSTANT
    # buffering: memory stays O(live keys + one commit's entries), not
    # O(all log entries), and there is no global sort. If a block ever
    # arrives with an instant EARLIER than one already folded (possible
    # only if log-file name order ever disagrees with block-instant
    # order), the streaming pass aborts and the fold re-reads in the
    # r13 collect-everything/global-sort mode — bitwise-identical
    # semantics, never silently wrong.
    src = (data_table_base_path, keys, file_id, snapshot)
    try:
        return _fold_streaming(*src)
    except _OutOfOrderInstant:
        return _fold_collected(*src)


class _OutOfOrderInstant(Exception):
    pass


def _iter_entries(data_table_base_path, keys, file_id, snapshot):
    """Yield (slice_ix, order_instant, key, loc) per decoded index
    entry, in iter_partition_hfiles merge order (loc None = tombstone).
    Record keys never span slices (shard = hash(key)), so folds may
    treat each slice as an independent stream."""
    schema = names = None
    sorted_keys = sorted(keys) if keys is not None else None
    for tup in iter_partition_hfiles(
        data_table_base_path, RECORD_INDEX_PARTITION, file_id=file_id,
        with_instants=True, snapshot=snapshot,
    ):
        is_base, hf, instant = tup[0], tup[1], tup[2]
        slice_ix = tup[3] if len(tup) > 3 else 0
        if schema is None:
            schema = hf.avro_schema()
            if schema is None:
                raise ValueError("MDT record_index HFile carries no avro schema")
            names = collect_names(schema)
        if sorted_keys is not None:
            pairs = sorted(hf.lookup_records(sorted_keys).items())
        else:
            pairs = hf.records()
        order_instant = "" if is_base else (instant or "")
        for k, v in pairs:
            key = k.decode("utf-8", errors="replace")
            if keys is not None and key not in keys:
                continue
            loc: tuple[str, str] | None = None
            if v:
                d = decode(Reader(v), schema, names)
                ri = d.get("recordIndexMetadata")
                if ri is not None:
                    fid = _file_id(ri)
                    if fid:
                        loc = (ri.get("partitionName") or "", fid)
            yield slice_ix, order_instant, key, loc


def _fold_streaming(data_table_base_path, keys, file_id, snapshot):
    out: dict[str, tuple[str, str]] = {}
    group: list[tuple[str, tuple[str, str] | None]] = []
    group_key: tuple[int, str] = (-1, "")

    def apply_group() -> None:
        # deletes before adds within the instant; input order inside
        # each class (matches the stable global sort on (is_add, seq))
        for want_add in (False, True):
            for key, loc in group:
                if (loc is not None) != want_add:
                    continue
                if loc is None:
                    out.pop(key, None)  # tombstone: key deleted
                else:
                    out[key] = loc
        group.clear()

    for slice_ix, order_instant, key, loc in _iter_entries(
        data_table_base_path, keys, file_id, snapshot
    ):
        k = (slice_ix, order_instant)
        if k < group_key:
            # instant order regressed WITHIN a slice: name order and
            # block-instant order disagree — fall back to global sort
            raise _OutOfOrderInstant
        if k != group_key:
            apply_group()
            group_key = k
        group.append((key, loc))
    apply_group()
    return out


def _fold_collected(data_table_base_path, keys, file_id, snapshot):
    """r13 shape: collect every entry, stable global sort on
    (instant, deletes-before-adds, arrival), fold once. Keys never span
    slices, so sorting on instant across slices is equivalent to
    per-slice folding."""
    entries = [
        (order_instant, loc is not None, seq, key, loc)
        for seq, (_six, order_instant, key, loc) in enumerate(
            _iter_entries(data_table_base_path, keys, file_id, snapshot)
        )
    ]
    out: dict[str, tuple[str, str]] = {}
    for _, _, _, key, loc in sorted(entries, key=lambda e: e[:3]):
        if loc is None:
            out.pop(key, None)
        else:
            out[key] = loc
    return out


def has_record_index_partition(config) -> bool:
    parts = config.props.get("hoodie.table.metadata.partitions", "")
    return RECORD_INDEX_PARTITION in [p.strip() for p in parts.split(",") if p.strip()]
