"""Table version upgrade / downgrade — Hudi's UpgradeDowngrade action
(CALL upgrade_table / downgrade_table).

Version layouts this engine writes (config/table_config.py):

- v6: flat timeline in ``.hoodie/`` (layout 1), completed instants
  named ``{instant}.{action}``; no MDT/CDC/NBCC.
- v8: timeline under ``.hoodie/timeline/`` (layout 2), completed names
  ``{requested}_{completion}.{action}`` (completion-time ordering);
  unlocks MDT, CDC, NBCC, scheduled services.
- v9: v8 layout + ``hoodie.table.format=native`` and
  ``hoodie.table.ordering.fields`` (precombine rename).

Upgrade 6→8 moves every instant file into ``timeline/`` and backfills
the completion timestamp as the instant's own requested timestamp —
deterministic and order-preserving (Hudi's upgrade backfills from file
mtimes; requested==completion is the same total order for a v6 table,
whose single-writer history completed in requested order). 8→9 and the
downgrades are property edits plus the reverse file moves.

Downgrade 8→6 refuses while v8-only features are live (metadata table
partitions, CDC) — dropping the version would leave state a v6
reader/writer cannot maintain. Both directions refuse while PENDING
instants or service plans exist: resolve or roll back first (Hudi's
UpgradeDowngrade does the same rollback-first dance).

All moves are driver-side renames of timeline METADATA files —
O(active instants), zero data I/O, any table size.
"""

from __future__ import annotations

import re

_INSTANT_RE = re.compile(
    r"^(\d{10,17})(?:_(\d{10,17}))?"
    r"\.(commit|deltacommit|replacecommit|clean|savepoint|rollback)$"
)
_PENDING_RE = re.compile(r"\.(requested|inflight)$")

_SUPPORTED = {(6, 8), (8, 9), (6, 9), (9, 8), (8, 6), (9, 6)}


def _guard_no_pending(path: str) -> None:
    from hudi_rs_spark.sources.hudi import HudiTable

    tl = HudiTable(path, spark=None, listing="direct").timeline
    pend = sorted(tl.pending_timestamps)
    if pend:
        raise ValueError(
            f"cannot change table version with pending instants {pend[:3]}: "
            "finish or roll back in-flight writes and execute/resolve "
            "scheduled service plans first (write.rollback_failed_writes, "
            "run_scheduled_compaction/clustering)"
        )


def upgrade_table(path: str, to_version: int = 8) -> int:
    """Upgrade (or downgrade) the table at ``path`` to ``to_version``;
    returns the number of timeline files moved (0 = property-only or
    no-op). Refuses unsupported jumps and unresolved pending state."""
    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        format_properties,
    )
    from hudi_rs_spark.write.writer import _fs

    tc = HudiTableConfig.from_base_path(path)
    cur = tc.table_version
    if cur == to_version:
        return 0
    if (cur, to_version) not in _SUPPORTED:
        raise ValueError(
            f"unsupported version change {cur} -> {to_version}; "
            f"supported: {sorted(_SUPPORTED)}"
        )
    _guard_no_pending(path)
    st = _fs(path)
    props = dict(tc.props)
    moved = 0
    step_from = cur
    # walk one step at a time so 6->9 shares the audited 6->8 move
    while step_from != to_version:
        if step_from == 6:
            moved += _move_flat_to_timeline(st, path)
            props["hoodie.table.version"] = "8"
            props["hoodie.timeline.layout.version"] = "2"
            props["hoodie.timeline.path"] = "timeline"
            step_from = 8
        elif step_from == 8 and to_version == 9:
            props["hoodie.table.version"] = "9"
            props["hoodie.table.format"] = "native"
            pre = props.get("hoodie.table.precombine.field")
            if pre and "hoodie.table.ordering.fields" not in props:
                props["hoodie.table.ordering.fields"] = pre
            step_from = 9
        elif step_from == 9:
            props["hoodie.table.version"] = "8"
            props.pop("hoodie.table.format", None)
            props.pop("hoodie.table.initial.version", None)
            ordering = props.get("hoodie.table.ordering.fields")
            if ordering and "hoodie.table.precombine.field" not in props:
                props["hoodie.table.precombine.field"] = (
                    ordering.split(",")[0]
                )
            step_from = 8
        elif step_from == 8 and to_version == 6:
            _guard_downgrade_to_6(props)
            moved += _move_timeline_to_flat(st, path)
            props["hoodie.table.version"] = "6"
            props["hoodie.timeline.layout.version"] = "1"
            props.pop("hoodie.timeline.path", None)
            step_from = 6
    st.publish_bytes(
        f"{path}/.hoodie/hoodie.properties", format_properties(props).encode()
    )
    return moved


def downgrade_table(path: str, to_version: int = 6) -> int:
    """Alias with Hudi's procedure name; same engine as upgrade_table."""
    return upgrade_table(path, to_version)


def _guard_downgrade_to_6(props: dict) -> None:
    blockers = []
    if props.get("hoodie.table.metadata.partitions", "").strip():
        blockers.append(
            "metadata table partitions "
            f"({props['hoodie.table.metadata.partitions']})"
        )
    if props.get("hoodie.table.cdc.enabled", "").lower() == "true":
        blockers.append("cdc.enabled")
    if blockers:
        raise ValueError(
            "cannot downgrade to v6 with v8-only features live: "
            + ", ".join(blockers)
            + " — a v6 writer cannot maintain them"
        )


def _move_flat_to_timeline(st, path: str) -> int:
    hoodie = f"{path}/.hoodie"
    tdir = f"{hoodie}/timeline"
    st.makedirs(tdir)
    moved = 0
    for e in st.list_dir(hoodie):
        m = _INSTANT_RE.match(e.name)
        if not m:
            continue
        ts, completion, action = m.group(1), m.group(2), m.group(3)
        # completion backfill: requested == completion (deterministic,
        # order-preserving for a v6 single-writer history)
        new = f"{ts}_{completion or ts}.{action}"
        st.rename(f"{hoodie}/{e.name}", f"{tdir}/{new}")
        moved += 1
    return moved


def _move_timeline_to_flat(st, path: str) -> int:
    hoodie = f"{path}/.hoodie"
    tdir = f"{hoodie}/timeline"
    if not st.isdir(tdir):
        return 0
    moved = 0
    for e in st.list_dir(tdir):
        m = _INSTANT_RE.match(e.name)
        if not m:
            if _PENDING_RE.search(e.name):
                raise ValueError(
                    f"pending marker {e.name} on the timeline — resolve "
                    "before downgrading"
                )
            continue  # history/ etc. stay where they are (fail-open)
        ts, action = m.group(1), m.group(3)
        st.rename(f"{tdir}/{e.name}", f"{hoodie}/{ts}.{action}")
        moved += 1
    return moved
