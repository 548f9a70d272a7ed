"""hoodie.properties parsing and table-level configuration.

Re-expresses the config surface in
/root/reference/crates/core/src/config/table.rs:153-177 (keys) and the
java-properties escape rules the files use (``\\:`` etc).
"""

from __future__ import annotations

import enum
import os
from dataclasses import dataclass, field


class TableType(enum.Enum):
    COPY_ON_WRITE = "COPY_ON_WRITE"
    MERGE_ON_READ = "MERGE_ON_READ"


class MergeStrategy(enum.Enum):
    # config/table.rs RecordMergeStrategy values
    APPEND_ONLY = "APPEND_ONLY"
    OVERWRITE_WITH_LATEST = "OVERWRITE_WITH_LATEST"


def parse_properties(text: str) -> dict[str, str]:
    """Minimal java-properties parser: '#'/'!' comments, key=value with
    backslash escapes (\\: \\= \\n \\t \\\\)."""
    out: dict[str, str] = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#") or line.startswith("!"):
            continue
        # find first unescaped '=' or ':'
        key, val, i = None, None, 0
        buf = []
        while i < len(line):
            ch = line[i]
            if ch == "\\" and i + 1 < len(line):
                buf.append(line[i + 1])
                i += 2
                continue
            if ch in ("=", ":") and key is None:
                key = "".join(buf).strip()
                buf = []
                i += 1
                continue
            buf.append(ch)
            i += 1
        if key is None:
            key, val = "".join(buf).strip(), ""
        else:
            val = "".join(buf).strip()
        out[key] = val
    return out


def format_properties(props: dict[str, str]) -> str:
    """The inverse of ``parse_properties``: one ``key=value`` line per
    entry, sorted by key. ``\\`` is escaped everywhere; in keys so are
    ``=``/``:`` (the separators) and a leading ``#``/``!`` (a comment
    marker). The reader strips both sides, so surrounding whitespace
    does not survive."""
    lines = []
    for k, v in sorted(props.items()):
        key = k.replace("\\", "\\\\").replace("=", "\\=").replace(":", "\\:")
        if key.startswith(("#", "!")):
            key = "\\" + key
        val = v.replace("\\", "\\\\")
        lines.append(f"{key}={val}")
    return "\n".join(lines) + "\n"


def update_properties(base, edit, storage_options=None) -> None:
    """Read-modify-publish ``{base}/.hoodie/hoodie.properties`` through
    the storage ``storage_options`` select: ``edit`` receives the parsed
    properties and returns the new ones, which are published atomically
    unless they are unchanged."""
    from hudi_rs_spark.fs.storage import as_local_path, storage_for

    base = as_local_path(base) or base
    st = storage_for(base, storage_options)
    path = f"{base}/.hoodie/hoodie.properties"
    have = parse_properties(st.read_text(path))
    new = edit(dict(have))
    if new != have:
        st.publish_bytes(path, format_properties(new).encode())


@dataclass
class HudiTableConfig:
    """Typed view over hoodie.properties."""

    props: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_base_path(cls, base_path: str) -> "HudiTableConfig":
        from hudi_rs_spark.fs.storage import storage_for

        path = os.path.join(base_path, ".hoodie", "hoodie.properties")
        return cls(parse_properties(storage_for(base_path).read_text(path)))

    # -- core identity ----------------------------------------------------
    @property
    def table_name(self) -> str:
        return self.props.get("hoodie.table.name", "")

    @property
    def table_type(self) -> TableType:
        return TableType(self.props.get("hoodie.table.type", "COPY_ON_WRITE"))

    @property
    def table_version(self) -> int:
        return int(self.props.get("hoodie.table.version", "6"))

    @property
    def timeline_layout_version(self) -> int:
        # layout 1 = flat "{ts}.{action}" files in .hoodie/ (v6);
        # layout 2 = "{requested}_{completed}.{action}" under timeline.path (v8+)
        # (timeline/selector.rs:145-171)
        return int(self.props.get("hoodie.timeline.layout.version", "1"))

    @property
    def timeline_path(self) -> str:
        return self.props.get("hoodie.timeline.path", "")

    @property
    def timeline_history_path(self) -> str:
        return self.props.get("hoodie.timeline.history.path", "history")

    @property
    def archivelog_folder(self) -> str:
        return self.props.get("hoodie.archivelog.folder", "archived")

    @property
    def timezone(self) -> str:
        return self.props.get("hoodie.table.timeline.timezone", "UTC")

    @property
    def archived_read_enabled(self) -> bool:
        # internal.rs:60-84 TimelineArchivedReadEnabled (default false):
        # half of the double gate for reading archived instants
        return (
            self.props.get("hoodie.internal.timeline.archived.enabled", "false").lower()
            == "true"
        )

    # -- record model -----------------------------------------------------
    @property
    def record_key_fields(self) -> list[str]:
        v = self.props.get("hoodie.table.recordkey.fields", "")
        return [f for f in v.split(",") if f]

    @property
    def ordering_fields(self) -> list[str]:
        # "ordering" (v9) aka "precombine" (v6/v8)
        v = self.props.get("hoodie.table.ordering.fields") or self.props.get(
            "hoodie.table.precombine.field", ""
        )
        return [f for f in v.split(",") if f]

    @property
    def partition_fields(self) -> list[str]:
        v = self.props.get("hoodie.table.partition.fields", "")
        return [f for f in v.split(",") if f]

    @property
    def populates_meta_fields(self) -> bool:
        return self.props.get("hoodie.populate.meta.fields", "true").lower() == "true"

    @property
    def payload_class(self) -> str:
        # Hudi persists the record payload class here (java:
        # HoodieTableConfig.PAYLOAD_CLASS_NAME); hudi-rs reads the same
        # key. Empty = default overwrite-with-latest payload.
        return self.props.get("hoodie.compaction.payload.class", "")

    @property
    def is_partial_update(self) -> bool:
        """True when the table merges record versions column-wise
        (PartialUpdateAvroPayload: a newer version's null fields are
        filled from older versions instead of overwriting them)."""
        return "partialupdate" in self.payload_class.lower().replace("_", "")

    @property
    def merge_strategy(self) -> MergeStrategy:
        # record_merger.rs:53-80: explicit strategy, else default by
        # meta-fields: populated -> OVERWRITE_WITH_LATEST, else APPEND_ONLY
        v = self.props.get("hoodie.table.record.merge.strategy")
        if v:
            return MergeStrategy(v)
        if not self.populates_meta_fields or not self.ordering_fields:
            return MergeStrategy.APPEND_ONLY
        return MergeStrategy.OVERWRITE_WITH_LATEST

    # -- layout -----------------------------------------------------------
    @property
    def hive_style_partitioning(self) -> bool:
        return (
            self.props.get("hoodie.datasource.write.hive_style_partitioning", "false").lower()
            == "true"
        )

    @property
    def partition_path_url_encoded(self) -> bool:
        return (
            self.props.get("hoodie.datasource.write.partitionpath.urlencode", "false").lower()
            == "true"
        )

    @property
    def drops_partition_columns(self) -> bool:
        return (
            self.props.get("hoodie.datasource.write.drop.partition.columns", "false").lower()
            == "true"
        )

    @property
    def base_file_format(self) -> str:
        return self.props.get("hoodie.table.base.file.format", "PARQUET").upper()

    @property
    def key_generator_type(self) -> str:
        return self.props.get(
            "hoodie.table.keygenerator.type",
            self.props.get("hoodie.table.keygenerator.class", ""),
        )

    @property
    def create_schema(self) -> str | None:
        return self.props.get("hoodie.table.create.schema")

    @property
    def timestamp_output_format(self) -> str | None:
        return self.props.get("hoodie.keygen.timebased.output.dateformat")

    @property
    def timestamp_type(self) -> str | None:
        return self.props.get("hoodie.keygen.timebased.timestamp.type")
