"""Bootstrap an existing parquet dataset into a Hudi table — the
adoption path for data that predates the table format (Hudi's
bootstrap feature, RFC-12 / hudi BootstrapOperator semantics; the
read-only reference consumes bootstrapped tables but cannot create
them).

Two modes, mirroring Hudi's METADATA_ONLY / FULL_RECORD split:

- ``metadata_only``: adopt the files WITHOUT rewriting data. Each
  source parquet file becomes its own file group; the base file is a
  HARD LINK to the source (same-filesystem copy cost: zero data bytes;
  cross-device falls back to a byte copy) renamed into Hudi's
  ``{file_id}_{token}_{instant}.parquet`` convention; ONE commit
  publishes real per-file write stats and the footer-derived schema.
  Where Hudi proper emits skeleton files holding only meta columns and
  stitches them to the original data files at read time, this engine
  already reads tables with ``hoodie.populate.meta.fields=false``
  (key/partition fall back to the configured columns), so the link IS
  the base file — no skeleton join, no dual-location reads, and the
  whole adoption is O(files) driver metadata work.
  The result is a COPY_ON_WRITE table: snapshot/time-travel reads,
  partition + stats pruning, insert and insert_overwrite all work
  immediately. Upserts need materialized record keys — that is what
  ``full_record`` is for (Hudi has the same split).
- ``full_record``: one distributed ``spark.read.parquet`` →
  ``df.write.format("hudi_py")`` rewrite — meta fields populated,
  every downstream surface (MOR upserts, indexes, CDC) available.

Partitioned sources: hive-style ``k=v`` directory layouts are adopted
as-is. When the data files do not contain the partition columns (the
``spark.write.partitionBy`` layout), the table is flagged with
``hoodie.datasource.write.drop.partition.columns=true`` and readers
restore the values from the paths (tests/test_drop_partition_columns).

At 100 TB: metadata_only moves zero data bytes and does O(files)
driver work (one footer metadata read per file for row counts — no
column data I/O); full_record is one fully distributed scan+write.
"""

from __future__ import annotations

import os
import shutil
import uuid

from hudi_rs_spark.write.config import WriteConfig, new_instant

_BOOTSTRAP_NS = uuid.UUID("00000000-0000-0000-0000-0000b0075a90")
_TOKEN = "0-0-0"


def _discover(source: str) -> list[tuple[str, str]]:
    """[(relative partition path, relative file path)] for every
    parquet data file under ``source`` (spark markers skipped)."""
    out: list[tuple[str, str]] = []
    for dirpath, _dirs, files in os.walk(source):
        rel_dir = os.path.relpath(dirpath, source)
        rel_dir = "" if rel_dir == "." else rel_dir.replace(os.sep, "/")
        for name in sorted(files):
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            rel = f"{rel_dir}/{name}" if rel_dir else name
            out.append((rel_dir, rel))
    return out


def _partition_values(rel_dir: str, partition_fields, hive_style: bool):
    """Parsed partition values for validation; raises on a layout that
    does not match the declared partitioning."""
    if not partition_fields:
        if rel_dir:
            raise ValueError(
                f"source has subdirectory {rel_dir!r} but no "
                "partition_fields were declared"
            )
        return {}
    segs = rel_dir.split("/") if rel_dir else []
    if len(segs) != len(partition_fields):
        raise ValueError(
            f"partition dir {rel_dir!r} has {len(segs)} levels, "
            f"expected {len(partition_fields)} ({list(partition_fields)})"
        )
    vals = {}
    for field, seg in zip(partition_fields, segs):
        if hive_style:
            if "=" not in seg:
                raise ValueError(
                    f"hive_style=True but segment {seg!r} is not k=v "
                    f"(pass hive_style=False for value-only layouts)"
                )
            k, v = seg.split("=", 1)
            if k != field:
                raise ValueError(
                    f"partition segment {seg!r} names column {k!r}, "
                    f"expected {field!r}"
                )
            vals[field] = v
        else:
            vals[field] = seg
    return vals


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)  # cross-device / fs without hard links


def bootstrap_table(
    source: str,
    target: str,
    record_key,
    *,
    spark=None,
    mode: str = "metadata_only",
    partition_fields=(),
    precombine: str | None = None,
    table_name: str | None = None,
    table_version: int = 8,
    hive_style: bool = True,
    **options,
) -> int:
    """Adopt the parquet dataset at ``source`` as a Hudi table at
    ``target``; returns the number of data files adopted (metadata_only)
    or written (full_record).

    ``record_key``: column name or list — must exist in the source
    schema (later point lookups / full_record upserts key on it).
    ``partition_fields``: declare when the source is laid out in
    partition directories; ``hive_style`` says whether segments are
    ``k=v`` or bare values.
    """
    import pyarrow.parquet as pq

    if isinstance(record_key, str):
        record_key = tuple(
            k.strip() for k in record_key.split(",") if k.strip()
        )
    else:
        record_key = tuple(record_key)
    partition_fields = tuple(partition_fields)
    mode = mode.strip().lower()
    if mode not in ("metadata_only", "full_record"):
        raise ValueError(
            f"unknown bootstrap mode {mode!r}: metadata_only | full_record"
        )
    if not os.path.isdir(source):
        raise ValueError(f"bootstrap source {source!r} is not a directory")
    if os.path.isfile(os.path.join(target, ".hoodie", "hoodie.properties")):
        raise ValueError(f"target {target!r} is already a Hudi table")
    files = _discover(source)
    if not files:
        raise ValueError(f"no parquet files under {source!r}")

    if mode == "full_record":
        if spark is None:
            raise ValueError("full_record bootstrap needs spark=")
        df = spark.read.parquet(source)
        missing = [k for k in record_key if k not in df.columns]
        if missing:
            raise ValueError(f"record key column(s) {missing} not in source")
        w = (
            df.write.format("hudi_py")
            .option("path", target)
            .option("recordkey.field", ",".join(record_key))
            .option("hoodie.table.name", table_name or os.path.basename(
                os.path.normpath(target)) or "bootstrapped")
            .option("table.version", str(table_version))
        )
        if precombine:
            w = w.option("precombine.field", precombine)
        if partition_fields:
            w = w.option("partitionpath.field", ",".join(partition_fields))
            w = w.option("hive_style_partitioning",
                         "true" if hive_style else "false")
        for k, v in options.items():
            w = w.option(k, v)
        w.mode("append").save()
        return len(files)

    # ---- metadata_only ------------------------------------------------
    from pyspark.sql.pandas.types import from_arrow_schema

    from hudi_rs_spark.write.concurrency import (
        claim_instant,
        publish,
        release_instant,
    )
    from hudi_rs_spark.write.writer import _fs, data_avro_schema, timeline_dir

    first_schema = pq.read_schema(os.path.join(source, files[0][1]))
    cols = set(first_schema.names)
    missing = [k for k in record_key if k not in cols]
    if missing:
        raise ValueError(f"record key column(s) {missing} not in source")
    drop_partition_cols = bool(partition_fields) and not (
        set(partition_fields) <= cols
    )

    cfg = WriteConfig(
        path=target,
        table_name=(table_name or os.path.basename(os.path.normpath(target))
                    or "bootstrapped"),
        record_key_fields=record_key,
        precombine_field=precombine,
        partition_fields=partition_fields,
        table_type="COPY_ON_WRITE",
        table_version=table_version,
        hive_style=hive_style,
        instant=new_instant(),
        operation="bulk_insert",
    )
    st = _fs(target, cfg.storage_dict())
    props = cfg.table_properties()
    # adopted files carry no _hoodie_* columns: the reader's
    # populate.meta.fields=false paths key on the configured columns
    props["hoodie.populate.meta.fields"] = "false"
    if drop_partition_cols:
        props["hoodie.datasource.write.drop.partition.columns"] = "true"
    props["hoodie.bootstrap.base.path"] = os.path.abspath(source)
    st.publish_bytes(
        f"{target}/.hoodie/hoodie.properties",
        ("\n".join(f"{k}={v}" for k, v in sorted(props.items())) + "\n").encode(),
    )
    os.makedirs(timeline_dir(cfg), exist_ok=True)

    claim_instant(cfg)
    try:
        stats: list[dict] = []
        for rel_dir, rel in files:
            _partition_values(rel_dir, partition_fields, hive_style)
            src = os.path.join(source, rel)
            fid = f"{uuid.uuid5(_BOOTSTRAP_NS, rel)}-0"
            name = f"{fid}_{_TOKEN}_{cfg.instant}.parquet"
            dst_rel = f"{rel_dir}/{name}" if rel_dir else name
            dst = os.path.join(target, dst_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _link_or_copy(src, dst)
            md = pq.read_metadata(src)
            stats.append({
                "fileId": fid,
                "path": dst_rel,
                "partitionPath": rel_dir,
                "numWrites": md.num_rows,
                "numInserts": md.num_rows,
                "fileSizeInBytes": os.path.getsize(src),
                "totalWriteBytes": os.path.getsize(src),
            })
        struct = from_arrow_schema(first_schema)
        if drop_partition_cols:
            # table schema includes the partition columns; readers
            # restore their values from the paths
            from pyspark.sql import types as T

            struct = T.StructType(
                list(struct.fields)
                + [T.StructField(f, T.StringType(), True)
                   for f in partition_fields if f not in cols]
            )
        publish(
            cfg, stats, data_avro_schema(struct, cfg.table_name),
            extra_metadata={"bootstrap.source": os.path.abspath(source),
                            "bootstrap.mode": "METADATA_ONLY"},
        )
    finally:
        release_instant(cfg)
    return len(files)
