"""Expression (functional) index — Hudi 1.0's ``expr_index_*`` MDT
partitions (``CREATE INDEX ... ON t USING column_stats(col, expr)``):
per-base-file min/max/null/value stats of a SQL EXPRESSION, so queries
filtering on ``lower(city)`` or ``hour(ts)`` prune files without any
footer read — stats the parquet footers themselves can never carry.

The reference scopes its MDT reads to the ``files`` partition
(metadata/table/mod.rs:111 "TODO: support more partitions"); the record
shape here reuses this repo's column_stats convention
(write/mdt_stats.py, key ``{partition or '.'}:{fileName}``) with the
expression string in the ``columnName`` field — one reader
(metadata/column_stats.py) serves both partitions.

Spark-first split:

- BUILD: one distributed scan of the live base files evaluates the
  expression JVM-side (``F.expr`` — Catalyst, codegen), aggregates
  per-file min/max/counts map-side, and each task appends its files'
  records to the ``expr_index_{name}`` MDT file group executor-side
  through the one MDT log appender (``write/mdt.py::append_mdt_log`` —
  stats never transit the driver); one MDT deltacommit publishes
  atomically. The expression is registered in ``hoodie.properties``
  through the properties codec (``config/table_config.py::
  update_properties``), which escapes backslashes, so an expression
  like ``regexp_extract(name, '(\\d+)', 1)`` reads back unchanged.
- QUERY: ``HudiTable.read_where_expression(name, op, literal)`` prunes
  slices whose indexed interval disproves the predicate — files
  WITHOUT an entry (written after the index build) always survive
  (fail open) — then applies the expression as a residual row filter,
  so results are exact regardless of index staleness.

At 100 TB: build cost is one columnar scan of the expression's input
columns (column-pruned); query cost is one tiny HFile-slice read plus
the surviving files.
"""

from __future__ import annotations

EXPR_INDEX_FILE_ID = "expr-index-0000"
PROP_PREFIX = "hoodie.table.expr.index."


def expr_index_partition(name: str) -> str:
    return f"expr_index_{name}"


def create_expression_index(spark, path: str, name: str, expr: str) -> int:
    """Build the ``expr_index_{name}`` MDT partition over every live
    base file: evaluate ``expr`` (any deterministic SQL expression over
    the table's columns) and record per-file min/max/value/null counts.
    Registers the expression in table properties
    (``hoodie.table.expr.index.{name}``) and advertises the partition.
    Returns the number of base files indexed."""
    import os
    import re

    from pyspark.sql import functions as F

    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        update_properties,
    )
    from hudi_rs_spark.metadata.files_partition import has_files_partition
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.config import new_instant
    from hudi_rs_spark.write.mdt import (
        publish_mdt_deltacommit,
        purge_uncommitted_mdt_logs,
    )
    from hudi_rs_spark.write.record_index import _advertise
    from hudi_rs_spark.write.writer import _base

    if not re.fullmatch(r"[A-Za-z0-9_]+", name):
        raise ValueError(
            f"expression-index name {name!r} must be [A-Za-z0-9_]+ "
            "(it names an MDT partition directory)"
        )
    config = HudiTableConfig.from_base_path(path)
    if not has_files_partition(config):
        raise ValueError(
            "expression indexes need the metadata table: write with "
            "metadata.enable=true first"
        )
    existing = config.props.get(PROP_PREFIX + name)
    if existing is not None and existing != expr:
        raise ValueError(
            f"expression index {name!r} already exists with expression "
            f"{existing!r}; drop it first to reindex with {expr!r}"
        )
    purge_uncommitted_mdt_logs(path)
    partition_name = expr_index_partition(name)
    slices = HudiTable(path, spark=None, listing="direct").get_file_slices()
    paths = [
        os.path.join(path, s.base_file_relative_path())
        for s in slices
        if s.base_file is not None
    ]
    instant = new_instant()
    n_files = 0
    if paths:
        df = spark.read.parquet(*paths).select(
            "_hoodie_file_name",
            "_hoodie_partition_path",
            F.expr(expr).alias("__expr_value"),
        )

        def stats_one(pdf):
            import pandas as pd

            from hudi_rs_spark.write.mdt import append_mdt_log
            from hudi_rs_spark.write.mdt_stats import (
                STATS_RECORD_SCHEMA,
                encode_stats_record,
            )
            from hudi_rs_spark.write.worklist import task_token

            fname = pdf["_hoodie_file_name"].iloc[0]
            part = pdf["_hoodie_partition_path"].iloc[0] or ""
            col = pdf["__expr_value"]
            nulls = int(col.isna().sum())
            values = int(len(col) - nulls)
            if values:
                live = col.dropna()
                mn, mx = live.min(), live.max()
                # numpy scalars -> plain python for the avro encoder
                mn = mn.item() if hasattr(mn, "item") else mn
                mx = mx.item() if hasattr(mx, "item") else mx
            else:
                mn = mx = None
            append_mdt_log(
                f"{_base(path)}/.hoodie/metadata", partition_name,
                EXPR_INDEX_FILE_ID, STATS_RECORD_SCHEMA,
                [
                    encode_stats_record(
                        f"{part or '.'}:{fname}", fname, expr, mn, mx,
                        values, nulls,
                    )
                ],
                instant, task_token(),
            )
            return pd.DataFrame({"f": [fname]})

        n_files = (
            df.groupBy("_hoodie_file_name")
            .applyInPandas(stats_one, "f string")
            .count()
        )

    publish_mdt_deltacommit(
        f"{_base(path)}/.hoodie/metadata", instant, {partition_name: []}
    )

    def register(have: dict) -> dict:
        have[PROP_PREFIX + name] = expr
        return _advertise(have, partition_name)

    update_properties(path, register)
    return int(n_files)


def drop_expression_index(path: str, name: str) -> bool:
    """Remove the index: delete its MDT partition directory, un-advertise
    it, and drop the expression property. Returns False if absent."""
    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        update_properties,
    )
    from hudi_rs_spark.write.writer import _base, _fs

    config = HudiTableConfig.from_base_path(path)
    if config.props.get(PROP_PREFIX + name) is None:
        return False
    partition_name = expr_index_partition(name)
    base = _base(path)
    st = _fs(base)
    pdir = f"{base}/.hoodie/metadata/{partition_name}"
    if st.isdir(pdir):
        for e in st.list_dir(pdir):
            if not e.is_dir:
                st.remove(f"{pdir}/{e.name}")

    def unregister(have: dict) -> dict:
        parts = [
            p.strip()
            for p in have.get("hoodie.table.metadata.partitions", "").split(",")
            if p.strip() and p.strip() != partition_name
        ]
        have["hoodie.table.metadata.partitions"] = ",".join(sorted(parts))
        have.pop(PROP_PREFIX + name, None)
        return have

    update_properties(base, unregister)
    return True
