"""Distributed MOR upsert: tag incoming records to their file groups,
then route them through ``df.write.format("hudi_py")`` as log blocks.

Hudi's upsert is index-lookup + shuffle-by-file-group + log append; this
re-expresses it Spark-first:

1. **Index** — the key→location mapping is a Spark parquet scan over the
   table's CURRENT base files projecting ONLY the three meta columns
   (column pruning reaches the footer: ~1% of table bytes). This is
   Hudi's "simple index", the shuffle-free baseline that scales with
   table size, not memory.
2. **Tag** — one left join of incoming records against the index on
   (record key, partition path). Matched rows carry
   ``__hoodie_target_file_id`` / ``__hoodie_target_base_instant`` /
   ``__hoodie_log_version``; unmatched rows are inserts.
3. **Route** — updates hash-repartition on the target file id (the ONE
   shuffle; guarantees a file group's log file is written by exactly
   one task), inserts round-robin into new file groups. The union
   preserves both partitionings (concatenation, no extra exchange).
4. **Write** — the format writer encodes log blocks / base files
   executor-side and the driver publishes one deltacommit.

Precombine: duplicate keys within the incoming batch keep the row with
the highest precombine value (window rank, same shuffle key as the tag
join). Deletes: rows with ``_hoodie_is_deleted=true`` become delete-block
entries carrying their precombine value as the delete ordering value —
the reader's delete-ordering anti-resolution (operators/merge.py:54-125)
then applies them correctly against later re-inserts.

At 100 TB: the index scan is O(live base bytes of the 3 meta columns),
the tag join shuffles min(incoming, index) after AQE sizing, and log
appends never rewrite base data — exactly why MOR exists.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hudi_rs_spark.session import local_frame
from hudi_rs_spark.write.config import (
    DELETE_COL,
    LOG_VERSION_COL,
    TARGET_FILE_COL,
    TARGET_INSTANT_COL,
    WriteConfig,
)


def _spark_key_expr(key_fields: tuple[str, ...]):
    """Spark expression producing EXACTLY the writer's ``_key_array``
    record key (single field -> str(value); composite -> f1:v1,f2:v2)."""
    if len(key_fields) == 1:
        return F.col(key_fields[0]).cast("string")
    parts = []
    for i, f in enumerate(key_fields):
        prefix = f"{f}:" if i == 0 else f",{f}:"
        parts.append(F.lit(prefix))
        parts.append(F.col(f).cast("string"))
    return F.concat(*parts)


def _spark_partition_expr(cfg: WriteConfig):
    """Spark twin of the writer's ``_partition_array``."""
    if not cfg.partition_fields:
        return F.lit("")
    from hudi_rs_spark.plans.timestamp_keygen import keygen_from_write_config

    kg = keygen_from_write_config(cfg)
    parts = []
    for i, f in enumerate(cfg.partition_fields):
        v = (
            kg.spark_partition_value()
            if kg is not None
            else F.col(f).cast("string")
        )
        v = F.when(v.isNull() | (v == ""), F.lit("default")).otherwise(v)
        if i:
            parts.append(F.lit("/"))
        if cfg.hive_style:
            parts.append(F.lit(f"{f}="))
        parts.append(v)
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def _index_from_record_index(
    spark, path: str, slices
) -> DataFrame | None:
    """Tagging index from the MDT record index: each SHARD slice decodes
    executor-side into (key, partition, file_id) rows — index bytes
    scanned instead of every base file's meta columns (the O(table) vs
    O(index) difference at 100 TB). Joining against the live slices
    both attaches the base instant and drops stale entries (replaced
    file groups), whose keys then take the insert path. Returns None
    when the table has no record index."""
    from hudi_rs_spark.write.record_index import (
        existing_shard_count,
        record_index_enabled_on_table,
        shard_file_id,
    )

    if not record_index_enabled_on_table(path):
        return None
    n = existing_shard_count(path)
    if not n:
        return None

    cols = ["_hoodie_record_key", "_hoodie_partition_path", TARGET_FILE_COL]

    def read_shards(batches):
        import pyarrow as pa

        from hudi_rs_spark.metadata.record_index import read_record_index

        for batch in batches:
            for shard in batch.column(0).to_pylist():
                out = read_record_index(path, file_id=shard_file_id(shard))
                parts, fids = zip(*out.values()) if out else ((), ())
                yield pa.RecordBatch.from_arrays(
                    [pa.array(list(c), pa.string()) for c in (out, parts, fids)],
                    names=cols,
                )

    idx = local_frame(spark, [(i,) for i in range(n)], "shard int").mapInArrow(
        read_shards, ", ".join(f"{c} string" for c in cols)
    )
    live = local_frame(
        spark,
        [
            (sl.file_id, sl.base_file.commit_timestamp)
            for sl in slices
            if sl.base_file is not None
        ],
        f"{TARGET_FILE_COL} string, {TARGET_INSTANT_COL} string",
    )
    return idx.join(F.broadcast(live), TARGET_FILE_COL, "inner")


def _bloom_candidate_files(
    spark, path: str, keys_df: DataFrame
) -> dict | None:
    """Middle index tier (no record index, bloom_filters MDT partition
    present): base-file NAMES the incoming keys may live in, so the
    meta-column index scan below reads O(candidate files), not O(table).

    Executor-side: keys repartition by data partition; each task does an
    indexed PREFIX read of the bloom partition per data partition it
    holds (metadata/bloom_filters.py) and probes its keys — bloom blobs
    never shuffle and never land on the driver; only (partition, file,
    hit) descriptor rows come back. Files in a touched partition WITHOUT
    a bloom record stay candidates (missing record = no pruning, never
    wrong), so bloom-less history/compaction gaps cost speed only.
    Returns None when the table has no bloom partition."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.metadata.bloom_filters import (
        has_bloom_filters_partition,
    )

    if not has_bloom_filters_partition(HudiTableConfig.from_base_path(path)):
        return None

    def gen(batches):
        import pandas as pd

        from hudi_rs_spark.bloomfilter import candidates_for_keys
        from hudi_rs_spark.metadata.bloom_filters import read_bloom_filters

        cache: dict[str, dict[str, bytes]] = {}
        for pdf in batches:
            parts, files, hits = [], [], []
            for part, grp in pdf.groupby("p"):
                parts.append(part)
                files.append("")
                hits.append(-1)  # touched-partition marker
                blooms = cache.get(part)
                if blooms is None:
                    blooms = read_bloom_filters(path, partition=part)
                    cache[part] = blooms
                for fname in blooms:  # files WITH a record (prunable)
                    parts.append(part)
                    files.append(fname)
                    hits.append(0)
                for fname in candidates_for_keys(blooms, grp["k"]):
                    parts.append(part)
                    files.append(fname)
                    hits.append(1)
            yield pd.DataFrame({"p": parts, "f": files, "hit": hits})

    rows = (
        keys_df.repartition("p")
        .mapInPandas(gen, "p string, f string, hit int")
        .groupBy("p", "f")
        .agg(F.max("hit").alias("hit"))
        .collect()
    )
    touched = {r.p for r in rows if r.hit == -1}
    candidates = {r.f for r in rows if r.hit == 1}
    pruned = {(r.p, r.f) for r in rows if r.hit == 0}
    return {"touched": touched, "hits": candidates, "recorded": pruned}


def _empty_index(spark) -> DataFrame:
    return local_frame(
        spark, [],
        "_hoodie_record_key string, _hoodie_partition_path string, "
        f"{TARGET_FILE_COL} string, {TARGET_INSTANT_COL} string",
    )


def _current_slices(spark, path: str):
    """(slices, next-log-version per file group, base-file paths) of the
    CURRENT table state — the driver-side listing every tag pass needs."""
    from hudi_rs_spark.sources.hudi import HudiTable

    table = HudiTable(path, spark, listing="direct")
    slices = table.get_file_slices()
    next_version: dict[str, int] = {}
    paths = []
    for sl in slices:
        if sl.base_file is None:
            raise ValueError(
                "upsert against log-only file groups is unsupported: "
                "compact the table first (write.compact)"
            )
        versions = [lf.version for lf in sl.log_files]
        next_version[sl.file_id] = (max(versions) + 1) if versions else 1
        paths.append(os.path.join(path, sl.base_file_relative_path()))
    return slices, next_version, paths


class TagIndexHandle:
    """A materialized snapshot of the tag index — (key, partition) ->
    (file_id, base_instant) — shared across SEVERAL write calls on one
    table so the index is read ONCE, not once per call
    (``tag_index_handle``).

    Contract (the caller asserts it, the handle cannot check it): between
    handle creation and last use, (a) no call inserts a NEW key that a
    later call references — a stale handle would tag that key as an
    insert again (duplicate) or tombstone it into the wrong group — and
    (b) no compaction / clustering / rescale replaces file groups. Log
    appends are fine: updating or deleting a key never moves its file
    group, so the standard seed -> upsert -> delete lifecycle qualifies.
    Next log versions are NOT part of the handle — every call re-lists
    the table for those (cheap driver-side planning).
    """

    def __init__(self, path: str, index: DataFrame):
        self.path = path
        self.index = index


def tag_index_handle(spark, path: str) -> TagIndexHandle:
    """Materialize the tag index for ``path`` once (record-index tier
    when available, else the meta-column scan) for reuse via
    ``upsert(..., index_handle=h)``. The returned frame is pinned
    (checkpointed), so each consuming write reads the materialized rows
    instead of re-running the index decode/scan."""
    from hudi_rs_spark.operators.pin import pin
    from hudi_rs_spark.write.writer import _base

    base = _base(path)
    slices, _next_version, paths = _current_slices(spark, base)
    index = _build_tag_index(spark, base, slices, paths, keys_df=None)
    return TagIndexHandle(base, pin(index))


def _build_tag_index(
    spark, path: str, slices, paths, keys_df: DataFrame | None
) -> DataFrame:
    """(key, partition) -> (file_id, base_instant) over CURRENT slices.
    Tiers: MDT record index (O(index)), bloom-pruned meta-column scan
    (O(candidate files), needs ``keys_df``), full meta-column scan
    (O(live base files))."""
    if not paths:
        return _empty_index(spark)
    via_index = _index_from_record_index(spark, path, slices)
    if via_index is not None:
        return via_index
    if keys_df is not None:
        bloom = _bloom_candidate_files(spark, path, keys_df)
        if bloom is not None:
            keep = []
            for sl, p in zip(slices, paths):
                part = sl.partition_path or ""
                fname = os.path.basename(p)
                if part not in bloom["touched"]:
                    continue  # no incoming key targets this partition
                if (part, fname) in bloom["recorded"] and fname not in bloom["hits"]:
                    continue  # bloom proves no incoming key lives here
                keep.append(p)
            paths = keep
            if not paths:
                return _empty_index(spark)
    # meta-columns-only projection: Catalyst prunes to 3 columns at scan
    return (
        spark.read.parquet(*paths)
        .select("_hoodie_record_key", "_hoodie_partition_path", "_hoodie_file_name")
        .select(
            "_hoodie_record_key",
            "_hoodie_partition_path",
            F.substring_index("_hoodie_file_name", "_", 1).alias(TARGET_FILE_COL),
            F.regexp_extract(
                "_hoodie_file_name", r"^[^_]+_[^_]+_(\d+)\.", 1
            ).alias(TARGET_INSTANT_COL),
        )
    )


def _location_index(
    spark, cfg: WriteConfig, keys_df: DataFrame | None = None,
    index_handle: TagIndexHandle | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Tag index plus the next log version per file group (from driver
    planning — the file-group listing is already in hand). With
    ``index_handle`` the materialized index is reused and only the
    listing runs (one index read per LIFECYCLE instead of per call)."""
    slices, next_version, paths = _current_slices(spark, cfg.path)
    if index_handle is not None:
        from hudi_rs_spark.write.writer import _base

        if index_handle.path != _base(cfg.path):
            raise ValueError(
                f"index_handle built for {index_handle.path}, "
                f"used against {cfg.path}"
            )
        return index_handle.index, next_version
    return _build_tag_index(spark, cfg.path, slices, paths, keys_df), next_version


def _tag_by_bucket(
    spark, cfg: WriteConfig, n: int, df: DataFrame, key_expr, part_expr,
    table_exists: bool, splits=frozenset(),
) -> DataFrame:
    """Bucket-index tagging (write/bucket.py): target file id is a pure
    map-side hash of the record key — NO index read, NO tag join against
    table state; only the (partition, bucket) -> existing-group mapping
    joins in (broadcast, one row per live file group, needed for the log
    anchor + next version). Rows landing in a bucket with no group yet
    keep a null anchor — the task writer anchors their log at its own
    commit instant, creating the group log-only. ``splits`` (the
    extendible-hash rescale map, write/bucket.py::split_bucket) folds
    into the routing expression — still zero index I/O."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.bucket import (
        bucket_route_exprs,
        leaf_file_id_expr,
        parse_bucket_leaf,
    )

    rows = []
    if table_exists:
        for sl in HudiTable(cfg.path, spark=None, listing="direct").get_file_slices():
            leaf = parse_bucket_leaf(sl.file_id, n)
            if leaf is None:
                raise ValueError(
                    f"file group {sl.file_id} is not bucket-named: this "
                    "table was not written through the bucket index "
                    "(hoodie.index.type=BUCKET tables take every write "
                    "via write.upsert)"
                )
            anchor = (
                sl.base_file.commit_timestamp
                if sl.base_file is not None
                else sl.log_files[0].timestamp
            )
            versions = [lf.version for lf in sl.log_files]
            rows.append(
                (
                    sl.partition_path or "",
                    leaf[0],
                    leaf[1],
                    sl.file_id,
                    anchor,
                    (max(versions) + 1) if versions else 1,
                )
            )
    mapping = local_frame(
        spark, rows,
        "__bp string, __bb int, __bm int, __bfid string, "
        "__banchor string, __bver int",
    )
    b_col, m_col = bucket_route_exprs(key_expr, n, splits)
    return (
        df.withColumn("__hoodie_part_x", part_expr)
        .withColumn("__hoodie_bucket_x", b_col)
        .withColumn("__hoodie_bmod_x", m_col)
        .join(
            F.broadcast(mapping),
            (F.col("__hoodie_part_x") == F.col("__bp"))
            & (F.col("__hoodie_bucket_x") == F.col("__bb"))
            & (F.col("__hoodie_bmod_x") == F.col("__bm")),
            "left",
        )
        .withColumn(
            TARGET_FILE_COL,
            F.coalesce(
                F.col("__bfid"),
                leaf_file_id_expr(
                    F.col("__hoodie_bucket_x"), F.col("__hoodie_bmod_x"), n
                ),
            ),
        )
        .withColumn(TARGET_INSTANT_COL, F.col("__banchor"))
        .withColumn(LOG_VERSION_COL, F.coalesce(F.col("__bver"), F.lit(1)))
        .drop(
            "__bp", "__bb", "__bm", "__bfid", "__banchor", "__bver",
            "__hoodie_part_x", "__hoodie_bucket_x", "__hoodie_bmod_x",
        )
    )


def _restore_partition_cols(df: DataFrame, cfg, loc_col: str, cond):
    """Rewrite the partition COLUMNS of rows matching ``cond`` from the
    located partition path in ``loc_col`` (hive ``k=v`` or bare-value
    segments, url-decoded, cast back to each column's type) — the
    global-index 'update stays in its original partition' move."""
    segs = F.split(F.col(loc_col), "/")
    out = df
    for i, field in enumerate(cfg.partition_fields):
        seg = segs[i]
        if cfg.hive_style:
            seg = F.substring_index(seg, "=", -1)
        val = F.url_decode(seg).cast(out.schema[field].dataType)
        out = out.withColumn(
            field, F.when(cond, val).otherwise(F.col(field))
        )
    return out


def upsert(
    df: DataFrame, path: str,
    index_handle: TagIndexHandle | None = None, **options,
) -> None:
    """Upsert ``df`` into the MOR table at ``path``.

    Rows whose key exists get appended as log blocks to their file
    group; new keys become new base files. Rows with
    ``_hoodie_is_deleted=true`` emit delete-block entries.

    ``index_handle``: a ``tag_index_handle(spark, path)`` snapshot to
    reuse across several calls on this table (one index read per
    lifecycle instead of per call) — see TagIndexHandle for the
    staleness contract. Ignored by bucket tables (their routing never
    reads an index).

    ``options``: forwarded to the writer (``precombine.field`` etc.);
    table identity options default from the existing hoodie.properties.
    """
    spark = df.sparkSession
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.write.bucket import is_bucket_table, num_buckets
    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(path)
    exists = _fs(base).isfile(f"{base}/.hoodie/hoodie.properties")
    if exists:
        tc = HudiTableConfig.from_base_path(path)
        merged_options = {
            "path": path,
            "hoodie.table.name": tc.table_name,
            "recordkey.field": ",".join(tc.record_key_fields),
            "table.type": tc.table_type.value,
            "table.version": str(tc.table_version),
            "operation": "upsert",
        }
        if tc.ordering_fields:
            merged_options["precombine.field"] = tc.ordering_fields[0]
        if tc.payload_class:
            merged_options["payload.class"] = tc.payload_class
        if tc.partition_fields:
            merged_options["partitionpath.field"] = ",".join(tc.partition_fields)
            merged_options["hive_style_partitioning"] = (
                "true" if tc.hive_style_partitioning else "false"
            )
        for k in (
            "hoodie.keygen.timebased.timestamp.type",
            "hoodie.keygen.timebased.output.dateformat",
            "hoodie.keygen.timebased.input.dateformat",
        ):
            if tc.props.get(k):
                merged_options[k] = tc.props[k]
    else:
        # fresh-table upsert: only bucket tables, whose SEED is itself an
        # upsert (every bucket-routed write is a log append — the first
        # touch of a bucket creates its file group log-only)
        lowered = {str(k).lower(): v for k, v in options.items()}
        if str(
            lowered.get("index.type", lowered.get("hoodie.index.type", ""))
        ).lower() != "bucket":
            raise ValueError(
                f"no Hudi table at {path}: upsert needs an existing table "
                "(seed with df.write.format('hudi_py')), except bucket "
                "tables, which seed through upsert with index.type=bucket"
            )
        tc = None
        merged_options = {"path": path, "operation": "upsert"}
    merged_options.update(options)
    # OCC read point: the tag/index join below reads the table state as
    # of NOW — capture it before the index read so any commit landing
    # between tagging and this write's own commit is conflict-checked
    # (write/concurrency.check_commit_conflicts)
    from hudi_rs_spark.write.concurrency import completed_instant_set

    merged_options.setdefault(
        "occ.readpoint", ",".join(sorted(completed_instant_set(path)))
    )
    cfg = WriteConfig.from_options(merged_options)

    # write-side type evolution (write/schema_evolve.py, mirroring the
    # reference resolver + avro promotion rules): frame columns
    # NARROWER than the table's declared type upcast in-plan to the
    # table type; legally WIDER columns pass through (the commit
    # publishes the widened schema); incompatible re-typings are
    # rejected here, before any file lands
    if exists:
        from hudi_rs_spark.avro.spark_schema import avro_record_to_struct
        from hudi_rs_spark.sources.hudi import HudiTable
        from hudi_rs_spark.write.schema_evolve import reconcile_frame

        sj = HudiTable(
            path, spark=None, listing="direct",
            storage_options=cfg.storage_dict(),
        ).schema_json()
        if sj is not None:
            df = reconcile_frame(df, avro_record_to_struct(sj))

    # CDC-ingest payloads (AWS DMS / Debezium): the source operation
    # rides in a data column, and delete markers become tombstones here
    # — pure column expression, no extra pass (write/config.py
    # ops_delete_rule). I/U/c/u/r rows flow through unchanged, the op
    # column stays part of the record like Hudi's payloads keep it.
    from hudi_rs_spark.write.config import ops_delete_rule

    _rule = ops_delete_rule(cfg.payload_class)
    if _rule is not None:
        _op_col = next(
            (c for c in df.columns if c.lower() == _rule[0].lower()), None
        )
        if _op_col is not None:
            _is_del = F.coalesce(
                F.upper(F.col(_op_col).cast("string")) == _rule[1].upper(),
                F.lit(False),
            )
            if DELETE_COL in df.columns:
                df = df.withColumn(DELETE_COL, F.col(DELETE_COL) | _is_del)
            else:
                df = df.withColumn(DELETE_COL, _is_del)

    key_expr = _spark_key_expr(cfg.record_key_fields)
    part_expr = _spark_partition_expr(cfg)

    # GLOBAL index semantics (Hudi's record index / GLOBAL_* index
    # types): a key is located WHEREVER it lives, not only in the
    # incoming row's partition. Partition drift (same key, new
    # partition value) then follows hoodie.record.index.update.
    # partition.path: false (Hudi default) = the update lands in the
    # record's ORIGINAL partition (partition columns rewritten from the
    # located path); true = tombstone in the old partition + insert in
    # the new one. Without index.global=true, tagging stays
    # (key, partition)-scoped and a drifted key duplicates — the
    # non-global Hudi behavior.
    def _flag(*names, default="false"):
        for n in names:
            if n in merged_options:
                return str(merged_options[n]).lower() == "true"
        return default == "true"

    global_index = _flag("hoodie.index.global", "index.global")
    update_partition_path = _flag(
        "hoodie.record.index.update.partition.path",
        "hoodie.global.index.update.partition.path",
        "update.partition.path",
    )

    # key/partition tag columns computed ONCE, by name: the precombine
    # window partitions by exactly the columns the tag join later
    # shuffles on, so naming them up front lets the window's Exchange
    # satisfy the join's distribution requirement — the batch shuffles
    # once, not twice (guide §2.4; measured: the anonymous-expression
    # window emitted hashpartitioning(_w0,_w1) which the join did not
    # recognize and re-exchanged on __hoodie_key_x/__hoodie_part_x)
    df = df.withColumn("__hoodie_key_x", key_expr).withColumn(
        "__hoodie_part_x", part_expr
    )

    # precombine within the batch: keep the highest ordering value per
    # (key, partition) — rank over the same keys the tag join shuffles
    # on (key ONLY under a global index: one survivor per key wherever
    # its versions claim to live, matching the global tag scope)
    if cfg.precombine_field and cfg.precombine_field in df.columns:
        w = (
            Window.partitionBy(
                *(
                    ["__hoodie_key_x"]
                    if global_index
                    else ["__hoodie_key_x", "__hoodie_part_x"]
                )
            )
            .orderBy(F.col(cfg.precombine_field).desc())
        )
        df = (
            df.withColumn("__hoodie_rn", F.row_number().over(w))
            .filter(F.col("__hoodie_rn") == 1)
            .drop("__hoodie_rn")
        )

    bucket_mode = (cfg.index_type == "bucket") or (
        tc is not None and is_bucket_table(tc.props)
    )
    if bucket_mode and global_index:
        raise ValueError(
            "index.global does not compose with the bucket index: bucket "
            "routing is (partition, hash)-scoped by construction"
        )
    if bucket_mode:
        from hudi_rs_spark.write.bucket import parse_splits

        n_buckets = cfg.bucket_index_num_buckets or (
            num_buckets(tc.props) if tc is not None else 0
        )
        if n_buckets < 1:
            raise ValueError(
                "bucket table without hoodie.bucket.index.num.buckets"
            )
        # bucket routing computes its own map-side columns; the named
        # tag columns would otherwise leak into the writer as data
        tagged = _tag_by_bucket(
            spark, cfg, n_buckets,
            df.drop("__hoodie_key_x", "__hoodie_part_x"),
            key_expr, part_expr, exists,
            splits=parse_splits(tc.props) if tc is not None else frozenset(),
        )
        next_version = {}
        n_groups = n_buckets
    else:
        index, next_version = _location_index(
            spark, cfg,
            df.select(
                F.col("__hoodie_key_x").alias("k"),
                F.col("__hoodie_part_x").alias("p"),
            ),
            index_handle=index_handle,
        )
        # per-file-group next log version as a broadcast-joined frame,
        # NOT a create_map literal: a map literal inlines every file
        # group into the plan (10^6 entries at 100 TB = plan bloat +
        # analysis cost), while the join side stays a normal small
        # relation
        versions = local_frame(
            spark, sorted(next_version.items()),
            f"{TARGET_FILE_COL} string, {LOG_VERSION_COL} int",
        )

        if global_index:
            # key-only tag join: the located partition rides along so
            # drift is detectable. Assumes globally-unique keys — the
            # same contract Hudi's global indexes state.
            index = index.withColumnRenamed(
                "_hoodie_partition_path", "__hoodie_loc_part"
            )
            tagged = (
                df.join(
                    index,
                    F.col("__hoodie_key_x") == index["_hoodie_record_key"],
                    "left",
                )
                .drop("_hoodie_record_key")
                .join(F.broadcast(versions), TARGET_FILE_COL, "left")
                .withColumn(
                    LOG_VERSION_COL,
                    F.coalesce(F.col(LOG_VERSION_COL), F.lit(1)),
                )
            )
            drifted = F.col("__hoodie_loc_part").isNotNull() & (
                F.col("__hoodie_loc_part") != F.col("__hoodie_part_x")
            )
            if update_partition_path:
                # Hudi update.partition.path=true: the record MOVES —
                # tombstone at the old location + insert at the new one.
                # ONE pass: a filter/union triple (same/tomb/ins) would
                # execute the tag subtree (index scan + join + window)
                # once per branch — drifted rows instead EXPLODE into
                # their two output roles and the non-drifted keep one,
                # with role-conditional column rewrites. Identical rows
                # out, tag subtree executed once.
                if DELETE_COL not in tagged.columns:
                    tagged = tagged.withColumn(DELETE_COL, F.lit(False))
                tagged = tagged.withColumn(
                    "__hoodie_role",
                    F.explode(
                        F.when(
                            drifted, F.array(F.lit("tomb"), F.lit("ins"))
                        ).otherwise(F.array(F.lit("keep")))
                    ),
                )
                is_tomb = F.col("__hoodie_role") == "tomb"
                is_ins = F.col("__hoodie_role") == "ins"
                tagged = _restore_partition_cols(
                    tagged, cfg, "__hoodie_loc_part", is_tomb
                )
                tagged = (
                    tagged.withColumn(
                        DELETE_COL,
                        F.when(is_tomb, F.lit(True))
                        .otherwise(F.col(DELETE_COL)),
                    )
                    .withColumn(
                        TARGET_FILE_COL,
                        F.when(
                            is_ins, F.lit(None).cast("string")
                        ).otherwise(F.col(TARGET_FILE_COL)),
                    )
                    .withColumn(
                        TARGET_INSTANT_COL,
                        F.when(
                            is_ins, F.lit(None).cast("string")
                        ).otherwise(F.col(TARGET_INSTANT_COL)),
                    )
                    .withColumn(
                        LOG_VERSION_COL,
                        F.when(is_ins, F.lit(1))
                        .otherwise(F.col(LOG_VERSION_COL)),
                    )
                    .drop("__hoodie_role")
                )
            else:
                # Hudi default: the update lands in (and keeps) the
                # record's original partition
                tagged = _restore_partition_cols(
                    tagged, cfg, "__hoodie_loc_part", drifted
                )
            tagged = tagged.drop(
                "__hoodie_loc_part", "__hoodie_key_x", "__hoodie_part_x"
            )
        else:
            tagged = (
                df.join(
                    index,
                    (F.col("__hoodie_key_x") == index["_hoodie_record_key"])
                    & (
                        F.col("__hoodie_part_x")
                        == index["_hoodie_partition_path"]
                    ),
                    "left",
                )
                .drop("_hoodie_record_key", "_hoodie_partition_path")
                .join(F.broadcast(versions), TARGET_FILE_COL, "left")
                .withColumn(
                    LOG_VERSION_COL,
                    F.coalesce(F.col(LOG_VERSION_COL), F.lit(1)),
                )
                .drop("__hoodie_key_x", "__hoodie_part_x")
            )
        n_groups = len(next_version)

    # non-blocking async compaction/clustering (write/async_compact.py,
    # write/async_cluster.py): updates routed to a file group with a
    # SCHEDULED service plan anchor their log files at the plan instant
    # — written against the service's future output, visible throughout
    # via the readers' pending-anchor merge. Compaction keeps them on
    # top of the new base; clustering migrates them onto the rewritten
    # group at execution time.
    from hudi_rs_spark.sources.hudi import HudiTable as _HT

    plan_anchor: dict[str, str] = {}
    if exists:
        _tl = _HT(path, spark=None, listing="direct").timeline
        for plans in (
            _tl.pending_compaction_plans(),
            _tl.pending_clustering_plans(),
        ):
            for pi, plan in plans.items():
                for g in plan.get("groups", ()):
                    if "fileId" in g:  # compaction plan shape
                        plan_anchor[g["fileId"]] = pi
                    for inp in g.get("inputs", ()):  # clustering shape
                        plan_anchor[inp["fileId"]] = pi
    if plan_anchor:
        anchors_df = local_frame(
            spark, sorted(plan_anchor.items()),
            f"{TARGET_FILE_COL} string, __hoodie_plan_anchor string",
        )
        tagged = (
            tagged.join(F.broadcast(anchors_df), TARGET_FILE_COL, "left")
            .withColumn(
                TARGET_INSTANT_COL,
                F.coalesce("__hoodie_plan_anchor", TARGET_INSTANT_COL),
            )
            .drop("__hoodie_plan_anchor")
        )

    # ONE routed pass: a filter/unionByName(updates, inserts) pair would
    # execute the whole tag subtree (index scan + tag join + precombine
    # window) once PER BRANCH — at 100 TB that is the table-index scan
    # twice. Instead both classes ride a single hash repartition on a
    # coalesced routing key: updates keep their target file id (a file
    # group's log file is still written by exactly one task — the hash
    # lands all of a group's rows in one partition for ANY n_parts),
    # inserts spread deterministically by record-key hash (~20 distinct
    # values per partition so the hash spreads evenly; deterministic so
    # task retries re-route identically, unlike rand()-derived keys).
    # n_parts stays at the session shuffle parallelism rather than
    # min(shuffle_n, touched groups): an insert-heavy batch into a table
    # with few touched groups must not collapse to that few tasks, and
    # surplus partitions on small update batches are empty (cost ~0).
    # The task writer routes per row (writer.py consume: tagged mask ->
    # _route_updates/_route_inserts), so mixed partitions are its diet.
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    route = F.coalesce(
        F.col(TARGET_FILE_COL),
        F.pmod(
            F.xxhash64(*[F.col(f) for f in cfg.record_key_fields]),
            F.lit(20 * shuffle_n),
        ).cast("string"),
    )
    n_parts = shuffle_n
    writer = tagged.repartition(n_parts, route).write.format("hudi_py").mode("append")
    for k, v in merged_options.items():
        writer = writer.option(k, v)
    try:
        writer.save()
    except Exception as e:  # noqa: BLE001 — translated below
        # Spark wraps a Python DataSource commit failure in
        # AnalysisException(PYTHON_DATA_SOURCE_ERROR) with the worker
        # traceback as text. Surface the OCC loss as the typed,
        # retryable error the caller's retry loop keys on.
        from hudi_rs_spark.write.concurrency import ConcurrentWriteError

        msg = str(e)
        marker = "ConcurrentWriteError: "
        idx = msg.find(marker)
        if idx < 0:
            raise
        detail = msg[idx + len(marker):].splitlines()[0]
        raise ConcurrentWriteError(detail) from e

    # pre-commit validators (write/precommit.py — Hudi's
    # hoodie.precommit.validators): validate the landed instant against
    # the pre-write snapshot (time travel), rewind + raise on failure
    from hudi_rs_spark.write.precommit import (
        enforce_precommit,
        extract_validator_options,
    )

    validators = extract_validator_options(merged_options)
    if validators:
        pre = [
            ts for ts in merged_options.get("occ.readpoint", "").split(",")
            if ts
        ]
        enforce_precommit(
            spark, path, validators, max(pre) if pre else None
        )

    # inline compaction trigger (hoodie.compact.inline): the publish ran
    # in the DataSource worker (no session there) — re-check driver-side
    # where the session lives; never fails the upsert
    try:
        from hudi_rs_spark.write.maintenance import _maybe_compact

        _maybe_compact(cfg, spark=spark)
    except Exception as e:  # noqa: BLE001 — the data already committed
        import warnings

        warnings.warn(f"inline compaction skipped: {e}", stacklevel=2)


def delete(
    df_keys: DataFrame, path: str,
    index_handle: TagIndexHandle | None = None, **options,
) -> None:
    """Delete by key: ``df_keys`` needs the record key (+ partition +
    precombine) columns; implemented as an upsert of tombstone rows."""
    upsert(
        df_keys.withColumn(DELETE_COL, F.lit(True)), path,
        index_handle=index_handle, **options,
    )


def bulk_insert(
    df: DataFrame, path: str, sort_mode: str = "GLOBAL_SORT", **options
) -> None:
    """Hudi's bulk_insert operation: the fastest bulk-load path — no
    index lookup, no tagging, no small-file bin-packing — with the
    layout shaped by ``hoodie.bulkinsert.sort.mode`` semantics:

    - ``GLOBAL_SORT`` (Hudi's default): range-sort the whole frame on
      (partition columns, record key). At 100 TB this is the mode that
      matters: one global sort buys minimal file counts per partition
      (each task writes one contiguous partition run), tight min/max
      key ranges per file (bloom/column-stat pruning stays selective),
      and monotone keys for later compaction.
    - ``PARTITION_SORT``: sort within tasks only — no shuffle, files
      are key-sorted internally but partitions span tasks.
    - ``NONE``: write the frame exactly as it arrives.

    The commit records operationType=bulk_insert. Identity options
    (keys/type/version) inherit from the existing table when absent —
    same as every other write entry point."""
    from hudi_rs_spark.write.config import WriteConfig
    from hudi_rs_spark.write.writer import inherit_table_identity

    mode = str(
        options.pop("sort.mode", None) or sort_mode or "GLOBAL_SORT"
    ).upper()
    if mode not in ("GLOBAL_SORT", "PARTITION_SORT", "NONE"):
        raise ValueError(
            f"unknown bulk_insert sort mode {mode!r}: expected "
            "GLOBAL_SORT, PARTITION_SORT, or NONE"
        )
    merged = inherit_table_identity({**options, "path": path})
    cfg = WriteConfig.from_options(merged)
    sort_cols = [
        c for c in (*cfg.partition_fields, *cfg.record_key_fields)
        if c in df.columns
    ]
    if sort_cols and mode == "GLOBAL_SORT":
        df = df.orderBy(*sort_cols)
    elif sort_cols and mode == "PARTITION_SORT":
        df = df.sortWithinPartitions(*sort_cols)
    w = df.write.format("hudi_py").option("path", path)
    for k, v in merged.items():
        if k != "path":
            w = w.option(k, v)
    w.option("operation", "bulk_insert").mode("append").save()
