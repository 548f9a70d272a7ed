"""Write-path workloads: the DataFrame writer / upsert / compaction
lifecycle as oracle-checked registry rows.

Where workloads/mor.py synthesizes its table with the low-level fixture
writer, these rows exercise the REAL user surface —
``df.write.format("hudi_py")`` + ``write.upsert`` + ``write.compact`` —
end-to-end from the driver's ``documents`` parquet, so the DuckDB
oracle can state the expected post-lifecycle table in pure SQL over
``documents``:

- ``write_cow_roundtrip``: fresh COW write (partitioned by ``lang``)
  then a connector read-back aggregate — every bench run pays the full
  distributed write, making this the writer-throughput row.
- ``write_upsert_roundtrip``: cached MOR table seeded via the writer,
  then ``upsert`` (text suffix for ``doc_id%9==0``, tombstones for
  ``doc_id%11==0``) — read through the connector's merge.
- ``write_compacted_snapshot``: same lifecycle plus ``compact``; the
  merged snapshot must be IDENTICAL to the uncompacted oracle (the
  compaction-transparency invariant), now served base-file-only.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_rs_spark.workloads import QuerySpec, register
from hudi_rs_spark.workloads.mor import _REPO_CACHE as _MOR_CACHE
from hudi_rs_spark.workloads.tables import load

_CACHE = os.path.join(os.path.dirname(_MOR_CACHE), "write_bench")
_LAYOUT_V = "v4"

_REGISTERED: set[int] = set()


def _register(spark: SparkSession) -> None:
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    if id(spark) not in _REGISTERED:
        spark.dataSource.register(HudiPyDataSource)
        _REGISTERED.add(id(spark))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source", F.lit(1).alias("ts"))
    )


def _seed_options() -> dict:
    """v8 + full index family: the lifecycle rows then exercise MDT
    listing, record-index upsert tagging, column/partition stats and
    the secondary index on every bench run."""
    return {
        "recordkey.field": "doc_id",
        "precombine.field": "ts",
        "partitionpath.field": "lang",
        "table.type": "MERGE_ON_READ",
        "hoodie.table.name": "docs_w",
        "table.version": "8",
        "metadata.enable": "true",
        "metadata.columnstats.enable": "true",
        "metadata.recordindex.enable": "true",
        "metadata.secondaryindex.columns": "source",
        # typed change feed: every lifecycle row then also proves CDC
        # blocks never perturb snapshots/lookups, and write_cdc_feed
        # oracle-checks the feed itself
        "cdc.enabled": "true",
    }


def _fingerprint(sf_dir: str) -> str:
    src = os.path.join(sf_dir, "documents.parquet")
    import pyarrow.parquet as pq

    return (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{pq.read_metadata(src).num_rows}_{os.path.getsize(src)}_{_LAYOUT_V}"
    )


def _apply_upserts(spark: SparkSession, sf_dir: str, path: str):
    """Standard lifecycle round: update %9, tombstone %11. The tag
    index is materialized ONCE and shared across the pair (and returned
    for any follow-up upsert of pre-existing keys) — both calls touch
    only keys present since the seed, which is exactly the
    TagIndexHandle staleness contract. Bucket tables route map-side and
    never read an index, so they skip the handle."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.write.bucket import is_bucket_table
    from hudi_rs_spark.write.upsert import delete, tag_index_handle, upsert

    handle = None
    if not is_bucket_table(HudiTableConfig.from_base_path(path).props):
        handle = tag_index_handle(spark, path)
    docs = _docs(spark, sf_dir)
    upsert(
        docs.filter(F.col("doc_id") % 9 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit("#u")))
        .withColumn("ts", F.lit(2)),
        path,
        index_handle=handle,
    )
    delete(
        docs.filter(F.col("doc_id") % 11 == 0).withColumn("ts", F.lit(3)),
        path,
        index_handle=handle,
    )
    return handle


def _ensure_lifecycle_table(
    spark: SparkSession, sf_dir: str, compacted: bool, clustered: bool = False,
    table_version: int | None = None, layout: str = "linear",
) -> str:
    """Build (once per sf fingerprint) the seeded+upserted[+compacted|
    +clustered] MOR table through the real writer surface;
    scratch-then-rename keeps concurrent builders safe (same pattern as
    workloads/mor.py)."""
    stage = "l" if clustered else ("c" if compacted else "u")
    if layout != "linear":
        stage += layout[0]
    if table_version:
        stage += f"v{table_version}"
    name = f"docs_{stage}_{_fingerprint(sf_dir)}"
    base = os.path.join(_CACHE, name)
    if os.path.isdir(os.path.join(base, ".hoodie")):
        return base
    _register(spark)
    os.makedirs(_CACHE, exist_ok=True)
    scratch = base + ".tmp"
    if os.path.isdir(scratch):
        shutil.rmtree(scratch)
    seed = _seed_options()
    if table_version:
        seed["table.version"] = str(table_version)
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", scratch)
    for k, v in seed.items():
        w = w.option(k, v)
    w.mode("append").save()
    _apply_upserts(spark, sf_dir, scratch)
    # fold the MDT log chains and archive the oldest instants: every
    # oracle row on this table then proves point/secondary lookups stay
    # correct through compacted MDT bases AND an archived timeline
    # (write/mdt_compact.py, write/archive.py)
    from hudi_rs_spark.write.archive import archive_timeline
    from hudi_rs_spark.write.mdt_compact import compact_mdt

    compact_mdt(scratch)
    archive_timeline(scratch, keep_active=2)
    if compacted:
        from hudi_rs_spark.write.compact import compact

        compact(spark, scratch)
    if clustered:
        from hudi_rs_spark.write.cluster import cluster

        if layout == "linear":
            cluster(spark, scratch, sort_columns=("doc_id",), min_group_slices=1)
        else:
            cluster(
                spark, scratch, sort_columns=("doc_id", "source"),
                min_group_slices=1, layout=layout,
            )
    try:
        os.rename(scratch, base)
    except OSError:
        if not os.path.isdir(os.path.join(base, ".hoodie")):
            raise
        shutil.rmtree(scratch, ignore_errors=True)
    return base


LIFECYCLE_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0 THEN text || '#u' ELSE text END AS text,
       lang
FROM documents
WHERE doc_id % 11 <> 0
ORDER BY doc_id
"""


def write_cow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fresh distributed COW write into a scratch dir, then a read-back
    aggregate through the connector. The write happens on EVERY call —
    this row prices the writer itself (executor-side encode, hive
    partitioning, commit publish), not a cached artifact."""
    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_cow_bench_")
    path = os.path.join(tmp, "t")
    w = (
        _docs(spark, sf_dir)
        .write.format("hudi_py")
        .option("path", path)
        .option("recordkey.field", "doc_id")
        .option("precombine.field", "ts")
        .option("partitionpath.field", "lang")
        .option("hoodie.table.name", "docs_cow")
    )
    w.mode("append").save()
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )
    # materialize before the scratch table vanishes: the registry
    # contract returns a DataFrame the driver may collect later
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


WRITE_COW_SQL = """
SELECT lang,
       count(*) AS n_docs,
       sum(length(text))::BIGINT AS total_chars,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents
GROUP BY lang
ORDER BY lang
"""


def write_bulk_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fresh GLOBAL_SORT bulk_insert into a scratch dir, then the same
    read-back aggregate as the COW row. Prices the bulk-load path: one
    range sort on (partition, key) shapes minimal files with
    non-overlapping key ranges — the 100 TB initial-load layout — with
    no index lookup or bin-packing on the way in."""
    from hudi_rs_spark.write import bulk_insert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_bulk_bench_")
    path = os.path.join(tmp, "t")
    bulk_insert(
        _docs(spark, sf_dir), path,
        **{
            "recordkey.field": "doc_id", "precombine.field": "ts",
            "partitionpath.field": "lang",
            "hoodie.table.name": "docs_bulk",
        },
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot of the writer-seeded, upserted+deleted MOR table —
    the connector merges the writer's own log blocks."""
    _register(spark)
    path = _ensure_lifecycle_table(spark, sf_dir, compacted=False)
    return (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )


def write_lance_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fresh distributed v9 write with LANCE base files (lance/writer.py
    encodes, the golden-fixture-pinned lance/reader.py decodes), then a
    read-back aggregate through the connector — prices the Lance encode
    and proves the write-side format against the same oracle as the
    parquet COW row."""
    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_lance_bench_")
    path = os.path.join(tmp, "t")
    w = (
        _docs(spark, sf_dir)
        .write.format("hudi_py")
        .option("path", path)
        .option("recordkey.field", "doc_id")
        .option("precombine.field", "ts")
        .option("partitionpath.field", "lang")
        .option("table.version", "9")
        .option("base.file.format", "lance")
        .option("hoodie.table.name", "docs_lance")
    )
    w.mode("append").save()
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("lang")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-lang count/sum
    aggregate seeded AS OF the first commit is refreshed from the CDC
    change window (seed, latest] — net-effect per key, +final-images /
    −pre-window-rows, delta merge (operators/incremental_view.py). The
    oracle states the FULL-RECOMPUTE truth, so the row certifies
    refresh-by-deltas == recompute on a real lifecycle (upserts that
    keep keys, deletes that shrink groups). The change-window work is
    proportional to changed rows, never table size — the 100 TB
    dashboard-refresh path."""
    from hudi_rs_spark.operators.incremental_view import (
        agg_state,
        incremental_agg_refresh,
    )
    from hudi_rs_spark.config.read_config import HudiReadOptions
    from hudi_rs_spark.sources.hudi import HudiTable

    _register(spark)
    path = _ensure_lifecycle_table(spark, sf_dir, compacted=False)
    t = HudiTable(path, spark)
    commits = sorted(
        {i.timestamp for i in t.timeline.instants if i.is_completed}
        | {i.timestamp for i in t.timeline.archived_instants() or []}
    )
    seed = commits[0]
    pre = t.read(HudiReadOptions(as_of_timestamp=seed))
    state = agg_state(
        pre.select(
            "lang", F.col("ts").cast("bigint"),
            F.col("doc_id").cast("bigint"),
        ),
        ["lang"], ["ts"], minmax_cols=["doc_id"],
    ).localCheckpoint(eager=True)
    refreshed = incremental_agg_refresh(
        spark, path, state,
        group_cols={"lang": "string"}, sum_cols={"ts": "bigint"},
        key_col="doc_id", key_type="long", from_instant=seed,
        minmax_cols={"doc_id": "bigint"},
    )
    return refreshed.select(
        "lang", "n_rows", "sum_ts", "min_doc_id", "max_doc_id"
    ).orderBy("lang")


INCR_VIEW_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END) AS BIGINT)
         AS sum_ts,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM documents
WHERE doc_id % 11 <> 0
GROUP BY lang
ORDER BY lang
"""


def write_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lifecycle table's typed change feed (writer-emitted type-6
    CDC blocks -> HudiTable.read_changes): one i per seeded doc, one u
    per upserted doc, one d per deleted doc — keyed back out of the
    JSON images so the oracle is pure SQL over `documents`."""
    from hudi_rs_spark.sources.hudi import HudiTable

    _register(spark)
    path = _ensure_lifecycle_table(spark, sf_dir, compacted=False)
    # executor-side block decode (the per-slice kernel): the oracle
    # certifies it end to end
    feed = HudiTable(path, spark).read_changes(None)
    return (
        feed.select(
            "op",
            F.coalesce(
                F.get_json_object("after", "$.doc_id"),
                F.get_json_object("before", "$._hoodie_record_key"),
            ).cast("long").alias("doc_id"),
        )
        .orderBy("op", "doc_id")
    )


WRITE_CDC_SQL = """
SELECT * FROM (
  SELECT 'd' AS op, doc_id FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT 'i' AS op, doc_id FROM documents
  UNION ALL
  SELECT 'u' AS op, doc_id FROM documents WHERE doc_id % 9 = 0
)
ORDER BY op, doc_id
"""


def write_v9_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same seeded+upserted+deleted lifecycle on a TABLE VERSION 9
    table (v9 property names: hoodie.table.ordering.fields,
    table.format=native; completion-time timeline) — the writer's last
    version gap, oracle-checked against the identical lifecycle truth.
    Runs the full index family + MDT fold + archival like the v8 row."""
    _register(spark)
    path = _ensure_lifecycle_table(
        spark, sf_dir, compacted=False, table_version=9
    )
    return (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )


def write_compacted_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same lifecycle + compaction: identical rows, zero log files —
    compaction transparency as an oracle-checked equality."""
    _register(spark)
    path = _ensure_lifecycle_table(spark, sf_dir, compacted=True)
    return (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )


POINT_LOOKUP_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0 THEN text || '#u' ELSE text END AS text,
       lang
FROM documents
WHERE doc_id % 11 <> 0 AND doc_id % 23 = 0
ORDER BY doc_id
"""


def write_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-index point lookup on the writer-built table: keys resolve
    through the MDT record index to exactly their file slices (deleted
    keys resolve to tombstones and vanish). Oracle = the lifecycle
    truth restricted to the looked-up keys."""
    from hudi_rs_spark.sources.hudi import HudiTable

    _register(spark)
    path = _ensure_lifecycle_table(spark, sf_dir, compacted=False)
    n_docs = load(spark, sf_dir, "documents").count()
    keys = [str(i) for i in range(0, n_docs, 23)]
    return (
        HudiTable(path, spark).point_lookup(keys)
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )


SECONDARY_LOOKUP_SQL = """
SELECT doc_id, source
FROM documents
WHERE doc_id % 11 <> 0
  AND source = (SELECT min(source) FROM documents)
ORDER BY doc_id
"""


def write_secondary_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index lookup (source column) composing with the record
    index: value -> record keys -> file slices, post-filtered on the
    indexed column so stale cells never surface."""
    from hudi_rs_spark.sources.hudi import HudiTable

    _register(spark)
    path = _ensure_lifecycle_table(spark, sf_dir, compacted=False)
    min_source = (
        load(spark, sf_dir, "documents")
        .agg(F.min("source").alias("m")).collect()[0].m
    )
    return (
        HudiTable(path, spark)
        .lookup_by_secondary_key("source", [str(min_source)])
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def write_clustered_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same lifecycle + clustering (sorted small-file rewrite into one
    replacecommit): identical rows served from fewer, doc_id-sorted
    base files — clustering transparency as an oracle-checked
    equality."""
    _register(spark)
    path = _ensure_lifecycle_table(spark, sf_dir, compacted=False, clustered=True)
    return (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )


MERGE_INTO_SQL = """
SELECT doc_id, text, lang FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 AND doc_id % 3 <> 0
              THEN text || '#m' ELSE text END AS text,
         lang
  FROM documents
  WHERE NOT (doc_id % 7 = 0 AND doc_id % 3 = 0)
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text || '#i' AS text, lang
  FROM documents WHERE doc_id % 97 = 0
)
ORDER BY doc_id
"""


def write_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same lifecycle + z-order clustering over (doc_id, source)
    (write/layout.py — Hudi's hoodie.layout.optimize.strategy): rows
    identical to the unclustered oracle, physically ordered along the
    Morton curve so column_stats pruning bites on both dimensions."""
    _register(spark)
    path = _ensure_lifecycle_table(
        spark, sf_dir, compacted=False, clustered=True, layout="zorder"
    )
    return (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )


def write_bucket_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-index lifecycle (write/bucket.py — hoodie.index.type=
    BUCKET): seed THROUGH upsert (hash-routed log-only bucket groups, no
    index lookup anywhere), apply the standard update/delete round, and
    read the merged snapshot. Same oracle as the lookup-tagged lifecycle
    — the index type must be invisible in the data."""
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_bucket_bench_")
    path = os.path.join(tmp, "t")
    upsert(
        _docs(spark, sf_dir),
        path,
        **{
            "recordkey.field": "doc_id",
            "precombine.field": "ts",
            "partitionpath.field": "lang",
            "table.type": "MERGE_ON_READ",
            "table.version": "8",
            "index.type": "bucket",
            "bucket.index.num.buckets": "8",
            "metadata.enable": "true",
            "hoodie.table.name": "docs_bucket",
        },
    )
    _apply_upserts(spark, sf_dir, path)
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_bucket_rescaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket rescale lifecycle (write/bucket.py::split_bucket +
    merge_buckets): seed a bucket table through upsert, split bucket 0
    into (0,16)/(8,16) — ONE replacecommit over the affected groups
    only, the extendible-hash split map recorded in table properties —
    apply the standard update/delete round (routing descends the trie),
    then MERGE the children back (the shrink half: a per-partition
    concat, no shuffle, resurrecting the parent group id under the
    partition/instant-scoped replacement exclusion) and read the
    snapshot. Same oracle as every lifecycle row: rescaling in either
    direction must be invisible in the data."""
    from hudi_rs_spark.write.bucket import merge_buckets, split_bucket
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_bsplit_bench_")
    path = os.path.join(tmp, "t")
    upsert(
        _docs(spark, sf_dir),
        path,
        **{
            "recordkey.field": "doc_id",
            "precombine.field": "ts",
            "partitionpath.field": "lang",
            "table.type": "MERGE_ON_READ",
            "table.version": "8",
            "index.type": "bucket",
            "bucket.index.num.buckets": "8",
            "metadata.enable": "true",
            "hoodie.table.name": "docs_bsplit",
        },
    )
    split_bucket(spark, path, 0)
    _apply_upserts(spark, sf_dir, path)
    merge_buckets(spark, path, 0, 8)
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


EXPR_INDEX_SQL = """
SELECT doc_id, lang FROM documents
WHERE length(text) <= 128
ORDER BY doc_id
"""


def write_expr_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression (functional) index end-to-end
    (write/expr_index.py — Hudi 1.0's expr_index_* MDT partitions):
    seed a fresh table, build an index on ``length(text)`` with one
    distributed scan, then answer ``length(text) <= 128`` through
    ``read_where_expression`` (file-interval pruning + residual row
    filter). Oracle = the same predicate in SQL."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.expr_index import create_expression_index

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_expridx_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    create_expression_index(spark, path, "tlen", "length(text)")
    out = (
        HudiTable(path, spark)
        .read_where_expression("tlen", "<=", 128)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


DROP_PARTITION_SQL = """
SELECT doc_id, text, lang FROM documents
WHERE lang <> (SELECT min(lang) FROM documents)
ORDER BY doc_id
"""


def write_delete_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE DROP PARTITION (write/dml.delete_partitions — Hudi's
    delete_partition operation): seed partitioned by lang, drop the
    lowest lang's partition as ONE metadata-only replacecommit (zero
    data I/O), read the snapshot back through the replace-commit
    exclusion. Oracle = documents minus that lang."""
    from hudi_rs_spark.write.dml import delete_partitions

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_droppart_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    min_lang = (
        load(spark, sf_dir, "documents")
        .agg(F.min("lang").alias("m")).collect()[0].m
    )
    n = delete_partitions(path, [f"lang={min_lang}"])
    assert n >= 1, "the seeded table must have a live min-lang partition"
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO lifecycle on a fresh scratch table: one source frame
    carrying updates (%7, not %3), deletes (%7 and %3) and inserts
    (%97, shifted keys) routes through write/merge_into.py's single
    join + single upsert. The scratch table enables the bloom_filters
    MDT partition WITHOUT a record index, so the merge's tag join runs
    through the bloom candidate tier — pricing both new surfaces in
    one oracle-checked row."""
    from hudi_rs_spark.write import merge_into

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_merge_bench_")
    path = os.path.join(tmp, "t")
    w = (
        _docs(spark, sf_dir)
        .write.format("hudi_py")
        .option("path", path)
        .option("recordkey.field", "doc_id")
        .option("precombine.field", "ts")
        .option("partitionpath.field", "lang")
        .option("table.type", "MERGE_ON_READ")
        .option("table.version", "8")
        .option("metadata.enable", "true")
        .option("metadata.bloomfilter.enable", "true")
        .option("hoodie.table.name", "docs_merge")
    )
    w.mode("append").save()
    docs = _docs(spark, sf_dir)
    matched = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "op",
        F.when(F.col("doc_id") % 3 == 0, F.lit("d")).otherwise(F.lit("u")),
    ).withColumn(
        "text",
        F.when(
            F.col("op") == "u", F.concat(F.col("text"), F.lit("#m"))
        ).otherwise(F.col("text")),
    )
    inserts = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
        .withColumn("text", F.concat(F.col("text"), F.lit("#i")))
        .withColumn("op", F.lit("i"))
    )
    src = matched.unionByName(inserts).withColumn("ts", F.lit(2))
    merge_into(
        src, path,
        when_matched_delete="s.op = 'd'",
        when_matched_update="all",
        when_not_matched_insert="all",
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


ASYNC_COMPACT_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN text || '#p'
            WHEN doc_id % 9 = 0 THEN text || '#u'
            ELSE text END AS text,
       lang
FROM documents
WHERE doc_id % 11 <> 0
ORDER BY doc_id
"""


def write_async_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-blocking compaction lifecycle on a fresh scratch table with
    the full index family + CDC: seed, upsert/delete round, SCHEDULE a
    compaction plan, then land a second upsert round (%7, excluding the
    tombstoned %11) WHILE the plan is pending — its logs anchor at the
    plan instant (write/async_compact.py) — then execute the plan and
    read the snapshot. Oracle = both rounds applied; the pending-window
    writes must survive the base rewrite (Hudi's async-compaction
    contract, timeline/instant.rs:30-34 names the marker)."""
    from hudi_rs_spark.write.async_compact import (
        run_scheduled_compaction,
        schedule_compaction,
    )
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_async_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    h = _apply_upserts(spark, sf_dir, path)
    inst = schedule_compaction(path)
    assert inst is not None, "lifecycle table must have dirty groups"
    docs = _docs(spark, sf_dir)
    # %7 touches only seed-time keys and the plan is merely SCHEDULED
    # (no group replaced yet), so the lifecycle handle stays valid
    upsert(
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 0))
        .withColumn("text", F.concat(F.col("text"), F.lit("#p")))
        .withColumn("ts", F.lit(4)),
        path,
        index_handle=h,
    )
    run_scheduled_compaction(spark, path)
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_async_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-blocking (scheduled) clustering lifecycle on a fresh scratch
    table with the full index family + CDC: seed, upsert/delete round,
    SCHEDULE a clustering plan pinning the input slices, land a second
    upsert round (%7, excluding the tombstoned %11) WHILE the plan is
    pending — its logs anchor at the plan instant and are MIGRATED onto
    the rewritten groups at execution (write/async_cluster.py; unlike
    compaction the file id changes, so re-parenting is the protocol's
    crux) — then execute and read the snapshot. Oracle = both rounds
    applied: the pending-window writes must survive the group rewrite."""
    from hudi_rs_spark.write.async_cluster import (
        run_scheduled_clustering,
        schedule_clustering,
    )
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_asyncl_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    h = _apply_upserts(spark, sf_dir, path)
    inst = schedule_clustering(
        path, sort_columns=("doc_id",), min_group_slices=1
    )
    assert inst is not None, "lifecycle table must have groups to plan"
    docs = _docs(spark, sf_dir)
    # %7 touches only seed-time keys and the clustering plan is merely
    # SCHEDULED (groups not yet rewritten), so the handle stays valid
    upsert(
        docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 0))
        .withColumn("text", F.concat(F.col("text"), F.lit("#p")))
        .withColumn("ts", F.lit(4)),
        path,
        index_handle=h,
    )
    run_scheduled_clustering(spark, path)
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


DML_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 0 THEN text || '#w' ELSE text END AS text,
       lang
FROM documents
WHERE doc_id % 17 <> 0
ORDER BY doc_id
"""


def write_dml_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UPDATE/DELETE twins (write/dml.py) on a fresh scratch table:
    ``UPDATE SET text = text || '#w' WHERE doc_id % 13 = 0`` then
    ``DELETE WHERE doc_id % 17 = 0`` — each one pruned snapshot scan +
    one MOR upsert, never a table rewrite. The delete runs AFTER the
    update, so %221 rows prove tombstones beat same-ordering updates."""
    from hudi_rs_spark.write.dml import delete_where, update_where

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_dml_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    update_where(
        spark, path,
        {"text": "concat(text, '#w')", "ts": "2"},
        "doc_id % 13 = 0",
    )
    delete_where(spark, path, "doc_id % 17 = 0")
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


SQL_DML_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 0 THEN text || '#w' ELSE text END AS text,
       lang
FROM documents
WHERE doc_id % 17 <> 0
  AND lang <> (SELECT min(lang) FROM documents)
ORDER BY doc_id
"""


def write_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-statement DML router (write/sql.py::hudi_sql): the exact
    UPDATE / DELETE FROM / ALTER TABLE DROP PARTITION statements a SQL
    tool would emit, parsed and dispatched to the pruned-scan DML APIs.
    Oracle = documents with the %13 suffix, minus %17, minus the
    min-lang partition (dropped metadata-only)."""
    from hudi_rs_spark.write.sql import hudi_sql

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_sqldml_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    tables = {"docs": path}
    hudi_sql(
        spark,
        "UPDATE docs SET text = concat(text, '#w'), ts = 2 "
        "WHERE doc_id % 13 = 0;",
        tables=tables,
    )
    hudi_sql(spark, "DELETE FROM docs WHERE doc_id % 17 = 0", tables=tables)
    min_lang = (
        load(spark, sf_dir, "documents")
        .agg(F.min("lang").alias("m")).collect()[0].m
    )
    hudi_sql(
        spark,
        f"ALTER TABLE docs DROP PARTITION (lang='{min_lang}')",
        tables=tables,
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


SQL_TIMETRAVEL_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0 THEN text || '#u' ELSE text END AS text,
       lang
FROM documents
ORDER BY doc_id
"""


def write_sql_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL time travel through the plain-SELECT router
    (write/sql.py::_rewrite_time_travel): seed -> upsert ts=2 (%9
    '#u') -> capture the instant -> a LATER junk upsert ts=3 (%7
    '#x') -> ``SELECT ... FROM t TIMESTAMP AS OF '<instant2>'``. The
    as-of read must include the %9 commit and EXCLUDE the junk —
    proving the rewrite builds a real time-traveled view, not an alias
    of the live snapshot. Reference timestamp semantics:
    docs/reader-spec.md:311-319."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.sql import hudi_sql
    from hudi_rs_spark.write.upsert import tag_index_handle, upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_ttsql_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    docs = _docs(spark, sf_dir)
    # both upserts touch only seed-time keys and nothing rewrites file
    # groups in between, so one pinned tag index serves the pair
    h = tag_index_handle(spark, path)
    upsert(
        docs.filter(F.col("doc_id") % 9 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit("#u")))
        .withColumn("ts", F.lit(2)),
        path,
        index_handle=h,
    )
    mid = HudiTable(
        path, spark=None, listing="direct"
    ).timeline.instants[-1].timestamp
    upsert(
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit("#x")))
        .withColumn("ts", F.lit(3)),
        path,
        index_handle=h,
    )
    out = hudi_sql(
        spark,
        f"SELECT doc_id, text, lang FROM t TIMESTAMP AS OF '{mid}' "
        "ORDER BY doc_id",
        tables={"t": path},
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


SQL_INSERT_SQL = """
SELECT doc_id, text, lang FROM documents
WHERE doc_id % 2 = 0 AND lang <> 'de'
UNION ALL
SELECT doc_id, text || '#o' AS text, lang FROM documents
WHERE lang = 'de' AND doc_id % 4 = 0
ORDER BY doc_id
"""


def write_sql_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r13 SQL write surface end-to-end: schema-only CREATE TABLE
    (hoodie.properties + one metadata-only schema commit), INSERT INTO
    … SELECT (source through the plain-SELECT machinery, frame through
    the DataFrame writer with identity inheritance), then INSERT
    OVERWRITE … PARTITION — a DYNAMIC partition overwrite publishing
    ONE replacecommit over just the 'de' partition (every other
    partition's file groups untouched; zero data rewrites outside it).
    """
    from hudi_rs_spark.write.sql import hudi_sql

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_sqlins_bench_")
    path = os.path.join(tmp, "t")
    _docs(spark, sf_dir).createOrReplaceTempView("src_docs")
    hudi_sql(
        spark,
        "CREATE TABLE t (doc_id BIGINT, text STRING, lang STRING, "
        "ts BIGINT) USING hudi_py OPTIONS(recordkey.field 'doc_id', "
        "precombine.field 'ts', partitionpath.field 'lang', "
        "'table.type' 'MERGE_ON_READ', 'table.version' '8') "
        f"LOCATION '{path}'",
    )
    hudi_sql(
        spark,
        "INSERT INTO t SELECT doc_id, text, lang, 1 FROM src_docs "
        "WHERE doc_id % 2 = 0",
        tables={"t": path},
    )
    hudi_sql(
        spark,
        "INSERT OVERWRITE t PARTITION (lang = 'de') "
        "SELECT doc_id, text || '#o', 2 FROM src_docs "
        "WHERE lang = 'de' AND doc_id % 4 = 0",
        tables={"t": path},
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


CTAS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 0 THEN text || '#c' ELSE text END AS text,
       lang
FROM documents
WHERE lang >= 'b'
ORDER BY doc_id
"""


def write_sql_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS through the SQL router (write/sql.py::_run_create — the
    reference's HudiTableFactory DDL, crates/datafusion/src/lib.rs:
    936-982): CREATE TABLE ... USING hudi_py OPTIONS(...) PARTITIONED
    BY (lang) AS SELECT, then one UPDATE through the same router to
    prove the created table composes with DML. Oracle = the SELECT with
    the update applied."""
    from hudi_rs_spark.write.sql import hudi_sql

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_ctas_bench_")
    path = os.path.join(tmp, "t")
    src = _docs(spark, sf_dir)
    src.createOrReplaceTempView("ctas_bench_src")
    hudi_sql(
        spark,
        """
        CREATE TABLE docs_ctas USING hudi_py
        OPTIONS (
            recordkey.field 'doc_id',
            precombine.field 'ts',
            table.type 'MERGE_ON_READ',
            table.version '8',
            metadata.enable 'true'
        )
        PARTITIONED BY (lang)
        AS SELECT doc_id, text, lang, source, ts
           FROM ctas_bench_src WHERE lang >= 'b'
        """,
        tables={"docs_ctas": path},
    )
    hudi_sql(
        spark,
        "UPDATE docs_ctas SET text = concat(text, '#c'), ts = 2 "
        "WHERE doc_id % 13 = 0",
        tables={"docs_ctas": path},
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


DDL_COLUMNS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN text || '#r'
            WHEN doc_id % 9 = 0 THEN text || '#u' ELSE text END AS body,
       CASE WHEN doc_id % 7 = 0 THEN 'r' || CAST(doc_id % 2 AS VARCHAR)
            WHEN doc_id % 9 = 0 THEN 'g' || CAST(doc_id % 3 AS VARCHAR)
            ELSE CAST(NULL AS VARCHAR) END AS grade,
       lang
FROM documents
ORDER BY doc_id
"""


def write_ddl_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema DDL (write/ddl.py): ALTER TABLE ADD COLUMNS publishes a
    metadata-only schema commit (nulls backfill everywhere), an upsert
    fills the new column for %9 rows — leaving LIVE LOG FILES under the
    old name `text` — then DROP COLUMN removes `source` from the
    published schema, RENAME COLUMN text->body runs OVER those live
    logs (the log decoders map a record's prior name to the current one
    per epoch — sources/conform.py::apply_renames; the base scan maps
    physical names from each epoch's commit schema, resolver.rs:41-47
    latest-schema-wins), and a post-rename upsert under the NEW name
    (%7 rows) merges against the pre-rename log records. The returned
    snapshot therefore merges base files + pre-rename logs + post-
    rename logs across three schema epochs with zero data rewrites.
    Routed through the SQL ALTER statements."""
    from hudi_rs_spark.write.sql import hudi_sql
    from hudi_rs_spark.write.upsert import tag_index_handle, upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_ddl_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    tables = {"docs": path}
    hudi_sql(spark, "ALTER TABLE docs ADD COLUMNS (grade string)",
             tables=tables)
    docs = _docs(spark, sf_dir)
    # schema DDL publishes metadata-only commits (no file group moves)
    # and both upserts touch only seed-time keys -> one pinned tag index
    h = tag_index_handle(spark, path)
    upsert(
        docs.filter(F.col("doc_id") % 9 == 0).select(
            "doc_id",
            F.concat("text", F.lit("#u")).alias("text"),
            "lang", "source", F.lit(2).alias("ts"),
            F.concat(F.lit("g"), (F.col("doc_id") % 3).cast("string"))
            .alias("grade"),
        ),
        path,
        index_handle=h,
    )
    hudi_sql(spark, "ALTER TABLE docs DROP COLUMN source", tables=tables)
    hudi_sql(spark, "ALTER TABLE docs RENAME COLUMN text TO body",
             tables=tables)
    upsert(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            "doc_id",
            F.concat("text", F.lit("#r")).alias("body"),
            "lang", F.lit(3).alias("ts"),
            F.concat(F.lit("r"), (F.col("doc_id") % 2).cast("string"))
            .alias("grade"),
        ),
        path,
        index_handle=h,
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "body", "grade", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_savepoint_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savepoint + restore lifecycle (write/savepoint.py): seed → the
    standard upsert/delete lifecycle → ``savepoint()`` → a junk upsert
    that suffixes every %5 row → ``restore()`` back to the savepoint.
    The snapshot must equal the PRE-JUNK state exactly (LIFECYCLE_SQL),
    proving restore rewinds data, timeline, and MDT together. Restore
    is driver-side metadata work + file deletes — O(instants rewound),
    never a table rewrite."""
    from hudi_rs_spark.write.savepoint import restore, savepoint
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_savepoint_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    h = _apply_upserts(spark, sf_dir, path)
    sp = savepoint(path)
    # the junk %5 upsert touches only seed-time keys; savepoint is
    # metadata-only, so the lifecycle handle stays valid
    upsert(
        _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit("#junk")))
        .withColumn("ts", F.lit(9)),
        path,
        index_handle=h,
    )
    restore(path, sp)
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


PARTITION_TTL_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0 THEN text || '#t' ELSE text END AS text,
       lang
FROM documents
WHERE lang <> (SELECT min(lang) FROM documents)
ORDER BY doc_id
"""


def write_partition_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition TTL (write/ttl.py, RFC-65 KEEP_BY_TIME): seed, then a
    second commit touching every partition EXCEPT the min-lang one, then
    ``apply_partition_ttl`` with the boundary placed between the two
    commit instants (computed from the timeline — the epoch is instant
    time, never wall clock, so the row is deterministic). The untouched
    partition expires through the metadata-only delete_partition
    replacecommit; every touched partition survives."""
    from hudi_rs_spark.timeline.instant import parse_hudi_timestamp_millis
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.ttl import apply_partition_ttl
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_ttl_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    docs = _docs(spark, sf_dir)
    min_lang = docs.agg(F.min("lang").alias("m")).collect()[0].m
    upsert(
        docs.filter(
            (F.col("doc_id") % 9 == 0) & (F.col("lang") != min_lang)
        )
        .withColumn("text", F.concat(F.col("text"), F.lit("#t")))
        .withColumn("ts", F.lit(2)),
        path,
    )
    commits = sorted(
        i.timestamp
        for i in HudiTable(path, spark=None, listing="direct")
        .timeline.completed_commits()
    )
    t0 = parse_hudi_timestamp_millis(commits[0])
    t1 = parse_hudi_timestamp_millis(commits[-1])
    day_ms = 24 * 60 * 60 * 1000
    dropped = apply_partition_ttl(
        path, retain_days=max(t1 - t0, 1) / 2 / day_ms, as_of=commits[-1]
    )
    assert dropped, "TTL row must expire the untouched partition"
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_dms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-ingest payload (AWSDmsAvroPayload, write/config.py
    ops_delete_rule): the table carries the replication tool's ``Op``
    column, full-load rows arrive as I, and ONE mixed change batch
    applies updates (U) and deletes (D) together — the exact frame AWS
    DMS emits. Delete routing is a pure column expression inside the
    same upsert (no second pass, no extra shuffle), so applying a
    change batch costs exactly one tag-join + one log append at any
    scale. Oracle = the standard lifecycle shape (#u on %9, %11 rows
    gone)."""
    from hudi_rs_spark.write.upsert import upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_dms_bench_")
    path = os.path.join(tmp, "t")
    seed = _seed_options()
    seed["payload.class"] = "aws_dms"
    w = (
        _docs(spark, sf_dir).withColumn("Op", F.lit("I"))
        .write.format("hudi_py").option("path", path)
    )
    for k, v in seed.items():
        w = w.option(k, v)
    w.mode("append").save()
    docs = _docs(spark, sf_dir).withColumn("ts", F.lit(2))
    updates = (
        docs.filter((F.col("doc_id") % 9 == 0) & (F.col("doc_id") % 11 != 0))
        .withColumn("text", F.concat(F.col("text"), F.lit("#u")))
        .withColumn("Op", F.lit("U"))
    )
    deletes = docs.filter(F.col("doc_id") % 11 == 0).withColumn(
        "Op", F.lit("D")
    )
    upsert(updates.unionByName(deletes), path)
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_sql_procedures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALL procedures + hudi_table_changes TVF (write/sql.py): the
    Hudi Spark SQL operational surface driven purely by SQL text —
    ``CALL run_compaction(table => 't')`` compacts the upserted MOR
    table, then the Hudi 1.0 incremental TVF ``SELECT ... FROM
    hudi_table_changes('t', 'latest_state', 'earliest')`` reads the
    post-compaction state through plain spark.sql over the rewritten
    statement. Oracle = the standard lifecycle shape."""
    from hudi_rs_spark.write.sql import hudi_sql

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_sqlproc_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    _apply_upserts(spark, sf_dir, path)
    tables = {"t": path}
    assert hudi_sql(
        spark, "CALL run_compaction(table => 't')", tables=tables
    ) > 0
    out = hudi_sql(
        spark,
        "SELECT doc_id, text, lang FROM "
        "hudi_table_changes('t', 'latest_state', 'earliest') "
        "ORDER BY doc_id",
        tables=tables,
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def write_upgrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version upgrade lifecycle (write/upgrade.py): a v6 table (flat
    timeline, no MDT) takes the standard upsert/delete lifecycle, is
    upgraded to v8 (every instant moved into `timeline/` with a
    deterministic completion backfill), then COMPACTED through the v8
    service path and read back — proving the moved history drives
    as-of slice selection, merge ordering, and the compactor exactly
    like a native v8 table. Oracle = the standard lifecycle shape."""
    from hudi_rs_spark.write.compact import compact
    from hudi_rs_spark.write.upgrade import upgrade_table

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_upgrade_bench_")
    path = os.path.join(tmp, "t")
    seed = {
        "recordkey.field": "doc_id",
        "precombine.field": "ts",
        "partitionpath.field": "lang",
        "table.type": "MERGE_ON_READ",
        "hoodie.table.name": "docs_v6",
        "table.version": "6",
    }
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in seed.items():
        w = w.option(k, v)
    w.mode("append").save()
    _apply_upserts(spark, sf_dir, path)
    moved = upgrade_table(path, 8)
    assert moved >= 3, f"expected the full v6 history moved, got {moved}"
    assert compact(spark, path) > 0
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


BOOTSTRAP_SQL = """
SELECT doc_id, text, lang
FROM documents
ORDER BY doc_id
"""


def write_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA_ONLY bootstrap (write/bootstrap.py): adopt a plain
    partitionBy(lang) parquet dataset as a Hudi table with hard-linked
    base files — ZERO data bytes moved, one commit with real per-file
    write stats, partition values restored from the hive-style paths
    (the source files do not contain the lang column). The connector
    read must equal the original dataset exactly."""
    from hudi_rs_spark.write.bootstrap import bootstrap_table

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_bootstrap_bench_")
    src = os.path.join(tmp, "src")
    path = os.path.join(tmp, "t")
    _docs(spark, sf_dir).write.partitionBy("lang").parquet(src)
    bootstrap_table(src, path, "doc_id", partition_fields=("lang",))
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


INSERT_OVERWRITE_SQL = """
SELECT doc_id,
       CASE WHEN lang = (SELECT min(lang) FROM documents)
            THEN text || '#o' ELSE text END AS text,
       lang
FROM documents
WHERE lang <> (SELECT min(lang) FROM documents) OR doc_id % 2 = 0
ORDER BY doc_id
"""


def write_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped INSERT OVERWRITE (``operation=insert_overwrite``,
    Hudi's dynamic-partition overwrite): the incoming frame REPLACES
    exactly the partitions it touches via one replacecommit — here the
    min-lang partition gets only its even doc_ids back (suffixed), so
    the odd ones must vanish (an upsert would have kept them) while
    every other partition is untouched. The replace is metadata +
    new-files-only: untouched partitions cost zero I/O at any scale."""
    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_iow_bench_")
    path = os.path.join(tmp, "t")
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    docs = _docs(spark, sf_dir)
    min_lang = docs.agg(F.min("lang").alias("m")).collect()[0].m
    replacement = (
        docs.filter((F.col("lang") == min_lang) & (F.col("doc_id") % 2 == 0))
        .withColumn("text", F.concat(F.col("text"), F.lit("#o")))
        .withColumn("ts", F.lit(2))
    )
    w = (
        replacement.write.format("hudi_py").option("path", path)
        .option("operation", "insert_overwrite")
    )
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


SCHEMA_EVOLVED_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0 THEN text || '#w' ELSE text END AS text,
       CASE WHEN doc_id % 9 = 0 THEN (doc_id % 100) + 5000000000
            ELSE doc_id % 100 END AS score,
       CASE WHEN doc_id % 9 = 0 THEN CAST(doc_id % 7 AS DOUBLE) * 0.25
            ELSE CAST(doc_id % 7 AS DOUBLE) * 0.5 END AS weight,
       CASE WHEN doc_id % 9 = 0 THEN 'g' || CAST(doc_id % 3 AS VARCHAR)
            ELSE CAST(NULL AS VARCHAR) END AS grade
FROM documents
WHERE doc_id % 11 <> 0
ORDER BY doc_id
"""


def write_schema_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side schema evolution (write/schema_evolve.py, mirroring
    crates/core/src/schema/resolver.rs:41-114 + the avro promotion
    rules in schema.rs:63-150): seed with NARROW columns (score int,
    weight float), then one upsert that (a) WIDENS score->long with
    values only a bigint can hold and weight->double, and (b) ADDS a
    string column (grade); finally a tombstone batch. The merged
    snapshot must show old rows cast up per-epoch (int base files under
    a bigint schema) and new rows verbatim — pure SQL over `documents`
    states the oracle. (The narrow-KEY upcast path is pytest-pinned in
    tests/test_schema_widening.py; an int key cast here would overflow
    on scalecheck's id-shifted synthetic corpus.)"""
    from hudi_rs_spark.write.upsert import delete, tag_index_handle, upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_evolve_bench_")
    path = os.path.join(tmp, "t")
    seed_df = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "ts",
        (F.col("doc_id") % 100).cast("int").alias("score"),
        ((F.col("doc_id") % 7).cast("double") * 0.5)
        .cast("float").alias("weight"),
    )
    w = seed_df.write.format("hudi_py").option("path", path)
    for k, v in _seed_options().items():
        w = w.option(k, v)
    w.mode("append").save()
    docs = _docs(spark, sf_dir)
    # the widening upsert publishes a schema commit but appends logs in
    # place (no file group moves), and both calls touch only seed-time
    # keys -> one pinned tag index serves the pair
    h = tag_index_handle(spark, path)
    upsert(
        docs.filter(F.col("doc_id") % 9 == 0).select(
            "doc_id",
            F.concat("text", F.lit("#w")).alias("text"),
            "lang", "source", F.lit(2).alias("ts"),
            ((F.col("doc_id") % 100) + F.lit(5_000_000_000)).alias("score"),
            ((F.col("doc_id") % 7).cast("double") * 0.25).alias("weight"),
            F.concat(F.lit("g"), (F.col("doc_id") % 3).cast("string"))
            .alias("grade"),
        ),
        path,
        index_handle=h,
    )
    delete(
        docs.filter(F.col("doc_id") % 11 == 0).select(
            "doc_id", "lang", F.lit(3).alias("ts"),
        ),
        path,
        index_handle=h,
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "score", "weight", "grade")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


PARTIAL_UPDATE_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 9 = 0 THEN text || '#p' ELSE text END AS text,
       CASE WHEN doc_id % 6 = 0 THEN source || '#s' ELSE source END AS source,
       lang
FROM documents
WHERE doc_id % 11 <> 0
ORDER BY doc_id
"""


def write_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update payload (write/config.py PARTIAL_UPDATE_PAYLOAD,
    Hudi's PartialUpdateAvroPayload): upserts are SPARSE — each frame
    carries only the key/partition/ordering columns plus the columns it
    changes — and readers merge column-wise (newest NON-NULL value per
    column, sources/pyds.py::_merge_slice_table). Sequence: seed →
    text-only upsert (%9, frame has NO source column) → source-only
    upsert (%6, frame has NO text column) → delete (%11). Rows divisible
    by both (18, 36, …) prove the fill: their newest version carries no
    text, yet the merged row keeps the '#p' text from the older version.
    Secondary index stays off here: a sparse frame has no value for the
    indexed column (absent ≠ null), so the payload and that index don't
    compose — the writer validates the rest (MOR + precombine, no CDC).
    """
    from hudi_rs_spark.write.upsert import delete, tag_index_handle, upsert

    _register(spark)
    tmp = tempfile.mkdtemp(prefix="hudi_partial_bench_")
    path = os.path.join(tmp, "t")
    seed = _seed_options()
    # sparse after-images would misreport the change feed; the writer
    # rejects the combination (write/config.py validation)
    seed.pop("cdc.enabled", None)
    seed.pop("metadata.secondaryindex.columns", None)
    seed["payload.class"] = "partial_update"
    w = _docs(spark, sf_dir).write.format("hudi_py").option("path", path)
    for k, v in seed.items():
        w = w.option(k, v)
    w.mode("append").save()
    docs = _docs(spark, sf_dir)
    # all three sparse batches touch only seed-time keys (log appends,
    # no file group moves) -> one pinned tag index serves the triple
    h = tag_index_handle(spark, path)
    upsert(
        docs.filter(F.col("doc_id") % 9 == 0)
        .select(
            "doc_id", F.concat("text", F.lit("#p")).alias("text"),
            "lang", F.lit(2).alias("ts"),
        ),
        path,
        index_handle=h,
    )
    upsert(
        docs.filter(F.col("doc_id") % 6 == 0)
        .select(
            "doc_id", F.concat("source", F.lit("#s")).alias("source"),
            "lang", F.lit(3).alias("ts"),
        ),
        path,
        index_handle=h,
    )
    delete(
        docs.filter(F.col("doc_id") % 11 == 0)
        .select("doc_id", "lang", F.lit(4).alias("ts")),
        path,
        index_handle=h,
    )
    out = (
        spark.read.format("hudi_py").option("path", path).load()
        .select("doc_id", "text", "source", "lang")
        .orderBy("doc_id")
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


for _n, _f, _s, _d in [
    ("write_cow_roundtrip", write_cow_roundtrip, WRITE_COW_SQL,
     "df.write COW round trip: fresh distributed write + read-back aggregate"),
    ("write_upsert_roundtrip", write_upsert_roundtrip, LIFECYCLE_SQL,
     "writer-seeded MOR + upsert/delete lifecycle, merged snapshot"),
    ("write_compacted_snapshot", write_compacted_snapshot, LIFECYCLE_SQL,
     "post-compaction snapshot equals the uncompacted oracle"),
    ("write_clustered_snapshot", write_clustered_snapshot, LIFECYCLE_SQL,
     "post-clustering snapshot equals the unclustered oracle"),
    ("write_point_lookup", write_point_lookup, POINT_LOOKUP_SQL,
     "MDT record-index point lookup on a writer-built table"),
    ("write_secondary_lookup", write_secondary_lookup, SECONDARY_LOOKUP_SQL,
     "secondary-index + record-index lookup, stale-cell-safe"),
    ("write_v9_lifecycle", write_v9_lifecycle, LIFECYCLE_SQL,
     "v9 writer lifecycle (ordering.fields, native format, layout-2)"),
    ("write_lance_roundtrip", write_lance_roundtrip, WRITE_COW_SQL,
     "fresh v9 write with Lance base files, connector read-back"),
    ("write_cdc_feed", write_cdc_feed, WRITE_CDC_SQL,
     "writer-emitted CDC blocks -> typed change feed (i/u/d)"),
    ("write_incremental_view", write_incremental_view, INCR_VIEW_SQL,
     "materialized count/sum view refreshed by CDC deltas == recompute"),
    ("write_bulk_insert", write_bulk_insert, WRITE_COW_SQL,
     "GLOBAL_SORT bulk load: fresh range-sorted write + read-back"),
    ("write_merge_into", write_merge_into, MERGE_INTO_SQL,
     "MERGE INTO (update/delete/insert clauses) via bloom-tier tagging"),
    ("write_bucket_upsert", write_bucket_upsert, LIFECYCLE_SQL,
     "bucket-index lifecycle: hash-routed writes, no index lookup"),
    ("write_bucket_rescaled", write_bucket_rescaled, LIFECYCLE_SQL,
     "bucket split: one-replacecommit rescale, trie-descending routing"),
    ("write_expr_index_scan", write_expr_index_scan, EXPR_INDEX_SQL,
     "functional index build + interval-pruned expression scan"),
    ("write_delete_partition", write_delete_partition, DROP_PARTITION_SQL,
     "ALTER TABLE DROP PARTITION as one metadata-only replacecommit"),
    ("write_zorder_clustered", write_zorder_clustered, LIFECYCLE_SQL,
     "z-order (space-filling-curve) clustering, snapshot-transparent"),
    ("write_async_compacted", write_async_compacted, ASYNC_COMPACT_SQL,
     "non-blocking compaction: ingest during a pending plan, then execute"),
    ("write_async_clustered", write_async_clustered, ASYNC_COMPACT_SQL,
     "non-blocking clustering: pending-window logs migrated onto the "
     "rewritten groups"),
    ("write_dml_predicates", write_dml_predicates, DML_SQL,
     "UPDATE ... WHERE / DELETE ... WHERE via pruned scan + MOR upsert"),
    ("write_sql_dml", write_sql_dml, SQL_DML_SQL,
     "SQL-statement router: UPDATE/DELETE/DROP PARTITION text dispatch"),
    ("write_partial_update", write_partial_update, PARTIAL_UPDATE_SQL,
     "partial-update payload: sparse upserts, column-wise merge on read"),
    ("write_schema_evolved", write_schema_evolved, SCHEMA_EVOLVED_SQL,
     "type-widening upsert (int->long, float->double) + add-column"),
    ("write_sql_ctas", write_sql_ctas, CTAS_SQL,
     "CREATE TABLE ... USING hudi_py AS SELECT via the SQL router"),
    ("write_sql_timetravel", write_sql_timetravel, SQL_TIMETRAVEL_SQL,
     "SELECT ... FROM t TIMESTAMP AS OF via the plain-SELECT router"),
    ("write_sql_insert", write_sql_insert, SQL_INSERT_SQL,
     "empty CREATE TABLE + INSERT INTO SELECT + OVERWRITE PARTITION"),
    ("write_ddl_columns", write_ddl_columns, DDL_COLUMNS_SQL,
     "ALTER TABLE ADD/DROP COLUMNS as metadata-only schema commits"),
    ("write_savepoint_restore", write_savepoint_restore, LIFECYCLE_SQL,
     "savepoint then restore: rewind rewinds data+timeline+MDT together"),
    ("write_partition_ttl", write_partition_ttl, PARTITION_TTL_SQL,
     "partition TTL: untouched partition expires via metadata-only drop"),
    ("write_dms_ingest", write_dms_ingest, LIFECYCLE_SQL,
     "AWS DMS / Debezium ops-column payload: one mixed I/U/D change batch"),
    ("write_insert_overwrite", write_insert_overwrite, INSERT_OVERWRITE_SQL,
     "partition-scoped INSERT OVERWRITE via one replacecommit"),
    ("write_bootstrap", write_bootstrap, BOOTSTRAP_SQL,
     "METADATA_ONLY bootstrap: hard-linked adoption, zero data bytes"),
    ("write_sql_procedures", write_sql_procedures, LIFECYCLE_SQL,
     "CALL run_compaction + hudi_table_changes TVF, SQL-text driven"),
    ("write_upgrade", write_upgrade, LIFECYCLE_SQL,
     "v6 -> v8 upgrade: moved timeline drives merge + v8 compaction"),
]:
    register(QuerySpec(name=_n, build=_f, oracle=_s, tags=("write", "hudi"), doc=_d))
