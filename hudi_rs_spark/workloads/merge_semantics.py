"""Merge-on-read semantics exercised on the driver's plain `events` table.

operators/merge.py is the DataFrame form of the record merge the
Hudi-format reader runs per file slice (sources/pyds.py::
_merge_slice_table); these queries run it on the synthetic events
stream so the duckdb oracle can hash-check the semantics:
latest-wins per key, delete-ordering resolution, half-open incremental
windows, and as-of (time travel) states — mirroring
/root/reference/crates/core/src/merge/record_merger.rs and
docs/reader-spec.md:299-319.

Mapping: record key = user_id, event-time ordering = ts, commit tiebreak
= event_id (monotone like _hoodie_commit_seqno). Rows with
event_id % 7 == 0 play the role of delete records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_rs_spark.operators.merge import (
    incremental_latest,
    latest_by_key,
    merge_with_deletes,
)
from hudi_rs_spark.workloads import QuerySpec, register
from hudi_rs_spark.workloads.tables import load

T1 = "2024-01-10 00:00:00"
T2 = "2024-01-20 00:00:00"
AS_OF = "2024-01-15 00:00:00"


def merge_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot semantics: OVERWRITE_WITH_LATEST per user."""
    e = load(spark, sf_dir, "events")
    out = latest_by_key(e, ["user_id"], ["ts", "event_id"])
    return out.select(
        "user_id", "event_id", "event_type", F.round("value", 6).alias("value")
    ).orderBy("user_id")


LATEST_SQL = """
SELECT user_id, event_id, event_type, ROUND(value, 6) AS value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
ORDER BY user_id
"""


def merge_incremental_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental query: rows in (T1, T2], latest in-range state per key
    (docs/reader-spec.md:299-301 half-open semantics)."""
    e = load(spark, sf_dir, "events")
    out = incremental_latest(e, ["user_id"], ["ts", "event_id"], "ts", T1, T2)
    return out.select("user_id", "event_id", "event_type").orderBy("user_id")


INCR_SQL = f"""
SELECT user_id, event_id, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts > TIMESTAMP '{T1}' AND ts <= TIMESTAMP '{T2}')
WHERE rn = 1
ORDER BY user_id
"""


def merge_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: snapshot pinned at AS_OF (reader-spec.md:311-319)."""
    e = load(spark, sf_dir, "events").filter(F.col("ts") <= F.lit(AS_OF))
    out = latest_by_key(e, ["user_id"], ["ts", "event_id"])
    return out.select("user_id", "event_id", "event_type").orderBy("user_id")


ASOF_SQL = f"""
SELECT user_id, event_id, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE ts <= TIMESTAMP '{AS_OF}')
WHERE rn = 1
ORDER BY user_id
"""


def merge_delete_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-record resolution: every event_id % 7 == 0 row is a delete
    for its key. The survivor is dropped iff the delete's (event-time,
    tiebreak) ordering beats it — merge/ordering.rs:34-101 semantics."""
    e = load(spark, sf_dir, "events")
    data = e.filter(F.col("event_id") % 7 != 0)
    deletes = e.filter(F.col("event_id") % 7 == 0).select("user_id", "ts", "event_id")
    out = merge_with_deletes(
        data, deletes, ["user_id"], event_col="ts", commit_col="event_id"
    )
    return out.select("user_id", "event_id", "event_type").orderBy("user_id")


DELETE_SQL = """
WITH data AS (SELECT * FROM events WHERE event_id % 7 <> 0),
dels AS (SELECT user_id, max(ts) AS del_event, max(event_id) AS del_commit
         FROM events WHERE event_id % 7 = 0 GROUP BY user_id),
surv AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM data) WHERE rn = 1)
SELECT s.user_id, s.event_id, s.event_type
FROM surv s LEFT JOIN dels d ON s.user_id = d.user_id
WHERE d.del_commit IS NULL
   OR NOT (d.del_event > s.ts OR (d.del_event = s.ts AND d.del_commit > s.event_id))
ORDER BY s.user_id
"""


def merge_append_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND_ONLY strategy: pure concat of two sources, no dedup
    (merge/mod.rs:30-47). Split events, union, count — proves no rows are
    merged away."""
    e = load(spark, sf_dir, "events")
    a = e.filter(F.col("event_id") % 2 == 0)
    b = e.filter(F.col("event_id") % 2 == 1)
    return (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


APPEND_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM (SELECT * FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT * FROM events WHERE event_id % 2 = 1)
GROUP BY event_type
ORDER BY event_type
"""


for _n, _f, _s, _d in [
    ("merge_latest_state", merge_latest_state, LATEST_SQL, "snapshot latest-wins (op 12)"),
    ("merge_incremental_window", merge_incremental_window, INCR_SQL, "incremental (t1,t2] (op 3)"),
    ("merge_asof_snapshot", merge_asof_snapshot, ASOF_SQL, "time travel (op 2)"),
    ("merge_delete_aware", merge_delete_aware, DELETE_SQL, "delete ordering (ops 12/13)"),
    ("merge_append_only", merge_append_only, APPEND_SQL, "append-only strategy"),
]:
    register(QuerySpec(name=_n, build=_f, oracle=_s, tags=("merge",), doc=_d))
