"""Record-merge operators: the engine's one "join-like" core op.

Re-expresses the reference's merge-on-read record merge
(/root/reference/crates/core/src/merge/record_merger.rs:89-187 and
merge/ordering.rs:34-101) as DataFrame pipelines, for the ``merge_*``
workload queries (Hudi table reads run the per-slice Arrow twin,
sources/pyds.py::_merge_slice_table):

OVERWRITE_WITH_LATEST:
  1. latest-wins dedup: sort desc by (key, ordering, tiebreak), keep first
     per key  -> window row_number == 1 (one shuffle on the key).
  2. delete resolution: per-key max orderings from the delete records;
     drop the surviving row iff the delete "is greater":
       - if the delete's max event-time ordering is ZERO -> compare commit
         times only (merge/ordering.rs:42-50 special case);
       - else delete wins iff del_event > row_event, or equal event times
         and del_commit > row_commit.
     -> aggregate deletes, single equi-join (broadcast when small).

APPEND_ONLY: pure concat (no-op here; callers just union).

Scale: both steps shuffle exactly once on the record key. At 100 TB the
window dedup is a single hash-partitioned sort per key-partition; the
delete join aggregates deletes first (deletes << data) so the join side is
small and AQE will broadcast it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    ordering_cols: Sequence[str],
) -> DataFrame:
    """Keep the latest row per key: max (ordering_cols) wins, later cols
    break ties. Mirrors record_merger.rs lexsort desc + first-seen mask.

    Nulls sort first in the reference's arrow row encoding (null is
    smallest), so descending order puts nulls last -> use desc_nulls_last.
    """
    order = [F.col(c).desc_nulls_last() for c in ordering_cols]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_with_deletes(
    data: DataFrame,
    deletes: DataFrame,
    key_cols: Sequence[str],
    event_col: str,
    commit_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Full OVERWRITE_WITH_LATEST merge with delete records.

    ``data``: upserts (base + log rows), carrying ``event_col`` (ordering
    field) and ``commit_col`` (commit time; string compare is correct for
    Hudi timestamps).
    ``deletes``: delete records with the same key/event/commit columns.

    Delete semantics follow merge/ordering.rs: track per key the max
    event-time ordering AND the max commit-time independently; a delete
    whose max event-time is 0 (or null) compares on commit time only.

    The join strategy is left to Catalyst/AQE: a forced broadcast of an
    unbounded delete aggregate OOMs the driver on a heavy-delete input,
    and AQE still broadcasts at runtime when the post-aggregation
    shuffle stats come in under the threshold.
    """
    survivors = latest_by_key(
        data, key_cols, [event_col, commit_col, *tiebreak_cols]
    )
    if deletes is None:
        return survivors

    keys = [F.col(k) for k in key_cols]
    del_agg = deletes.groupBy(*keys).agg(
        F.max(F.col(event_col)).alias("__del_event"),
        F.max(F.col(commit_col)).alias("__del_commit"),
    )
    # Rename delete keys to avoid ambiguity in the join condition.
    for k in key_cols:
        del_agg = del_agg.withColumnRenamed(k, f"__delk_{k}")

    cond = None
    for k in key_cols:
        c = survivors[k].eqNullSafe(F.col(f"__delk_{k}"))
        cond = c if cond is None else (cond & c)

    joined = survivors.join(del_agg, cond, "left")

    row_event = F.col(event_col)
    row_commit = F.col(commit_col)
    del_event = F.col("__del_event")
    del_commit = F.col("__del_commit")

    # Comparisons follow the reference's arrow Row encoding where NULL is
    # the SMALLEST value (merge/ordering.rs) — SQL's null-propagating >
    # would silently keep rows a null-vs-value compare should delete
    # (caught by hypothesis in tests/test_merge_properties.py):
    #   greater: non-null beats null; equal: null-safe
    event_zero = del_event.cast("double") == 0.0  # numeric zero only
    event_gt = (del_event.isNotNull() & row_event.isNull()) | (del_event > row_event)
    event_eq = del_event.eqNullSafe(row_event)
    delete_wins = F.when(event_zero, del_commit > row_commit).otherwise(
        event_gt | (event_eq & (del_commit > row_commit))
    )
    keep = F.col("__del_commit").isNull() | ~F.coalesce(delete_wins, F.lit(False))

    drop_cols = ["__del_event", "__del_commit"] + [f"__delk_{k}" for k in key_cols]
    return joined.filter(keep).drop(*drop_cols)


def incremental_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    ordering_cols: Sequence[str],
    commit_col: str,
    start: str | None,
    end: str | None,
) -> DataFrame:
    """Incremental semantics: rows whose commit is in half-open (start, end],
    reduced to the latest in-range state per key
    (/root/reference/docs/reader-spec.md:299-301).
    """
    out = df
    if start is not None:
        out = out.filter(F.col(commit_col) > F.lit(start))
    if end is not None:
        out = out.filter(F.col(commit_col) <= F.lit(end))
    return latest_by_key(out, key_cols, ordering_cols)


def commit_time_filter(df: DataFrame, commit_col: str, start, end) -> Column:
    """The reference's per-row commit-time filter
    (file_group/reader.rs:652-701): commit > start AND commit <= end."""
    return df.filter((F.col(commit_col) > F.lit(start)) & (F.col(commit_col) <= F.lit(end)))
