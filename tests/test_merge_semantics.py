"""Merge-semantics unit tests — port of the reference's pinned tables
(record_merger.rs:298-461 and merge/ordering.rs:34-101 behaviors) onto
operators/merge.py.

Columns mirror the reference test schema: commit (c*), seqno (s*),
key (k*), ts (ordering), value.
"""

from __future__ import annotations

from pyspark.sql import types as T

from hudi_rs_spark.operators.merge import latest_by_key, merge_with_deletes

SCHEMA = T.StructType(
    [
        T.StructField("commit", T.StringType(), True),
        T.StructField("seqno", T.StringType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("ts", T.IntegerType(), True),
        T.StructField("value", T.IntegerType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _merged(df):
    return sorted(
        (r["commit"], r["seqno"], r["key"], r["ts"], r["value"])
        for r in df.collect()
    )


class TestOverwriteWithLatest:
    def test_basic_latest_wins(self, spark):
        # record_merger.rs test_merge_records_overwrite_with_latest
        data = _df(
            spark,
            [
                ("c1", "s1", "k1", 1, 10),
                ("c1", "s1", "k2", 2, 20),
                ("c1", "s1", "k3", 3, 30),
                ("c2", "s2", "k1", 4, 40),
                ("c2", "s2", "k2", 1, 50),
                ("c2", "s2", "k3", 3, 60),
            ],
        )
        out = latest_by_key(data, ["key"], ["ts", "commit", "seqno"])
        assert _merged(out) == [
            ("c1", "s1", "k2", 2, 20),  # original: ts=2 > ts=1
            ("c2", "s2", "k1", 4, 40),  # update wins: ts=4
            ("c2", "s2", "k3", 3, 60),  # equal ts -> seqno s2 wins
        ]

    def test_null_ordering_keeps_original(self, spark):
        # record_merger.rs test_merge_records_nulls: a null ordering value
        # NEVER beats a non-null one (nulls sort last in desc order)
        data = _df(
            spark,
            [
                ("c1", "s1", "k1", 1, 10),
                ("c1", "s1", "k2", None, 20),
                ("c1", "s1", "k3", 3, 30),
                ("c2", "s2", "k1", None, 40),
                ("c2", "s2", "k2", 5, 50),
            ],
        )
        out = latest_by_key(data, ["key"], ["ts", "commit", "seqno"])
        assert _merged(out) == [
            ("c1", "s1", "k1", 1, 10),  # null ts in c2 loses
            ("c1", "s1", "k3", 3, 30),
            ("c2", "s2", "k2", 5, 50),  # ts=5 beats null
        ]

    def test_empty_input(self, spark):
        out = latest_by_key(_df(spark, []), ["key"], ["ts", "seqno"])
        assert out.count() == 0


class TestDeleteOrdering:
    """merge/ordering.rs MaxOrderingInfo::is_greater_than semantics."""

    def _merge(self, spark, data_rows, delete_rows):
        data = _df(spark, data_rows)
        deletes = spark.createDataFrame(
            delete_rows,
            T.StructType(
                [
                    T.StructField("key", T.StringType(), True),
                    T.StructField("ts", T.IntegerType(), True),
                    T.StructField("commit", T.StringType(), True),
                ]
            ),
        )
        out = merge_with_deletes(
            data, deletes, ["key"], event_col="ts", commit_col="commit",
            tiebreak_cols=["seqno"],
        )
        return _merged(out)

    def test_delete_with_higher_event_time_wins(self, spark):
        assert self._merge(
            spark,
            [("c1", "s1", "k1", 5, 10)],
            [("k1", 6, "c2")],
        ) == []

    def test_delete_with_lower_event_time_loses(self, spark):
        assert self._merge(
            spark,
            [("c2", "s2", "k1", 5, 10)],
            [("k1", 4, "c1")],
        ) == [("c2", "s2", "k1", 5, 10)]

    def test_equal_event_time_commit_breaks_tie(self, spark):
        # delete at same ts but LATER commit -> delete wins
        assert self._merge(
            spark,
            [("c1", "s1", "k1", 5, 10)],
            [("k1", 5, "c2")],
        ) == []
        # delete at same ts but EARLIER commit -> row survives
        assert self._merge(
            spark,
            [("c2", "s2", "k1", 5, 10)],
            [("k1", 5, "c1")],
        ) == [("c2", "s2", "k1", 5, 10)]

    def test_event_time_zero_uses_commit_time_only(self, spark):
        # ordering.rs:42-50: delete ordering == 0 -> compare commit times
        # only, even though 0 < row ts
        assert self._merge(
            spark,
            [("c1", "s1", "k1", 5, 10)],
            [("k1", 0, "c2")],
        ) == []
        # zero ordering + earlier commit -> row survives
        assert self._merge(
            spark,
            [("c2", "s2", "k1", 5, 10)],
            [("k1", 0, "c1")],
        ) == [("c2", "s2", "k1", 5, 10)]

    def test_delete_for_other_key_ignored(self, spark):
        assert self._merge(
            spark,
            [("c1", "s1", "k1", 5, 10)],
            [("k2", 9, "c2")],
        ) == [("c1", "s1", "k1", 5, 10)]

    def test_max_orderings_tracked_independently(self, spark):
        # two delete records for one key: max event from one, max commit
        # from another (ordering.rs takes per-field maxima)
        assert self._merge(
            spark,
            [("c3", "s3", "k1", 5, 10)],
            [("k1", 6, "c1"), ("k1", 2, "c9")],
        ) == []  # event max 6 > 5 -> delete wins regardless of commit


class TestDeleteBroadcastGate:
    """The delete side is never force-broadcast: a forced broadcast of an
    unbounded delete aggregate OOMs on heavy-delete inputs at scale."""

    def _plans(self, spark):
        from pyspark.sql import functions as F

        data = spark.range(0, 1000).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.col("id").cast("int").alias("ts"),
            F.lit("c1").alias("commit"),
            F.lit("s1").alias("seqno"),
        )
        # big enough that Spark's size estimate clears the 10MB
        # autoBroadcastJoinThreshold (plan-only, never executed)
        deletes = spark.range(0, 20_000_000).select(
            F.concat(F.lit("k"), F.col("id")).alias("key"),
            F.col("id").cast("int").alias("ts"),
            F.lit("c2").alias("commit"),
        )
        out = merge_with_deletes(
            data, deletes, ["key"], event_col="ts", commit_col="commit",
            tiebreak_cols=["seqno"],
        )
        jqe = out._jdf.queryExecution()
        return jqe.optimizedPlan().toString(), jqe.executedPlan().toString()

    def test_unhinted_large_deletes_plan_shuffle_join(self, spark):
        logical, physical = self._plans(spark)
        assert "broadcast" not in logical.lower()
        assert "SortMergeJoin" in physical
