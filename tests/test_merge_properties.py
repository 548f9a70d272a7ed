"""Property-based merge testing (hypothesis) — goes beyond the
reference's test strategy (SURVEY §5 notes it has no randomized tests).

For arbitrary upsert/delete histories, the DataFrame merge and the
per-slice Arrow kernel that Hudi table reads run must each agree with an
independent, obviously-correct Python model of the semantics:
latest (ordering, commit, seqno) wins per key; delete applies iff its
max ordering beats the survivor (event-time-zero -> commit-time only).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from hudi_rs_spark.operators.merge import merge_with_deletes
from hudi_rs_spark.sources.pyds import _merge_slice_table

KEYS = ["k1", "k2", "k3"]
COMMITS = ["c1", "c2", "c3"]

data_row = st.tuples(
    st.sampled_from(COMMITS),  # commit
    st.sampled_from(["s1", "s2", "s3"]),  # seqno
    st.sampled_from(KEYS),  # key
    st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # ts
    st.integers(min_value=0, max_value=100),  # value
)
delete_row = st.tuples(
    st.sampled_from(KEYS),
    st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # ts
    st.sampled_from(COMMITS),
)

SCHEMA = T.StructType(
    [
        T.StructField("commit", T.StringType(), True),
        T.StructField("seqno", T.StringType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("ts", T.IntegerType(), True),
        T.StructField("value", T.IntegerType(), True),
    ]
)
DEL_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("ts", T.IntegerType(), True),
        T.StructField("commit", T.StringType(), True),
    ]
)


def model_merge(data: list[tuple], deletes: list[tuple]) -> set[tuple]:
    """Reference model: mirrors record_merger.rs/ordering.rs directly."""
    # survivor per key: max by (ts with None smallest, commit, seqno)
    def sort_key(row):
        _, seqno, _, ts, _ = row
        return (ts is not None, ts if ts is not None else -1, row[0], seqno)

    survivors: dict[str, tuple] = {}
    for row in data:
        k = row[2]
        if k not in survivors or sort_key(row) > sort_key(survivors[k]):
            survivors[k] = row

    # per-key max orderings from deletes (independent maxima)
    del_info: dict[str, dict] = {}
    for k, ts, commit in deletes:
        info = del_info.setdefault(
            k, {"event": None, "commit": None, "zero": False}
        )
        if ts is not None and (info["event"] is None or ts > info["event"]):
            info["event"] = ts
            info["zero"] = ts == 0
        if info["commit"] is None or commit > info["commit"]:
            info["commit"] = commit

    out = set()
    for k, row in survivors.items():
        commit, seqno, _, ts, value = row
        info = del_info.get(k)
        if info is None:
            out.add(row)
            continue
        if info["zero"]:
            wins = info["commit"] > commit  # event-time-zero: commit only
        else:
            # null is SMALLEST (arrow row encoding): a null delete event
            # never beats a non-null row event; null==null ties on commit
            de, rt = info["event"], ts
            gt = de is not None and (rt is None or de > rt)
            eq = de == rt  # covers both-None
            wins = gt or (eq and info["commit"] > commit)
        if not wins:
            out.add(row)
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(data_row, min_size=1, max_size=12),
    deletes=st.lists(delete_row, min_size=0, max_size=6),
)
def test_merge_matches_model(spark, data, deletes):
    df = spark.createDataFrame(data, SCHEMA)
    ddf = spark.createDataFrame(deletes, DEL_SCHEMA)
    got = merge_with_deletes(
        df, ddf if deletes else None, ["key"],
        event_col="ts", commit_col="commit", tiebreak_cols=["seqno"],
    )
    got_rows = {
        (r["commit"], r["seqno"], r["key"], r["ts"], r["value"])
        for r in got.collect()
    }
    want = model_merge(data, deletes)
    assert got_rows == want, f"data={data} deletes={deletes}"


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(data_row, min_size=1, max_size=12),
    deletes=st.lists(delete_row, min_size=0, max_size=6),
)
def test_slice_kernel_matches_model(data, deletes):
    """``_merge_slice_table`` on the same histories. A Hudi seqno is
    ``{commit}_...``, so ordering on it covers the (commit, seqno)
    tiebreak."""
    from types import SimpleNamespace

    import pyarrow as pa

    struct = T.StructType(
        [
            T.StructField("_hoodie_commit_time", T.StringType()),
            T.StructField("_hoodie_commit_seqno", T.StringType()),
            T.StructField("_hoodie_record_key", T.StringType()),
            T.StructField("ts", T.IntegerType()),
            T.StructField("value", T.IntegerType()),
        ]
    )
    cols = list(zip(*data))
    table = pa.table(
        {
            "_hoodie_commit_time": pa.array(cols[0], pa.string()),
            "_hoodie_commit_seqno": pa.array(
                [f"{c}_{q}" for c, q in zip(cols[0], cols[1])], pa.string()
            ),
            "_hoodie_record_key": pa.array(cols[2], pa.string()),
            "ts": pa.array(cols[3], pa.int32()),
            "value": pa.array(cols[4], pa.int32()),
        }
    )
    part = SimpleNamespace(strategy="OVERWRITE_WITH_LATEST", ordering="ts", partial_fill=None)
    got = _merge_slice_table(
        table, [(c, k, ts) for k, ts, c in deletes], part, struct
    ).to_pylist()
    got_rows = {
        (r["_hoodie_commit_time"], r["_hoodie_commit_seqno"].split("_")[1],
         r["_hoodie_record_key"], r["ts"], r["value"])
        for r in got
    }
    assert len(got) == len(got_rows)
    assert got_rows == model_merge(data, deletes), f"data={data} deletes={deletes}"
