"""Service work-list distribution: per-slice tasks shipped as a
DataFrame of JSON descriptors, not pickled planner objects.

``parallelize(pickled FileSlice objects)`` works, but it serializes
every plan object through the driver's pickler and ships the scan
context once PER TASK — at millions of file groups that is a driver
CPU/heap bottleneck. Here the per-slice VARYING fields ride as Arrow
rows (one small JSON string each) and the per-table CONSTANT scan
context ships once per executor via broadcast; executors rebuild the
slice descriptor locally. Results (stat dicts — metadata-sized by
construction) come back the same way.

Used by write/compact.py and write/cluster.py; ``sources/pyds.py::
read_slices`` builds its read descriptors with the same helpers.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator


def run_slice_tasks(
    spark,
    descriptors: list[dict],
    shared: dict,
    fn: Callable[[dict, dict], dict],
) -> list[dict]:
    """Run ``fn(descriptor, shared) -> stat dict`` once per descriptor
    on executors; returns the collected stat dicts. ``fn`` must be a
    module-level function (pickled by reference, not by value)."""
    sc = spark.sparkContext
    n_part = min(len(descriptors), max(sc.defaultParallelism, 1) * 4) or 1
    df = spark.createDataFrame(
        [(json.dumps(d),) for d in descriptors], "desc string"
    ).repartition(n_part)
    shared_bc = sc.broadcast(json.dumps(shared))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        sh = json.loads(shared_bc.value)
        for pdf in batches:
            out = [json.dumps(fn(json.loads(d), sh)) for d in pdf["desc"]]
            yield pd.DataFrame({"stat": out})

    rows = df.mapInPandas(run, "stat string").collect()
    return [json.loads(r.stat) for r in rows]


def slice_descriptor(p) -> dict:
    """Per-slice VARYING fields of a ``HudiSlicePartition`` (the rest is
    table-constant and rides in ``shared``)."""
    return {
        "base_file": p.base_file,
        "log_files": list(p.log_files),
        "partition_values": p.partition_values,
    }


def shared_scan_context(p) -> dict:
    """Per-table CONSTANT fields of a ``HudiSlicePartition`` (identical
    across one service run's slices)."""
    return {
        "schema_json": p.schema_json,
        "ordering": p.ordering,
        "strategy": p.strategy,
        "valid_instants": list(p.valid_instants),
        "archival_boundary": p.archival_boundary,
        "pending_instants": list(p.pending_instants),
        "as_of": p.as_of,
        "merge_logs": p.merge_logs,
        "start_exclusive": p.start_exclusive,
        "storage_options": p.storage_options,
        "partial_fill": p.partial_fill,
        "renames": p.renames,
        "cdc": p.cdc,
    }


def rebuild_slice(desc: dict, shared: dict):
    """Executor side: HudiSlicePartition from descriptor + context."""
    from hudi_rs_spark.sources.pyds import HudiSlicePartition

    return HudiSlicePartition(
        base_file=desc["base_file"],
        log_files=list(desc["log_files"]),
        schema_json=shared["schema_json"],
        ordering=shared["ordering"],
        strategy=shared["strategy"],
        valid_instants=list(shared["valid_instants"]),
        archival_boundary=shared["archival_boundary"],
        pending_instants=list(shared["pending_instants"]),
        as_of=shared["as_of"],
        merge_logs=shared["merge_logs"],
        start_exclusive=shared["start_exclusive"],
        partition_values=desc["partition_values"],
        cdc=shared["cdc"],
        storage_options=shared["storage_options"],
        partial_fill=shared.get("partial_fill"),
        renames=shared.get("renames"),
    )
