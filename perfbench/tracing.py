"""Tracing for the per-layer run: in-memory spans around calls into the
engine's layers, counters recorded at the same boundaries, and the Spark
event log folded into per-op executor counters.

Spans come from the benchmark's own files: the public layer functions,
plus ``HudiTable._execute_slices`` (where every ``HudiTable`` read hands
its pruned slices to execution), are wrapped for the run, record only
inside traced ops, and are restored at the end. Work the
engine does inside Spark's Python workers (connector planning, executor
decode) is invisible to these wrappers and shows in the op's remainder and
in the Spark counters instead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Spans ``(name, start, end, parent, op)`` and per-op counters.

    ``active`` is False outside traced ops, so wrapped functions cost one
    attribute check when the run is untraced.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self.executed: dict[str, list] = defaultdict(list)  # op -> slices read
        self.active = False
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.time(), "end": None,
             "parent": parent, "op": self.op_id}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def count(self, key: str, value: float = 1.0) -> None:
        if self.active:
            self.counters[self.op_id][key] += value

    @contextlib.contextmanager
    def op(self, op_id: str, op_type: str, traced: bool):
        """Root span of one timed op; layer spans nest under it."""
        self.active, self.op_id = traced, op_id
        try:
            with self.span(f"op:{op_type}"):
                yield
        finally:
            self.active, self.op_id = False, None

    # -- layer wrappers -------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a spanned twin; ``on_call(tracer,
        result, args)`` records counters from the call's positional
        arguments and what it returned."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(name):
                result = original(*args, **kwargs)
            if on_call is not None:
                on_call(tracer, result, args)
            return result

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, original))

    def install_layer_wrappers(self) -> None:
        from hudi_rs_spark.metadata import files_partition, record_index
        from hudi_rs_spark.sources.hudi import HudiTable

        def slices_planned(tr, slices, _args):
            tr.count("fs.slices", len(slices))
            tr.count("fs.log_files", sum(len(s.log_files) for s in slices))
            tr.count("fs.log_bytes", sum(lf.size for s in slices for lf in s.log_files))

        def index_hits(tr, locations, _args):
            tr.count("metadata.record_index_hits", len(locations))

        def slices_kept(tr, _df, args):
            # (self, slices, as_of, ...): the slices left after every
            # pruning step (partition, stats, record index, incremental
            # range), which the read then executes
            tr.count("plans.kept", len(args[1]))
            tr.executed[tr.op_id].extend(args[1])

        self.wrap(HudiTable, "__init__", "sources.open")
        self.wrap(HudiTable, "get_file_slices", "fs.plan", slices_planned)
        self.wrap(HudiTable, "_execute_slices", "sources.execute", slices_kept)
        self.wrap(files_partition, "list_partition_files_via_mdt", "metadata.listing")
        self.wrap(record_index, "read_record_index", "metadata.record_index", index_hits)

    def close(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis -------------------------------------------------------
    def self_times(self) -> dict[str, dict[str, float]]:
        """Per op id: self time of each span name, where a span's self
        time is its duration minus the union its children cover. The
        root ``op:*`` span's self time is the op's unattributed
        remainder."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            covered = union_length(
                [(self.spans[c]["start"], self.spans[c]["end"]) for c in children[i]]
            )
            name = "remainder" if s["name"].startswith("op:") else s["name"]
            out[s["op"]][name] += (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb",
)


def fold_event_log(log_dir: str) -> tuple[dict, dict]:
    """Per job group (op id): Spark counters summed over the op's jobs,
    plus the op's stage intervals ``[(submit_s, complete_s)]``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_op: dict[int, str] = {}
    intervals: dict[str, list] = defaultdict(list)
    mb = 1024.0 * 1024.0
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    counters[group]["spark.jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_op.get(info["Stage ID"])
                    if group is None or "Submission Time" not in info:
                        continue  # skipped stage: planned, never run
                    counters[group]["spark.stages"] += 1
                    intervals[group].append(
                        (info["Submission Time"] / 1000.0,
                         info.get("Completion Time", info["Submission Time"]) / 1000.0)
                    )
                elif kind == "SparkListenerTaskEnd":
                    group = stage_op.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    c = counters[group]
                    c["spark.tasks"] += 1
                    c["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    c["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    c["spark.shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mb
                    sw = m.get("Shuffle Write Metrics", {})
                    c["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    c["spark.spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / mb
    return counters, intervals
