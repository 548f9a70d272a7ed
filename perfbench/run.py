"""Hudi table benchmark: one closed-loop client per run, driving the
engine's public read/write API on ``local[nproc]`` and checking every
result against the benchmark's own generator model.

    python3 perfbench/run.py --workload mor_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. Progress and the input-size record go to
stdout before the result; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
from a traced run (spans and the Spark event log). See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def start_spark(work: str, trace: bool, cpus: int):
    """Session through the engine's own factory; every file Spark, the
    JVM and the Python workers write lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(local, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata files in the system temp directory. A 1 GiB
        # starting heap and a fixed young generation under the parallel
        # collector, without its throughput-driven resizing, make the JVM's
        # resident high-water mark follow the live data, not GC timing; the
        # maximum heap stays the engine's default.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy -Xms1g -Xmn256m"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    from hudi_rs_spark.session import get_spark
    from hudi_rs_spark.sources.pyds import HudiPyDataSource

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(HudiPyDataSource)
    return spark, events


def descendants(pid: int) -> list[int]:
    """PIDs of the processes below ``pid``, from /proc."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` is a live process (not gone, not a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it and for
    the Python worker daemons it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        workers = descendants(proc.pid)
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
        # the daemons exit when the JVM closes their stdin
        deadline = time.monotonic() + 30
        while any(running(p) for p in workers) and time.monotonic() < deadline:
            time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Driver Python's ru_maxrss plus the JVM's VmHWM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    return (py_kb + jvm_kb) / 1024.0


def calibration_s(spark) -> float:
    """Fixed pure-Spark job, the same as bench.py's calibration row: 10M
    generated rows -> xxhash64 -> 1000-key hash agg -> sort. Its wall time
    probes the host, so drift shows beside the numbers. Best of 3."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 10_000_000, 1, 32)
        .withColumn("k", F.pmod(F.xxhash64("id"), F.lit(1000)))
        .withColumn("v", F.xxhash64("id", F.lit(1)))
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("k")
    )
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        df.count()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return best


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs from /proc/stat; None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(v) for v in f.readline().split()[1:]]
        return fields[7], sum(fields[:8])
    except (OSError, ValueError, IndexError):
        return None


def steal_frac(t0, t1) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: the host contention behind most run-to-run
    drift on a shared VM."""
    if t0 is None or t1 is None or t1[1] == t0[1]:
        return None
    return (t1[0] - t0[0]) / (t1[1] - t0[1])


def tail_percentile(values: list[float]):
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it,
    as ``(percentile, value)``; None when the sample is too small."""
    n = len(values)
    for p in (99.9, 99.0, 90.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            ordered = sorted(values)
            return p, ordered[min(n - 1, int(n * p / 100.0))]
    return None


MIN_SAMPLES = 3


def run_loop(wl, seconds: float, trace: bool) -> None:
    """Closed loop over the workload's rounds of ops. An untraced run
    stops at the first op boundary after ``seconds`` at which every op
    type has ``MIN_SAMPLES`` samples, so one slow op sets no median. A
    traced run alternates untraced and traced rounds, stops at a round
    boundary after ``seconds`` and two rounds, then runs the workload's
    traced services."""
    t0 = time.perf_counter()
    i = 0
    while True:
        for _ in wl.round(traced=trace and i % 2 == 1):
            if not trace and time.perf_counter() - t0 >= seconds:
                samples = collections.Counter(o["type"] for o in wl.ops)
                if min(samples.values()) >= MIN_SAMPLES:
                    return
        i += 1
        if trace and i >= 2 and time.perf_counter() - t0 >= seconds:
            wl.services(traced=True)
            return


def op_medians(ops) -> dict[str, float]:
    """Median wall per op type."""
    walls: dict[str, list[float]] = {}
    for o in ops:
        walls.setdefault(o["type"], []).append(o["wall"])
    return {t: statistics.median(w) for t, w in walls.items()}


def medians_path(args) -> str:
    """Where an untraced run leaves its per-op-type medians for the
    traced run of the same workload, scale and seed."""
    return os.path.join(WORK_ROOT, "untraced",
                        f"{args.workload}-{args.scale}-seed{args.seed}.json")


def table_state(wl) -> dict:
    """Timeline and metadata-table sizes of the workload's table at run end."""
    from hudi_rs_spark import HudiTable

    tl = HudiTable(wl.path, wl.spark).timeline
    mdt = os.path.join(wl.path, ".hoodie", "metadata")
    return {
        "timeline.instants": (float(len(tl.instants)), "count"),
        "timeline.archived": (float(len(tl.archived_instants())), "count"),
        "metadata.mdt_log_files": (
            float(sum(".log." in f for _d, _s, fs in os.walk(mdt) for f in fs)), "count"),
    }


def layer_metrics(wl, tracer, spark_counters, stage_spans, baseline) -> dict:
    """Per-layer metrics from the traced ops: per-op means of span self
    times and counters, Spark counters folded from the event log, ratios
    of totals, and the tracing overhead: the mean over op types of
    (median traced wall / median untraced wall - 1), the untraced medians
    being ``baseline``."""
    from perfbench.tracing import SPARK_COUNTERS, union_length

    traced = [o for o in wl.ops if o["traced"]]
    n = len(traced)
    selfs = tracer.self_times()
    roots = {s["op"]: s for s in tracer.spans if s["parent"] is None}
    tot: dict[str, float] = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    for o in traced:
        c = tracer.counters[o["id"]]
        for k, v in c.items():
            add(k, v)
        for k in SPARK_COUNTERS:
            add(k, spark_counters.get(o["id"], {}).get(k, 0.0))
        st = selfs.get(o["id"], {})
        for k in ("sources.open", "sources.load", "fs.plan", "metadata.listing",
                  "metadata.record_index", "write.upsert", "write.delete",
                  "write.compact", "write.clean"):
            add(k + "_s", st.get(k, 0.0))
        root = roots[o["id"]]
        clipped = [
            (max(a, root["start"]), min(b, root["end"]))
            for a, b in stage_spans.get(o["id"], []) if b > root["start"] and a < root["end"]
        ]
        add("driver.nonstage_s", (root["end"] - root["start"]) - union_length(clipped))
        add("rows_out", o["rows"])

    per_op = lambda k: tot.get(k, 0.0) / n
    m = {k: (per_op(k), u) for k, u in PER_OP_UNITS.items()}
    m["write.bytes_written_mb"] = (per_op("write.bytes_written") / 2**20, "MB")
    m["logfile.records_per_row_out"] = (
        tot.get("logfile.records", 0.0) / max(tot.get("rows_out", 0.0), 1.0), "ratio")
    m["plans.slice_keep_ratio"] = (
        tot.get("plans.kept", 0.0) / max(tot.get("fs.slices", 0.0), 1.0), "ratio")
    m["write.bytes_per_user_byte"] = (
        tot.get("write.bytes_written", 0.0) / max(tot.get("write.user_bytes", 0.0), 1.0),
        "ratio")

    on = op_medians(traced)
    ratios = [on[t] / baseline[t] - 1.0 for t in on if t in baseline]
    m["trace.overhead_frac"] = (statistics.mean(ratios) if ratios else 0.0, "ratio")
    return m


PER_OP_UNITS = {
    "logfile.decode_s": "s", "logfile.bytes": "bytes", "logfile.blocks": "count",
    "logfile.records": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "driver.nonstage_s": "s",
    "sources.open_s": "s", "sources.load_s": "s",
    "fs.plan_s": "s", "fs.slices": "count", "fs.log_files": "count",
    "fs.log_bytes": "bytes",
    "metadata.listing_s": "s", "metadata.record_index_s": "s",
    "metadata.record_index_hits": "count",
    "write.upsert_s": "s", "write.delete_s": "s", "write.compact_s": "s",
    "write.clean_s": "s", "write.files_written": "count",
}


def op_split(wl, tracer, spark_counters) -> dict:
    """Per op type: mean wall split into span self times plus remainder,
    and mean Spark counters."""
    from perfbench.tracing import SPARK_COUNTERS

    selfs = tracer.self_times()
    out: dict[str, dict[str, float]] = {}
    for op_type in sorted({o["type"] for o in wl.ops if o["traced"]}):
        ids = [o["id"] for o in wl.ops if o["traced"] and o["type"] == op_type]
        names = sorted({k for i in ids for k in selfs.get(i, {})})
        out[op_type] = {
            k: statistics.mean(selfs.get(i, {}).get(k, 0.0) for i in ids) for k in names
        }
        out[op_type].update({
            k: statistics.mean(spark_counters.get(i, {}).get(k, 0.0) for i in ids)
            for k in SPARK_COUNTERS
        })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="table sizes; 'tiny' is for perfbench/selfcheck.py")
    args = ap.parse_args(argv)

    # import from the checkout root, not from this script's directory
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(__file__)]
    import hudi_rs_spark  # noqa: F401  (the engine under test, from this checkout)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    try:
        return _run(args, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cpus: int) -> int:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    ticks0 = cpu_ticks()
    spark, events_dir = start_spark(work, bool(args.trace), cpus)
    tracer = Tracer()
    try:
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.scale)
        wl.setup()
        import pyarrow
        import pyspark

        inputs = {"seed": args.seed, "nproc": cpus, "spark": pyspark.__version__,
                  "pyarrow": pyarrow.__version__, "scale": args.scale,
                  "tables": {wl.name: wl.state()}}
        print(json.dumps({"inputs": inputs}), flush=True)
        if args.trace:
            tracer.install_layer_wrappers()
        setup_s = time.perf_counter() - PROCESS_T0
        run_loop(wl, args.seconds, bool(args.trace))
        tracer.close()
        rss = peak_rss_mb(spark)  # before the calibration job can touch the heap
        # the probe's ~3 s would lengthen every run; the traced run,
        # whose metrics include it, records it
        calib = calibration_s(spark) if args.trace else None
        bpub = wl.bytes_per_user_byte()
        end_state = table_state(wl) if args.trace else None
        steal = steal_frac(ticks0, cpu_ticks())
    finally:
        tracer.close()
        stop_spark(spark)

    attempted = len(wl.ops)
    failed = sum(not o["ok"] for o in wl.ops)
    lat = {}
    for t in sorted({o["type"] for o in wl.ops}):
        walls = [o["wall"] for o in wl.ops if o["type"] == t and not o["traced"]]
        if walls:
            lat[t] = {"n": len(walls), "p50_s": statistics.median(walls),
                      "tail": tail_percentile(walls)}
    detail = {"workload": wl.name, "op_latency": lat, "host.calibration_s": calib,
              "host.steal_frac": steal}
    if args.trace:
        from perfbench.tracing import fold_event_log

        spark_counters, stage_spans = fold_event_log(events_dir)
        # against the untraced run of the same seed when one ran in this
        # checkout, which also prices the event log; else against this
        # run's own untraced rounds
        try:
            with open(medians_path(args)) as f:
                baseline, basis = json.load(f), "untraced run"
        except (OSError, ValueError):
            baseline = op_medians(o for o in wl.ops if not o["traced"])
            basis = "untraced rounds of this run"
        metrics = layer_metrics(wl, tracer, spark_counters, stage_spans, baseline)
        detail["trace.overhead_basis"] = basis
        metrics.update(end_state)
        metrics["host.calibration_s"] = (calib, "s")
        detail["op_split"] = op_split(wl, tracer, spark_counters)
        trace_path = os.path.join(WORK_ROOT, "trace", f"{wl.name}-seed{args.seed}.spans.jsonl")
        tracer.write(trace_path)
        detail["spans"] = os.path.relpath(trace_path, ROOT)
    else:
        e2e = wl.end_to_end()
        metrics = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
            "lead_op_p50_s": (e2e["lead_op_p50_s"], "s"),
            "second_op_p50_s": (e2e["second_op_p50_s"], "s"),
            "rows_per_s": (e2e["rows_per_s"], "rows/s"),
            "bytes_per_user_byte": (bpub, "ratio"),
        }
        os.makedirs(os.path.dirname(medians_path(args)), exist_ok=True)
        with open(medians_path(args), "w") as f:
            json.dump(op_medians(wl.ops), f)
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
