"""Streaming Hudi sink: ``df.writeStream.format("hudi_py")`` — one
timeline instant per micro-batch, exactly-once via commit-metadata
batch-id idempotence.

The natural dual of the commit-offset stream READER
(sources/pyds.py:HudiPyStreamReader, reference's incremental pulls):

    q = (events.writeStream.format("hudi_py")
         .option("path", p).option("recordkey.field", "id")
         .option("checkpointLocation", cp).start())

Semantics:
- Each micro-batch writes new file groups executor-side (the same
  vectorized task writer as the batch path) under a per-batch instant
  derived deterministically from the query's base instant + batchId, so
  every task of a batch agrees on the instant without coordination.
- ``commit(messages, batchId)`` publishes the instant with
  ``extraMetadata["streaming.batchId"]``. On restart, Spark replays the
  last unacknowledged batch: commit() finds the batchId already in the
  timeline and SKIPS publishing (removing the replayed duplicate files)
  — readers only see files reachable from completed instants, so the
  table observes each batch exactly once.
- Downstream ``spark.readStream.format("hudi_py")`` consumes the commits
  incrementally — stream→Hudi→stream composes.

Scale: executors never coordinate; the driver's per-batch work is
O(written files) stats + an O(active timeline) idempotence scan (the
active timeline is bounded by archival). Appends-only here; streaming
upserts route through write/upsert.py in a foreachBatch.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import DataSourceStreamArrowWriter

from hudi_rs_spark.write.config import WriteConfig, new_instant
from hudi_rs_spark.write.writer import (
    HudiWriteMessage,
    _fs,
    _local,
    data_avro_schema,
    existing_config,
    init_table,
    resolve_index_flags,
    timeline_dir,
    write_task,
)

BATCH_ID_KEY = "streaming.batchId"
QUERY_ID_KEY = "streaming.queryId"


def query_key(options: dict) -> str:
    """Stable identity of the streaming QUERY, derived from its
    checkpoint location: batch ids restart from 0 for every fresh
    checkpoint, so an idempotence ledger keyed on batchId alone would
    let a NEW query against a table with prior streaming commits match
    the OLD query's batch ids, take the replay path, and silently drop
    its own data. The checkpoint path is exactly as durable as the
    replay contract itself (same checkpoint -> same query -> replays
    must dedupe; new checkpoint -> new query -> nothing to dedupe).
    ``legacy`` when no checkpointLocation option is present (Spark
    always forwards it for durable queries)."""
    import hashlib

    from hudi_rs_spark.write.config import _opt

    cp = _opt(options, "checkpointLocation")
    if not cp:
        return "legacy"
    return hashlib.md5(str(cp).encode()).hexdigest()[:12]


def batch_instant(table_path: str, batch_id: int, qkey: str = "legacy") -> str:
    """The micro-batch's timeline instant, agreed WITHOUT coordination.

    Spark re-instantiates the Python stream writer per micro-batch (and
    executors get their own deserialized copies), so no instance state
    survives from ``write()`` tasks to ``commit()`` — any clock-based
    instant would differ per process. Instead the first process to need
    batch N's instant claims it atomically (storage ``create_new`` —
    fails if the file exists, so every reader sees one complete
    17-digit value), and everyone else reads it. The sidecar persists
    across restarts, so a REPLAYED batch reuses its original instant:
    replay-written files differ only in write token, which the reader's
    retried-write rule (newer token wins within an instant) dedupes even
    before the commit-ledger check skips re-publishing."""
    base = _local(table_path)
    st = _fs(base)
    # sidecars are per-QUERY: a fresh-checkpoint query reusing an old
    # query's batch-0 sidecar would write files under an instant that
    # is already committed (transiently visible uncommitted data)
    stem = str(int(batch_id)) if qkey == "legacy" else f"{qkey}-{int(batch_id)}"
    p = f"{base}/.hoodie/.stream_instants/{stem}"
    # atomic create-if-absent: the first process to need batch N's
    # instant claims it; everyone else reads the winner's complete value.
    # The candidate must not collide with a timestamp already on the
    # timeline (a batch writer's commit in the same millisecond):
    # publishing the same (instant, action) file twice would overwrite
    # the earlier commit instead of adding one.
    st.create_new(p, _fresh_stream_instant(base, st).encode())
    return st.read_text(p).strip()


def _fresh_stream_instant(base: str, st) -> str:
    import time as _time

    tdir = f"{base}/.hoodie/timeline"
    if not st.isdir(tdir):
        tdir = f"{base}/.hoodie"
    for _ in range(100):
        inst = new_instant()
        if st.isdir(tdir) and any(
            not e.is_dir
            and (e.name.startswith(inst + ".") or e.name.startswith(inst + "_"))
            for e in st.list_dir(tdir)
        ):
            _time.sleep(0.001)
            continue
        return inst
    return inst  # clock pathologically stuck: keep the last candidate


def committed_batch_ids(cfg: WriteConfig, qkey: str = "legacy") -> set[int]:
    """Batch ids THIS query already published to the timeline (completed
    commits only) — the idempotence ledger for restart replays. Entries
    are matched on the recorded query key so a new query (fresh
    checkpoint, batch ids restarting at 0) never mistakes another
    query's commits for its own replays; commits written before the
    query key existed count as ``legacy``."""
    tdir = timeline_dir(cfg)
    st = _fs(tdir, cfg.storage_dict())
    out: set[int] = set()
    for e in st.list_dir(tdir):
        name = e.name
        if name.endswith((".commit", ".deltacommit")):
            try:
                meta = json.loads(
                    st.read_bytes(f"{tdir}/{name}").decode("utf-8") or "{}"
                )
            except (OSError, ValueError):
                continue
            extra = meta.get("extraMetadata") or {}
            bid = extra.get(BATCH_ID_KEY)
            if bid is None or extra.get(QUERY_ID_KEY, "legacy") != qkey:
                continue
            try:
                out.add(int(bid))
            except ValueError:
                pass
    return out


class HudiPyStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options: dict, schema):
        self.cfg = WriteConfig.from_options(options)
        self.query_key = query_key(options)
        # failed earlier runs (or abandoned OTHER queries) may have left
        # MDT shard logs anchored at a never-committed instant; purge
        # before any task can reuse such an anchor (and before flag
        # resolution, which inspects index files). THIS query's sidecar
        # instants are preserved: Spark re-instantiates this writer at
        # commit time, so the in-flight batch's own uncommitted shard
        # logs must survive, and a restart replays the last batch under
        # its original sidecar instant.
        from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

        purge_uncommitted_mdt_logs(
            self.cfg.path, keep_anchors=self._sidecar_instants()
        )
        # a stream into a stats/index-advertising table must keep those
        # partitions widening, exactly like a batch append (stale
        # partition_stats would make exclusion pruning WRONG)
        resolve_index_flags(
            self.cfg, existing_config(self.cfg.path, self.cfg.storage_dict())
        )
        self.schema = schema

    def _sidecar_instants(self) -> set[str]:
        """Instants this query's batches have allocated (committed or
        in-flight) — read from the per-query sidecar files."""
        d = f"{_local(self.cfg.path)}/.hoodie/.stream_instants"
        st = _fs(d, self.cfg.storage_dict())
        out: set[str] = set()
        want_legacy = self.query_key == "legacy"
        for e in st.list_dir(d):
            name = e.name
            if name.endswith(".tmp"):
                continue
            owned = (
                name.isdigit() if want_legacy
                else name.startswith(self.query_key + "-")
            )
            if not owned:
                continue
            try:
                out.add(st.read_text(f"{d}/{name}").strip())
            except OSError:
                pass
        return out

    def _batch_cfg(self, batch_id: int) -> WriteConfig:
        from dataclasses import replace

        return replace(
            self.cfg,
            instant=batch_instant(self.cfg.path, batch_id, self.query_key),
        )

    def write(self, iterator):
        from pyspark import TaskContext

        tc = TaskContext.get()
        bid = tc.getLocalProperty("streaming.sql.batchId") if tc else None
        if bid is None:
            raise RuntimeError(
                "hudi_py stream writer: no streaming.sql.batchId task "
                "property (not running under a streaming query?)"
            )
        return write_task(self._batch_cfg(int(bid)), iterator)

    def _is_pre_upgrade_replay(self, cfg, batchId: int, own_ledger: set[int]) -> bool:
        """Upgrade compatibility: a query checkpointed BEFORE the
        per-query ledger existed published its batches with qkey
        'legacy' and bare-batch-id sidecars. Restarted across the
        upgrade inside the replay window, it derives a hashed key and
        would miss its own last batch — re-committing it as duplicate
        data. Honor the legacy ledger then, but only in the unambiguous
        window: this query has NO post-upgrade commits yet and the
        replayed batch id is nonzero (a genuinely NEW query always
        starts at batch 0 — matching legacy batch 0 there is exactly
        the cross-query replay bug the per-query ledger fixed)."""
        if self.query_key == "legacy" or batchId == 0 or own_ledger:
            return False
        return batchId in committed_batch_ids(cfg, "legacy")

    def commit(self, messages, batchId: int) -> None:
        stats = [s for m in messages if m is not None for s in m.stats]
        cfg = self._batch_cfg(batchId)
        tc = existing_config(cfg.path, cfg.storage_dict())
        init_table(cfg, tc)
        own_ledger = committed_batch_ids(cfg, self.query_key)
        if batchId in own_ledger or self._is_pre_upgrade_replay(
            cfg, batchId, own_ledger
        ):
            # restart replay of an already-published batch: drop the
            # duplicate (uncommitted, hence invisible) files and ack
            base = _local(cfg.path)
            st = _fs(base, cfg.storage_dict())
            for s in stats:
                try:
                    st.remove(f"{base}/{s['path']}")
                except OSError:
                    pass
            return
        from hudi_rs_spark.write.concurrency import publish

        publish(
            cfg, stats,
            data_avro_schema(self.schema, cfg.table_name),
            extra_metadata={
                BATCH_ID_KEY: str(batchId),
                QUERY_ID_KEY: self.query_key,
            },
        )
        # a per-micro-batch committer is exactly the writer that grows
        # timelines without bound — inline maintenance keeps the active
        # dir and MDT chains bounded without operator action
        from hudi_rs_spark.write.maintenance import maybe_auto_maintain

        maybe_auto_maintain(cfg)

    def abort(self, messages, batchId: int) -> None:
        base = _local(self.cfg.path)
        st = _fs(base, self.cfg.storage_dict())
        for m in messages:
            if m is None:
                continue
            for s in m.stats:
                try:
                    st.remove(f"{base}/{s['path']}")
                except OSError:
                    pass
        from hudi_rs_spark.write.mdt import purge_uncommitted_mdt_logs

        purge_uncommitted_mdt_logs(self.cfg.path)
