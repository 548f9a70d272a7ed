"""Automatic growth management: inline archival, MDT folding, cleaning
and partition TTL.

Hudi runs these inline by default (`hoodie.keep.max/min.commits`,
`hoodie.metadata.compact.max.delta.commits`) because on a table written
continuously — above all by a streaming sink committing every
micro-batch — "the operator will run maintenance later" means unbounded
active timelines and ever-longer MDT log chains. The writer calls
``maybe_auto_maintain`` after every successful commit:

- when the active timeline holds more than ``keep_max_commits``
  completed data instants, archive down to ``keep_min_commits``
  (write/archive.py — crash-safe LSM publish, pending markers pin the
  floor);
- when the MDT ``files`` file group has accumulated at least
  ``mdt_compact_max_deltas`` log files, fold every MDT group into fresh
  HFile bases (write/mdt_compact.py — bounded point-lookup decode);
- clean and expire partitions when the write options or the table
  properties turn those on.

Cost per commit when no threshold is crossed (counted on a local MOR
table): two directory listings (the timeline dir and the MDT files dir,
both O(active metadata)) and one hoodie.properties read for the clean
and TTL gates. It runs in the process that commits: the ``hudi_py``
writer's Python worker for batch and streaming writes. The checks are
cheap exactly because the maintenance keeps them bounded.

Inline compaction (``_maybe_compact``) is not part of this hook: it
needs a SparkSession, which the writer's worker does not have, so
``upsert()`` runs it on the driver after its save.

Failures here must never fail the COMMIT (the data is already durable
and visible): maintenance errors surface as warnings and the next
commit retries. Single-writer scope, like every table service."""

from __future__ import annotations

import warnings


def maybe_auto_maintain(cfg) -> None:
    """Run archival / MDT folding / cleaning / partition TTL when the
    configured thresholds are crossed; never raises (the commit already
    succeeded). hoodie.properties is read once, for the clean and TTL
    gates."""
    try:
        _maybe_archive(cfg)
    except Exception as e:  # noqa: BLE001 — commit durability over tidiness
        warnings.warn(f"auto-archival skipped: {e}", stacklevel=2)
    try:
        _maybe_fold_mdt(cfg)
    except Exception as e:  # noqa: BLE001
        warnings.warn(f"auto MDT compaction skipped: {e}", stacklevel=2)
    try:
        from hudi_rs_spark.config.table_config import HudiTableConfig

        props = HudiTableConfig.from_base_path(cfg.path).props
    except Exception as e:  # noqa: BLE001
        warnings.warn(f"auto clean and partition TTL skipped: {e}", stacklevel=2)
        return
    try:
        _maybe_clean(cfg, props)
    except Exception as e:  # noqa: BLE001
        warnings.warn(f"auto clean skipped: {e}", stacklevel=2)
    try:
        _maybe_ttl(cfg, props)
    except Exception as e:  # noqa: BLE001
        warnings.warn(f"auto partition TTL skipped: {e}", stacklevel=2)


def _maybe_compact(cfg, spark, props: dict) -> None:
    """hoodie.compact.inline: compact once ``max_delta_commits``
    deltacommits have landed since the last compaction commit — the
    classic MOR read-amplification bound, now self-applying. Enablement
    comes from the write options, else ``props`` (the table's
    properties as the write loaded them). The trigger check is one
    timeline listing; the compaction itself is the audited distributed
    service. Needs the session, so ``upsert()`` calls it on the driver
    right after its save; the ``hudi_py`` writer's commit runs in a
    Python worker, which has none."""
    enabled = getattr(cfg, "compact_inline", False)
    max_deltas = getattr(cfg, "compact_inline_max_deltas", 5)
    if not enabled:
        if props.get("hoodie.compact.inline", "").lower() != "true":
            return
        max_deltas = int(
            props.get("hoodie.compact.inline.max.delta.commits", max_deltas)
        )
    if cfg.table_type != "MERGE_ON_READ":
        return
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    tdir = timeline_dir(cfg)
    names = sorted(
        e.name for e in _fs(tdir, cfg.storage_dict()).list_dir(tdir)
    )
    deltas_since = 0
    for n in names:  # instant-sorted: count deltas after the last commit
        if n.endswith(".commit"):
            deltas_since = 0
        elif n.endswith(".deltacommit"):
            deltas_since += 1
    if deltas_since < max_deltas:
        return
    from hudi_rs_spark.write.compact import compact

    compact(spark, cfg.path)


def _maybe_clean(cfg, props: dict) -> None:
    """hoodie.clean.automatic: run the cleaner inline after the commit.
    Enablement + policy come from the write options, else the persisted
    table properties ``props`` (so appends/services inherit the table's
    cleaning contract). The cleaner itself is metadata-sized and
    early-exits when retention holds, so the per-commit cost is one
    listing."""
    enabled = getattr(cfg, "clean_automatic", False)
    policy = getattr(cfg, "cleaner_policy", "") or "KEEP_LATEST_COMMITS"
    retain_commits = getattr(cfg, "clean_retain_commits", 10)
    retain_versions = getattr(cfg, "clean_retain_file_versions", 3)
    retain_hours = getattr(cfg, "clean_retain_hours", 168.0)
    if not enabled:
        if props.get("hoodie.clean.automatic", "").lower() != "true":
            return
        policy = props.get("hoodie.cleaner.policy", policy)
        retain_commits = int(
            props.get("hoodie.cleaner.commits.retained", retain_commits)
        )
        retain_versions = int(
            props.get("hoodie.cleaner.fileversions.retained",
                      retain_versions)
        )
        retain_hours = float(
            props.get("hoodie.cleaner.hours.retained", retain_hours)
        )
    from hudi_rs_spark.write.clean import clean

    clean(
        cfg.path,
        retain_commits=retain_commits,
        policy=policy,
        retain_file_versions=retain_versions,
        retain_hours=retain_hours,
    )


def _maybe_ttl(cfg, props: dict) -> None:
    """RFC-65 inline partition-TTL strategy: when the table property
    ``hoodie.partition.ttl.inline.enabled`` is true (option spelling
    ``partition.ttl.inline`` at write time also accepted via table
    properties), expire partitions older than
    ``hoodie.partition.ttl.days.retained`` after each write commit.
    Expiry is metadata-sized: per-partition newest-instant epochs from
    the fs view; nothing to expire publishes nothing (ttl.py)."""
    if props.get(
        "hoodie.partition.ttl.inline.enabled", ""
    ).lower() != "true":
        return
    days = float(props.get("hoodie.partition.ttl.days.retained", "0"))
    if days <= 0:
        return
    from hudi_rs_spark.write.ttl import apply_partition_ttl

    apply_partition_ttl(
        cfg.path, days,
        policy=props.get(
            "hoodie.partition.ttl.strategy", "KEEP_BY_TIME"
        ),
    )


def _maybe_archive(cfg) -> None:
    if cfg.keep_max_commits <= 0:
        return
    from hudi_rs_spark.write.writer import _fs, timeline_dir

    tdir = timeline_dir(cfg)
    n_completed = sum(
        1
        for e in _fs(tdir, cfg.storage_dict()).list_dir(tdir)
        if e.name.endswith((".commit", ".deltacommit", ".replacecommit"))
    )
    if n_completed > cfg.keep_max_commits:
        from hudi_rs_spark.write.archive import archive_timeline

        archive_timeline(cfg.path, keep_active=cfg.keep_min_commits)


def _maybe_fold_mdt(cfg) -> None:
    if cfg.mdt_compact_max_deltas <= 0:
        return
    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(cfg.path)
    files_dir = f"{base}/.hoodie/metadata/files"
    n_logs = sum(
        1
        for e in _fs(base, cfg.storage_dict()).list_dir(files_dir)
        if e.name.startswith(".files-") and ".log." in e.name
    )
    if n_logs >= cfg.mdt_compact_max_deltas:
        from hudi_rs_spark.write.mdt_compact import clean_mdt, compact_mdt

        # executor-side folds when a session is live and the group count
        # warrants it (local paths only — executors resolve their own
        # storage; memory:// rigs stay driver-side inside compact_mdt)
        spark = None
        if "://" not in cfg.path or cfg.path.startswith("file://"):
            try:
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
            except Exception:  # noqa: BLE001
                spark = None
        if compact_mdt(cfg.path, spark=spark):
            clean_mdt(cfg.path)  # reclaim the superseded pre-fold chains
