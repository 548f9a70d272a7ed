"""Predicate DML — SQL ``UPDATE ... WHERE`` / ``DELETE ... WHERE`` for
hudi_py tables, composed from one pruned snapshot scan plus one upsert,
plus ``delete_partitions`` (Hudi's delete_partition operation / ``ALTER
TABLE ... DROP PARTITION``) as a metadata-only replacecommit.

Spark-first shape: the WHERE clause is a plain Catalyst expression over
the snapshot read, so partition pruning / stats pruning / record-index
pruning all apply before any row is touched; matching rows route
through ``write.upsert`` as updates or tombstones (MOR log appends —
never a table rewrite). At 100 TB the cost is the pruned scan plus the
touched file groups — and dropping a partition costs one listing plus
one atomic publish, zero data I/O.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hudi_rs_spark.write.config import DELETE_COL


def _where(cond) -> Column:
    return F.expr(cond) if isinstance(cond, str) else cond


def delete_where(spark, path: str, where: str | Column, **options) -> int:
    """Delete every row matching ``where``; returns the matched count.
    SQL twin: ``DELETE FROM t WHERE ...``."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.upsert import upsert

    snap = HudiTable(path, spark).read()
    victims = snap.filter(_where(where)).drop(
        *[c for c in snap.columns if c.startswith("_hoodie")]
    )
    victims = victims.localCheckpoint(eager=True)  # pin pre-write state
    n = victims.count()
    if n:
        upsert(victims.withColumn(DELETE_COL, F.lit(True)), path, **options)
    return n


def update_where(
    spark,
    path: str,
    set: dict[str, str | Column],
    where: str | Column,
    **options,
) -> int:
    """Set ``{column: expression}`` on every row matching ``where``;
    returns the matched count. SQL twin: ``UPDATE t SET ... WHERE ...``.
    Expressions may reference the row's current columns."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.upsert import upsert

    tc = HudiTableConfig.from_base_path(path)
    frozen = frozenset(tuple(tc.record_key_fields) + tuple(tc.partition_fields))
    bad = [c for c in set if c in frozen]
    if bad:
        raise ValueError(
            f"update_where cannot change key/partition column(s) {bad}: "
            "use merge_into/delete+insert to move records"
        )
    snap = HudiTable(path, spark).read()
    matched = snap.filter(_where(where))
    for col, expr in set.items():
        matched = matched.withColumn(
            col, F.expr(expr) if isinstance(expr, str) else expr
        )
    matched = matched.drop(
        *[c for c in matched.columns if c.startswith("_hoodie")]
    )
    matched = matched.localCheckpoint(eager=True)  # pin pre-write state
    n = matched.count()
    if n:
        upsert(matched, path, **options)
    return n


def delete_partitions(path: str, partitions, instant: str | None = None) -> int:
    """Drop whole partitions — Hudi's ``delete_partition`` write
    operation (``ALTER TABLE ... DROP PARTITION``): publish ONE
    ``replacecommit`` naming every live file group of the given
    relative partition paths (e.g. ``"lang=en"``) with NO new files.
    Snapshots at/after the instant exclude the groups (the readers'
    replace-commit exclusion, timeline/timeline.py), time travel before
    it still reads them, and clean reclaims the bytes by retention.
    Metadata-only: no data is read or rewritten; returns the number of
    file groups dropped (0 = nothing live there, no instant published).

    CDC note: the typed block feed (``read_changes``) only carries
    writer-emitted change blocks, so a drop produces no 'd' rows there
    (no bytes were written); ``read_changes_derived`` — the
    before/after snapshot diff — reports the dropped rows as deletes.
    """
    wanted = {str(p).strip("/") for p in partitions}
    if not wanted:
        return 0
    return _drop_file_groups(path, instant, wanted)


def truncate_table(path: str, instant: str | None = None) -> int:
    """TRUNCATE TABLE: drop every live file group via ONE metadata-only
    replacecommit — zero data I/O regardless of table size (the bytes
    reclaim by retention, exactly like drop-partition), time travel
    before the truncate intact, the table identity/schema/properties
    untouched so the next write starts clean. Returns the number of
    file groups dropped."""
    return _drop_file_groups(path, instant)


def _drop_file_groups(
    path: str, instant: str | None, wanted: set[str] | None = None
) -> int:
    """Publish ONE metadata-only replacecommit naming every live file
    group of the ``wanted`` relative partition paths (all partitions
    when None); returns the number of groups named (0 = none live, no
    instant published)."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.concurrency import (
        ConcurrentWriteError,
        claim_instant,
        publish,
        release_instant,
    )
    from hudi_rs_spark.write.config import new_instant, service_config

    table = HudiTable(path, spark=None, listing="direct")
    read_point = frozenset(i.timestamp for i in table.timeline.instants)
    replaced: dict[str, list[str]] = {}
    for sl in table.get_file_slices():
        part = (sl.partition_path or "").strip("/")
        if wanted is None or part in wanted:
            replaced.setdefault(part, []).append(sl.file_id)
    if not replaced:
        return 0
    for k in replaced:
        replaced[k] = sorted(set(replaced[k]))
    cfg = service_config(
        table.config, path, instant or new_instant(), "delete_partition",
        instant is not None,
    )
    claim_instant(cfg, "replacecommit")
    try:
        # a commit landing on a dropped group since our listing would be
        # silently erased by this replacecommit — conflict instead
        publish(
            cfg, [], table.schema_json(), read_point=read_point,
            touched={(p, fid) for p, fids in replaced.items() for fid in fids},
            replaced=replaced, action="replacecommit",
        )
    except ConcurrentWriteError:
        release_instant(cfg, "replacecommit")
        raise
    release_instant(cfg, "replacecommit")
    return sum(len(v) for v in replaced.values())
