"""Schema DDL: ALTER TABLE ADD COLUMNS / DROP COLUMNS as metadata-only
schema commits.

The reference resolves the table schema from the LATEST commit metadata
(``crates/core/src/schema/resolver.rs:41-47``), so evolving the schema
is publishing one empty commit carrying the new schema — zero data I/O
at any table size:

* ADD COLUMNS appends nullable fields; every reader backfills nulls for
  files written before (the add-column read path pinned by
  tests/test_schema_evolution.py).
* DROP COLUMNS removes fields from the published schema; old files keep
  the bytes on storage but the per-epoch scan conformance projects the
  column out everywhere (time travel BEFORE the drop still shows it —
  schema resolution is latest-wins, same as the reference, so as-of
  reads use the latest schema with the column gone; the bytes are
  reclaimable by rewrite services).

A later upsert whose frame still carries a dropped column re-adds it
via the commit-schema union (add-column evolution) — the same behavior
Hudi exhibits with overwrite payloads.
"""

from __future__ import annotations


class DdlError(ValueError):
    """The DDL statement cannot apply to this table."""


def _schema_commit(path: str, schema_json: dict, instant: str | None) -> None:
    """Publish one empty commit whose only payload is the new schema."""
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.write.concurrency import (
        claim_instant,
        publish,
        release_instant,
    )
    from hudi_rs_spark.write.config import new_instant, service_config

    cfg = service_config(
        HudiTableConfig.from_base_path(path), path,
        instant or new_instant(), "alter_schema", instant is not None,
    )
    claim_instant(cfg)
    try:
        publish(cfg, [], schema_json)
    finally:
        release_instant(cfg)


def _current_schema(path: str) -> dict:
    from hudi_rs_spark.sources.hudi import HudiTable

    sj = HudiTable(path, spark=None, listing="direct").schema_json()
    if sj is None or not isinstance(sj.get("fields"), list):
        raise DdlError(f"cannot resolve the current schema of {path}")
    return sj


def add_columns(
    path: str, columns: dict[str, str], instant: str | None = None
) -> None:
    """ALTER TABLE ADD COLUMNS: ``columns`` maps name -> Spark DDL type
    (``"score double"`` style values like ``int``/``bigint``/``string``/
    ``array<double>``). New columns are nullable; existing rows read
    null."""
    from pyspark.sql.types import _parse_datatype_string

    from hudi_rs_spark.write.writer import _spark_to_avro

    if not columns:
        raise DdlError("ADD COLUMNS needs at least one column")
    sj = _current_schema(path)
    have = {f.get("name") for f in sj["fields"]}
    from hudi_rs_spark.config.table_config import HudiTableConfig

    chain = rename_chain(HudiTableConfig.from_base_path(path).props)
    history = {p for priors in chain.values() for p in priors}
    new_fields = []
    for name, ddl in columns.items():
        if name in have:
            raise DdlError(f"column {name!r} already exists")
        if name in history:
            # old records still carry this name for the RENAMED column;
            # a new column under it would silently absorb their values
            raise DdlError(
                f"column name {name!r} was previously renamed away and "
                "cannot be reused"
            )
        try:
            dt = _parse_datatype_string(ddl)
        except Exception as e:
            raise DdlError(f"cannot parse type {ddl!r} for {name!r}: {e}") from e
        new_fields.append(
            {
                "name": name,
                "type": ["null", _spark_to_avro(dt, name)],
                "default": None,
            }
        )
    _schema_commit(
        path, {**sj, "fields": [*sj["fields"], *new_fields]}, instant
    )


def drop_columns(
    path: str, columns, instant: str | None = None
) -> None:
    """ALTER TABLE DROP COLUMN(S): remove fields from the published
    schema. Key, partition, and ordering columns are load-bearing and
    cannot be dropped."""
    from hudi_rs_spark.config.table_config import HudiTableConfig

    cols = [str(c) for c in (columns if not isinstance(columns, str) else [columns])]
    if not cols:
        raise DdlError("DROP COLUMNS needs at least one column")
    tc = HudiTableConfig.from_base_path(path)
    protected = set(tc.record_key_fields) | set(tc.partition_fields) | set(
        tc.ordering_fields or []
    )
    sj = _current_schema(path)
    have = {f.get("name") for f in sj["fields"]}
    for c in cols:
        if c not in have:
            raise DdlError(f"column {c!r} does not exist")
        if c in protected:
            raise DdlError(
                f"column {c!r} is a key/partition/ordering column and "
                "cannot be dropped"
            )
    drop = set(cols)
    kept = [f for f in sj["fields"] if f.get("name") not in drop]
    if not kept:
        raise DdlError("cannot drop every column")
    _schema_commit(path, {**sj, "fields": kept}, instant)


RENAMES_PROP = "hoodie.schema.renames"


def rename_chain(props: dict) -> dict[str, list[str]]:
    """Parse the persisted rename map: {current_name: [prior names,
    newest first]}. Empty when the table never renamed a column."""
    import json

    raw = props.get(RENAMES_PROP, "")
    if not raw:
        return {}
    try:
        out = json.loads(raw)
        return {k: list(v) for k, v in out.items()} if isinstance(out, dict) else {}
    except ValueError:
        return {}


def rename_column(
    path: str, old: str, new: str, instant: str | None = None
) -> None:
    """ALTER TABLE RENAME COLUMN: one metadata-only schema commit plus a
    persisted rename map (``hoodie.schema.renames``) the scan uses to
    read the column under its PRIOR name in files written before the
    rename (per-epoch physical-name mapping — zero data I/O, old bytes
    stay put exactly like type widening).

    MOR log files are handled the same way: log records embed field
    names, and the log-decode kernel (sources/pyds.py::_decode_logs)
    maps a record carrying a prior name onto the current one before
    conforming (``sources/conform.py::apply_renames``). That mapping is
    sound because a renamed-away name can NEVER be reused — this
    function and ``add_columns`` both refuse names in the rename
    chain's history — so a prior name's presence identifies the
    record's epoch. Key/partition/ordering columns cannot be renamed
    (they are wired into routing, pruning, and precombine)."""
    import json

    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        update_properties,
    )
    from hudi_rs_spark.sources.hudi import HudiTable

    tc = HudiTableConfig.from_base_path(path)
    protected = set(tc.record_key_fields) | set(tc.partition_fields) | set(
        tc.ordering_fields or []
    )
    if old in protected:
        raise DdlError(
            f"column {old!r} is a key/partition/ordering column and "
            "cannot be renamed"
        )
    sj = _current_schema(path)
    names = [f.get("name") for f in sj["fields"]]
    if old not in names:
        raise DdlError(f"column {old!r} does not exist")
    if new in names:
        raise DdlError(f"column {new!r} already exists")
    table = HudiTable(path, spark=None, listing="direct")
    tl = table.timeline
    if tl.pending_compaction_plans() or tl.pending_clustering_plans():
        raise DdlError(
            "cannot rename with pending compaction/clustering plans: "
            "their inputs were planned under the old schema"
        )
    # the scan maps a renamed column to its physical name PER EPOCH
    # (the writing commit's schema); every live slice's epoch must
    # therefore be resolvable NOW, or its files would silently read
    # nulls under the new name — refuse loudly instead (mirror the
    # scan's epoch pool: active + archived-if-enabled)
    by_ts = {i.timestamp: i for i in tl.instants}
    if table.config.archived_read_enabled:
        for i in tl.archived_instants():
            by_ts.setdefault(i.timestamp, i)
    for sl in table.get_file_slices():
        inst = by_ts.get(sl.commit_timestamp)
        ok = False
        if inst is not None:
            try:
                ok = bool(tl.metadata_for(inst).schema_json)
            except Exception:
                ok = False
        if not ok:
            raise DdlError(
                f"slice written at {sl.commit_timestamp} has no "
                "resolvable commit schema (archived beyond the active "
                "pool?) — its physical column names cannot be mapped; "
                "rewrite it (cluster/compact) before renaming"
            )
    chain = rename_chain(tc.props)
    history = {p for priors in chain.values() for p in priors}
    if new in history:
        # reusing a renamed-away name would make old log/base records
        # carrying it ambiguous (which epoch's column is it?) — the
        # presence-based log mapping depends on this never happening
        raise DdlError(
            f"column name {new!r} was previously renamed away and "
            "cannot be reused (records written before that rename "
            "still carry it)"
        )
    prior = chain.pop(old, [])
    chain[new] = [old, *prior]
    new_fields = [
        {**f, "name": new} if f.get("name") == old else f
        for f in sj["fields"]
    ]
    _schema_commit(path, {**sj, "fields": new_fields}, instant)

    def pin(have: dict) -> dict:
        have[RENAMES_PROP] = json.dumps(chain, sort_keys=True)
        return have

    update_properties(path, pin)


# ---------------------------------------------------------------------------
# Table properties (ALTER TABLE ... SET/UNSET TBLPROPERTIES)
# ---------------------------------------------------------------------------
# Structural keys whose value the engine derives invariants from; each
# has its dedicated, validated mutation path (upgrade_table for the
# version, convert_to_bucket for index layout, rename_column for the
# rename chain, ...). A raw SET would silently desynchronize readers.
_PROTECTED_PROP_PREFIXES = (
    "hoodie.table.",        # name/type/version/keys/partitioning/keygen
    "hoodie.timeline.",     # layout + paths
    "hoodie.populate.",     # meta-field materialization contract
    "hoodie.schema.",       # rename chain
    "hoodie.bucket.index.", # split trie
    "hoodie.keygen.",       # timestamp keygen wiring
    "hoodie.datasource.write.hive_style_partitioning",
    "hoodie.datasource.write.partitionpath.urlencode",
    "hoodie.datasource.write.drop.partition.columns",
    "hoodie.archivelog.",
    "hoodie.internal.",
    "hoodie.compaction.payload.class",
)


def _check_unprotected(keys) -> None:
    bad = sorted(
        k for k in keys
        if any(k.startswith(p) for p in _PROTECTED_PROP_PREFIXES)
    )
    if bad:
        raise DdlError(
            f"table properties {bad} are structural and cannot be set/"
            "unset directly — use the dedicated operation (upgrade_table, "
            "convert_to_bucket, rename_column, keygen options at create "
            "time, ...)"
        )


def set_table_properties(path: str, props: dict[str, str]) -> int:
    """ALTER TABLE SET TBLPROPERTIES: merge free (non-structural) keys
    into hoodie.properties — tuning knobs (cleaner/compaction triggers,
    commit.callback.file, precommit validators) and user tags. One
    read-modify-publish of the properties file; no commit (properties
    are table config, not data — same as Hudi)."""
    from hudi_rs_spark.config.table_config import update_properties

    if not props:
        raise DdlError("SET TBLPROPERTIES requires at least one key")
    _check_unprotected(props)

    def edit(have: dict) -> dict:
        have.update({str(k): str(v) for k, v in props.items()})
        return have

    update_properties(path, edit)
    return len(props)


def unset_table_properties(
    path: str, keys, if_exists: bool = False
) -> int:
    """ALTER TABLE UNSET TBLPROPERTIES [IF EXISTS]: remove free keys.
    Without ``if_exists`` a missing key raises (Spark semantics)."""
    from hudi_rs_spark.config.table_config import (
        HudiTableConfig,
        update_properties,
    )

    keys = [str(k) for k in keys]
    if not keys:
        raise DdlError("UNSET TBLPROPERTIES requires at least one key")
    _check_unprotected(keys)
    have = HudiTableConfig.from_base_path(path).props
    missing = sorted(k for k in keys if k not in have)
    if missing and not if_exists:
        raise DdlError(
            f"table properties {missing} do not exist "
            "(use UNSET TBLPROPERTIES IF EXISTS to ignore)"
        )
    present = [k for k in keys if k in have]

    def edit(have: dict) -> dict:
        for k in present:
            have.pop(k, None)
        return have

    if present:
        update_properties(path, edit)
    return len(present)
