"""Timeline loading + selection — behavior of
/root/reference/crates/core/src/timeline/mod.rs:54-60 (model),
timeline/selector.rs:136-350 (selection), :145-171 (layouts).

Driver-side only: a timeline is a small ordered list of instants; loading
it is a single directory listing + metadata-file reads. Loaded once per
HudiTable instance (snapshot pinning — docs/reader-spec.md:295-297).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from hudi_rs_spark.config.table_config import HudiTableConfig
from hudi_rs_spark.timeline.commit_metadata import CommitMetadata, parse_commit_file
from hudi_rs_spark.timeline.instant import Action, Instant, State


@dataclass
class Timeline:
    base_path: str
    timeline_dir: str
    instants: list[Instant]  # completed, sorted — ACTIVE timeline only
    _metadata_cache: dict[str, CommitMetadata] = field(default_factory=dict)
    config: HudiTableConfig | None = None
    # requested/inflight marker timestamps still present in the active dir;
    # an instant with a live pending marker is NEVER archived-completed,
    # however old its timestamp (a crashed write can predate the archival
    # boundary until lazy rollback cleans it)
    pending_timestamps: set[str] = field(default_factory=set)
    # archived timeline (loaded lazily behind the double gate)
    _archived: list[Instant] | None = None
    _archived_meta: dict[str, CommitMetadata] = field(default_factory=dict)
    _archived_dir_used: str | None = None
    # True when the archived-timeline load skipped anything it could not
    # parse (real v6 archives can be compacted `.commits_.archive.N` Avro
    # files rather than instant-named files; LSM entries can be corrupt).
    # A partial load must NOT be treated as authoritative history — absence
    # from it cannot prove an old commit never completed.
    _archived_skipped: bool = False
    # memoized pending_compaction_plans (reads payloads only; marker
    # names come from the load-time listing)
    _pending_compactions: dict | None = None
    # memoized pending_clustering_plans (same lifecycle)
    _pending_clusterings: dict | None = None
    # service plan marker file names collected by load() — None when
    # this Timeline was constructed directly (tests): fall back to a list
    _service_markers: list | None = None

    @classmethod
    def load(cls, base_path: str, config: HudiTableConfig) -> "Timeline":
        hoodie_dir = os.path.join(base_path, ".hoodie")
        if config.timeline_layout_version >= 2 and config.timeline_path:
            timeline_dir = os.path.join(hoodie_dir, config.timeline_path)
        else:
            timeline_dir = hoodie_dir
        from hudi_rs_spark.fs.storage import storage_for

        instants: list[Instant] = []
        pending: set[str] = set()
        service_markers: list[str] = []
        for entry in storage_for(base_path).list_dir(timeline_dir):
            if entry.is_dir:
                continue
            if entry.name.endswith(
                (".compaction.requested", ".clustering.requested")
            ):
                # scheduled-service plan markers: collected during THIS
                # list so pending_*_plans never re-lists the dir (one
                # LIST per table view — the planner's metadata cost on
                # an object store)
                service_markers.append(entry.name)
            try:
                instant = Instant.from_file_name(entry.name)
            except (ValueError, KeyError):
                continue  # non-data actions (indexing, clean, ...) or aux files
            if instant.is_completed:
                instants.append(instant)
            else:
                pending.add(instant.timestamp)
        # a completed instant may coexist with stale markers; completion wins
        pending -= {i.timestamp for i in instants}
        instants.sort(key=lambda i: i.sort_key())
        tl = cls(
            base_path, timeline_dir, instants, config=config,
            pending_timestamps=pending,
        )
        object.__setattr__(tl, "_service_markers", service_markers)
        return tl

    # -- archived timeline (timeline/mod.rs:98-135 double gate) -----------
    def earliest_active_timestamp(self) -> str | None:
        return self.instants[0].timestamp if self.instants else None

    def pending_compaction_plans(self) -> dict[str, dict]:
        """{instant: plan} for scheduled-but-not-completed compactions —
        ``{ts}.compaction.requested`` marker files carrying a JSON plan
        (write/async_compact.py). The instant set is what the file-slice
        view needs (logs anchored at a scheduled instant merge onto the
        previous committed slice until the compaction lands); the plan
        bodies drive run_scheduled_compaction."""
        if self._pending_compactions is not None:
            return self._pending_compactions
        out = self._load_service_plans(".compaction.requested")
        object.__setattr__(self, "_pending_compactions", out)
        return out

    def pending_clustering_plans(self) -> dict[str, dict]:
        """{instant: plan} for scheduled-but-not-completed clustering —
        ``{ts}.clustering.requested`` marker files carrying a JSON plan
        (write/async_cluster.py). Same contract as
        pending_compaction_plans: the instant set feeds the readers'
        pending-anchor log association; the plan bodies drive
        run_scheduled_clustering."""
        if self._pending_clusterings is not None:
            return self._pending_clusterings
        out = self._load_service_plans(".clustering.requested")
        object.__setattr__(self, "_pending_clusterings", out)
        return out

    def _load_service_plans(self, suffix: str) -> dict[str, dict]:
        """Plan payloads for marker names collected at load() time — no
        extra LIST; a directly-constructed Timeline (no load) lists
        lazily once."""
        import json as _json

        from hudi_rs_spark.fs.storage import storage_for

        st = storage_for(self.base_path)
        markers = self._service_markers
        if markers is None:
            markers = [
                e.name
                for e in st.list_dir(self.timeline_dir)
                if not e.is_dir
                and e.name.endswith(
                    (".compaction.requested", ".clustering.requested")
                )
            ]
            object.__setattr__(self, "_service_markers", markers)
        completed = {i.timestamp for i in self.instants}
        out: dict[str, dict] = {}
        for name in markers:
            if not name.endswith(suffix):
                continue
            ts = name.split(".", 1)[0]
            if not ts or ts in completed:
                continue
            try:
                payload = st.read_bytes(f"{self.timeline_dir}/{name}")
                out[ts] = _json.loads(payload) if payload else {}
            except (OSError, ValueError):
                out[ts] = {}
        return out

    def pending_plan_file_groups(self) -> dict[str, str]:
        """{file_id: plan instant} for every file group a pending
        service plan pins: compaction plans list ``groups[].fileId``,
        clustering plans ``groups[].inputs[].fileId``. The one reader of
        both plan shapes."""
        out: dict[str, str] = {}
        for pi, plan in self.pending_compaction_plans().items():
            for g in plan.get("groups", ()):
                out[g["fileId"]] = pi
        for pi, plan in self.pending_clustering_plans().items():
            for g in plan.get("groups", ()):
                for inp in g.get("inputs", ()):
                    out[inp["fileId"]] = pi
        return out

    def pending_service_anchors(self) -> set[str]:
        """Instants of every pending table-service plan (compaction +
        clustering): committed logs anchored at one of these merge onto
        the previous committed slice until the service lands."""
        return set(self.pending_compaction_plans()) | set(
            self.pending_clustering_plans()
        )

    def _archived_enabled(self) -> bool:
        return self.config is not None and self.config.archived_read_enabled

    def archived_instants(self) -> list[Instant]:
        """Completed instants from the archived timeline, loaded lazily.

        Layout 1 (v6): instant-named files under the archive folder
        (loader.rs:236-253 V1Archived). Layout 2 (v8+): the LSM history —
        ``_version_`` names the current ``manifest_{N}`` (lsm_tree.rs:
        91-110), whose entries point at compacted Avro OCF files of
        (instantTime, completionTime, action, metadata) records; the
        reference leaves this branch TODO (loader.rs:255-259) — we read
        it so time travel into the archived range works."""
        if self._archived is not None:
            return self._archived
        hoodie_dir = os.path.join(self.base_path, ".hoodie")
        out: list[Instant] = []
        cfg = self.config
        if cfg is None:
            self._archived = []
            return self._archived
        if cfg.timeline_layout_version >= 2:
            history_dir = os.path.join(
                hoodie_dir, cfg.timeline_path or "timeline", cfg.timeline_history_path
            )
            out = self._load_lsm_history(history_dir)
        else:
            from hudi_rs_spark.fs.storage import storage_for

            archive_dir = os.path.join(hoodie_dir, cfg.archivelog_folder)
            self._archived_dir_used = archive_dir
            for entry in storage_for(self.base_path).list_dir(archive_dir):
                if entry.is_dir:
                    continue
                try:
                    instant = Instant.from_file_name(entry.name)
                except (ValueError, KeyError):
                    # Not an instant-named file — e.g. a compacted
                    # `.commits_.archive.N` Avro segment we don't decode.
                    # Its instants are real history we failed to load.
                    self._archived_skipped = True
                    continue
                if instant.is_completed:
                    out.append(instant)
        active = {i.timestamp for i in self.instants}
        out = [i for i in out if i.timestamp not in active]
        out.sort(key=lambda i: i.sort_key())
        self._archived = out
        return out

    def _load_lsm_history(self, history_dir: str) -> list[Instant]:
        import json as _json

        from hudi_rs_spark.avro.ocf import read_ocf_file
        from hudi_rs_spark.timeline.commit_metadata import parse_commit_bytes

        from hudi_rs_spark.fs.storage import storage_for

        st = storage_for(self.base_path)
        version_file = os.path.join(history_dir, "_version_")
        if not st.isfile(version_file):
            return []
        version = int(st.read_text(version_file).strip())
        manifest_path = os.path.join(history_dir, f"manifest_{version}")
        manifest = _json.loads(st.read_text(manifest_path))
        out: list[Instant] = []
        for entry in manifest.get("entries", []):
            fpath = os.path.join(history_dir, entry["file_name"])
            try:
                _, records = read_ocf_file(fpath)
            except Exception:
                # A manifest-listed segment we cannot decode holds real
                # history — mark the load partial so it is never treated
                # as authoritative for absence.
                self._archived_skipped = True
                continue
            for r in records:
                ts, action = r.get("instantTime"), r.get("action")
                if not ts or not action:
                    continue
                try:
                    instant = Instant(
                        ts, Action(action), State.COMPLETED, r.get("completionTime")
                    )
                except ValueError:
                    continue  # non-data action in history
                out.append(instant)
                meta = r.get("metadata")
                if meta is not None:
                    raw = meta if isinstance(meta, bytes) else str(meta).encode()
                    try:
                        self._archived_meta[ts] = parse_commit_bytes(raw)
                    except Exception:
                        pass
        return out

    def archived_completed_timestamps(self) -> set[str] | None:
        """Timestamps positively known archived-completed, or None when
        the archived-read gate is off (membership unknowable without
        loading the archive)."""
        if not self._archived_enabled():
            return None
        return {i.timestamp for i in self.archived_instants()}

    def archived_load_complete(self) -> bool:
        """True only when the archived timeline was loaded without skipping
        any file/segment it could not parse. Absence from a PARTIAL load
        proves nothing — fs_view must keep the fail-open heuristic then."""
        if not self._archived_enabled():
            return False
        self.archived_instants()  # ensure loaded
        return not self._archived_skipped

    def _with_archived(self, instants: list[Instant]) -> list[Instant]:
        merged = self.archived_instants() + instants
        merged.sort(key=lambda i: i.sort_key())
        return merged

    # -- selection (selector.rs behaviors) --------------------------------
    def completed_commits(self) -> list[Instant]:
        return list(self.instants)

    # -- action-filtered accessors (timeline/mod.rs:155-217, surfaced in
    # python/hudi/_internal.pyi HudiTimeline) --------------------------
    def _completed_by_action(self, action, desc: bool) -> list[Instant]:
        out = [i for i in self.instants if i.action == action]
        return list(reversed(out)) if desc else out

    def get_completed_commits(self, desc: bool = False) -> list[Instant]:
        from hudi_rs_spark.timeline.instant import Action

        return self._completed_by_action(Action.COMMIT, desc)

    def get_completed_deltacommits(self, desc: bool = False) -> list[Instant]:
        from hudi_rs_spark.timeline.instant import Action

        return self._completed_by_action(Action.DELTA_COMMIT, desc)

    def get_completed_replacecommits(self, desc: bool = False) -> list[Instant]:
        from hudi_rs_spark.timeline.instant import Action

        return self._completed_by_action(Action.REPLACE_COMMIT, desc)

    def get_completed_clustering_commits(self, desc: bool = False) -> list[Instant]:
        """Replacecommits whose metadata records operationType 'cluster'
        (timeline/mod.rs:196-217)."""
        return [
            i
            for i in self.get_completed_replacecommits(desc)
            if (self.metadata_for(i).operation_type or "") == "cluster"
        ]

    def get_instant_metadata_in_json(self, instant: Instant) -> str:
        """Full commit-metadata document as a JSON string
        (timeline/mod.rs:226-231 analog; layout-2 avro documents are
        rendered from the parsed record)."""
        import json as _json

        return _json.dumps(
            self.metadata_for(instant).raw,
            default=lambda o: (
                o.decode("utf-8", "replace")
                if isinstance(o, (bytes, bytearray))
                else str(o)
            ),
        )

    def latest_commit_timestamp(self) -> str | None:
        return self.instants[-1].timestamp if self.instants else None

    def instants_as_of(self, as_of_timestamp: str | None) -> list[Instant]:
        """Instants with requested ts <= as_of (string compare is correct
        for fixed-width hudi timestamps; mixed 14/17-char compared by
        epoch millis).

        Double gate (timeline/mod.rs:98-135): archived instants join the
        view only when the query has a time filter AND
        hoodie.internal.timeline.archived.enabled is true."""
        if as_of_timestamp is None:
            return list(self.instants)
        pool = (
            self._with_archived(self.instants)
            if self._archived_enabled()
            else self.instants
        )
        cutoff = _ts_key(as_of_timestamp)
        return [i for i in pool if _ts_key(i.timestamp) <= cutoff]

    def instants_in_range(self, start: str | None, end: str | None) -> list[Instant]:
        """Half-open (start, end] window (selector.rs:322-345 binary search
        semantics); archived instants included behind the same double gate
        as instants_as_of."""
        has_filter = start is not None or end is not None
        pool = (
            self._with_archived(self.instants)
            if has_filter and self._archived_enabled()
            else self.instants
        )
        out = []
        for i in pool:
            k = _ts_key(i.timestamp)
            if start is not None and k <= _ts_key(start):
                continue
            if end is not None and k > _ts_key(end):
                continue
            out.append(i)
        return out

    # -- commit metadata ---------------------------------------------------
    def metadata_for(self, instant: Instant) -> CommitMetadata:
        key = instant.timestamp
        if key in self._archived_meta:  # layout-2 LSM history payload
            return self._archived_meta[key]
        if key not in self._metadata_cache:
            from hudi_rs_spark.fs.storage import storage_for

            st = storage_for(self.base_path)
            fname = _completed_file_name(instant)
            path = os.path.join(self.timeline_dir, fname)
            if not st.isfile(path) and self._archived_dir_used:
                # layout-1 archived instants are full commit files parked
                # in the archive folder
                alt = os.path.join(self._archived_dir_used, fname)
                if st.isfile(alt):
                    path = alt
            self._metadata_cache[key] = parse_commit_file(path)
        return self._metadata_cache[key]

    def replaced_file_group_ids_as_of(self, as_of_timestamp: str | None) -> set[str]:
        """File groups excluded by replacecommits <= as_of
        (timeline/mod.rs:302-320) — bare-id view for callers that only
        need membership."""
        return {fid for _p, fid in self.replaced_file_groups_as_of(as_of_timestamp)}

    def replaced_file_groups_as_of(
        self, as_of_timestamp: str | None
    ) -> dict[tuple[str, str], str]:
        """{(partition, file_id): latest replace instant} for groups a
        replacecommit <= as_of excluded. Partition-scoped (bucket-indexed
        tables reuse ONE file id across partitions — a drop of one
        partition must not hide siblings) and instant-scoped (a slice
        created AFTER the replace resurrects the group — the bucket
        merge service recreates a parent group under its deterministic
        id; the replacecommit excluded the files it SAW, never future
        ones). The reference never resurrects ids (fresh uuids), so its
        bare-id exclusion (timeline/mod.rs:302-320) is the degenerate
        case of this map."""
        out: dict[tuple[str, str], str] = {}
        for i in self.instants_as_of(as_of_timestamp):
            if i.is_replacecommit:
                meta = self.metadata_for(i)
                for part, ids in meta.replaced_file_ids.items():
                    for fid in ids:
                        key = (part or "", fid)
                        prev = out.get(key)
                        if prev is None or i.timestamp > prev:
                            out[key] = i.timestamp
        return out

    def latest_schema_json(self) -> str | None:
        """Schema resolution priority 1: latest commit metadata's embedded
        schema (schema/resolver.rs:41-47)."""
        for i in reversed(self.instants):
            meta = self.metadata_for(i)
            if meta.schema_json:
                return meta.schema_json
        return None


def _ts_key(ts: str) -> int:
    from hudi_rs_spark.timeline.instant import parse_hudi_timestamp_millis

    return parse_hudi_timestamp_millis(ts)


def _completed_file_name(instant: Instant) -> str:
    if instant.completion_timestamp:
        return f"{instant.timestamp}_{instant.completion_timestamp}.{instant.action.value}"
    return f"{instant.timestamp}.{instant.action.value}"
