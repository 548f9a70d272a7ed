"""Read options — mirrors ReadOptions in the reference
(/root/reference/crates/core/src/config/read.rs:113-124 and
docs/reader-spec.md:47-84).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class HudiReadOptions:
    query_type: str = "snapshot"  # snapshot | incremental
    as_of_timestamp: str | None = None
    start_timestamp: str | None = None
    end_timestamp: str | None = None
    use_read_optimized_mode: bool = False
    # (field, op, value) string triples; ops: = != < <= > >= IN NOT IN
    filters: list[tuple[str, str, str]] = field(default_factory=list)
    projection: list[str] | None = None
    limit: int | None = None  # row-accurate fetch (op 21)
    # selects nothing: every log-bearing MOR slice decodes and merges in
    # the one per-slice executor kernel (sources/pyds.py::_read_slice).
    # Kept so callers that still pass it keep working.
    log_decode: str = "auto"
    input_partitions: int = 0  # 0 -> let Spark decide
    batch_size: int = 1024  # streaming read batch rows
    # per-read hoodie.read.* override bag (reader-spec §2: "hudi_options
    # is the single source of truth for per-read Hudi configs" — the
    # typed fields above are the convenience layer; resolve() overlays
    # recognized bag keys onto them)
    hudi_options: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        if self.query_type not in ("snapshot", "incremental"):
            raise ValueError(f"invalid query type: {self.query_type}")
        if self.query_type == "snapshot" and (self.start_timestamp or self.end_timestamp):
            # reference strips irrelevant timestamps (read_options.rs:247-262)
            pass

    # -- fluent builders (reference HudiReadOptions.with_*,
    # python/hudi/_internal.pyi:67-79) — each returns a COPY so a base
    # options object can be reused across queries
    def _with(self, **kw) -> "HudiReadOptions":
        from dataclasses import replace

        return replace(self, **kw)

    def with_query_type(self, query_type: str) -> "HudiReadOptions":
        return self._with(query_type=query_type)

    def with_as_of_timestamp(self, timestamp: str) -> "HudiReadOptions":
        return self._with(as_of_timestamp=timestamp)

    def with_start_timestamp(self, timestamp: str) -> "HudiReadOptions":
        return self._with(start_timestamp=timestamp)

    def with_end_timestamp(self, timestamp: str) -> "HudiReadOptions":
        return self._with(end_timestamp=timestamp)

    def with_batch_size(self, size: int) -> "HudiReadOptions":
        return self._with(batch_size=size)

    def with_filters(
        self, filters: list[tuple[str, str, str]]
    ) -> "HudiReadOptions":
        return self._with(filters=list(filters))

    def with_projection(self, columns: list[str]) -> "HudiReadOptions":
        return self._with(projection=list(columns))

    def with_limit(self, limit: int) -> "HudiReadOptions":
        return self._with(limit=limit)

    def with_hudi_option(self, key: str, value: str) -> "HudiReadOptions":
        return self.with_hudi_options({key: value})

    def with_hudi_options(self, opts: dict[str, str]) -> "HudiReadOptions":
        merged = dict(self.hudi_options)
        merged.update({str(k): str(v) for k, v in opts.items()})
        return self._with(hudi_options=merged)

    # key -> (typed field, parser); reference HudiReadConfig keys
    # (config/read.rs; reader-spec.md §2 builder table)
    _BAG_KEYS = {
        "hoodie.read.query.type": ("query_type", str),
        "hoodie.read.as.of.timestamp": ("as_of_timestamp", str),
        "hoodie.read.start.timestamp": ("start_timestamp", str),
        "hoodie.read.end.timestamp": ("end_timestamp", str),
        "hoodie.read.stream.batch_size": ("batch_size", int),
        "hoodie.read.use.read_optimized.mode": (
            "use_read_optimized_mode",
            lambda v: str(v).lower() == "true",
        ),
        "hoodie.read.input.partitions": ("input_partitions", int),
    }

    def resolve(self) -> "HudiReadOptions":
        """The reference's ``prepare_reader_options`` analog: overlay
        recognized ``hoodie.read.*`` bag entries onto the typed fields
        (the bag wins — it is the source of truth), then strip the
        timestamps irrelevant to the resolved query type (snapshot
        discards start/end; incremental discards as-of), so callers may
        set all three for convenience."""
        overlay = {}
        for key, val in self.hudi_options.items():
            spec = self._BAG_KEYS.get(key)
            if spec is None:
                continue  # unrecognized keys pass through untouched
            field_name, parse = spec
            overlay[field_name] = parse(val)
        out = self._with(**overlay) if overlay else self
        if out.query_type == "snapshot" and (
            out.start_timestamp or out.end_timestamp
        ):
            out = out._with(start_timestamp=None, end_timestamp=None)
        elif out.query_type == "incremental" and out.as_of_timestamp:
            out = out._with(as_of_timestamp=None)
        return out
