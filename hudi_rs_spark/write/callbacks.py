"""Write-commit callbacks — Hudi's HoodieWriteCommitCallback
(``hoodie.write.commit.callback.on``): after an instant publishes,
notify downstream systems so they can react to fresh data (trigger a
sync, kick a downstream job, emit a metric).

Two mechanisms, both fired from the single commit choke point
(write/writer.py::commit_instant):

- **File sink** (the analog of the HTTP/Kafka callbacks, without a
  network dependency): the table property / write option
  ``hoodie.write.commit.callback.file=<path>`` appends one JSON line
  per commit — a durable, tail-able notification log. Fires for EVERY
  commit path: ``df.write`` / upsert (whose publish runs in the Python
  DataSource worker process) and driver-side services alike.
- **Registered Python callables** (the analog of Hudi's pluggable
  callback classes): ``register_commit_callback(fn)`` — ``fn(event)``
  is invoked after every publish that runs IN THIS PROCESS: the
  service/DML/maintenance APIs (compact, cluster, clean, dml,
  merge_into, bootstrap, ...). The ``df.write`` batch path publishes
  inside Spark's DataSource worker, where this process's registry is
  not visible — use the file sink to observe those.

The event dict: ``{"table": basePath, "instant": ts, "action": action,
"operation": op, "rows": totalWrites, "partitions": [..]}`` — the same
essentials Hudi's HoodieWriteCommitCallbackMessage carries.

Callback failures NEVER fail the commit (the data is already durable;
Hudi's callbacks are at-most-once too) — they are recorded and
re-raised only through ``last_callback_errors()`` for tests/operators
that want to assert delivery.

Scale: one driver-side append/call per COMMIT (not per row/file) —
O(commits), nothing at data scale.
"""

from __future__ import annotations

import json
from typing import Callable

_CALLBACKS: list[Callable[[dict], None]] = []
_ERRORS: list[str] = []


def register_commit_callback(fn: Callable[[dict], None]) -> None:
    """Register a driver-side callable invoked after every commit
    publish in this process."""
    _CALLBACKS.append(fn)


def unregister_commit_callback(fn: Callable[[dict], None]) -> bool:
    try:
        _CALLBACKS.remove(fn)
        return True
    except ValueError:
        return False


def last_callback_errors() -> list[str]:
    """Errors swallowed by fire() since the last call (drained)."""
    out = list(_ERRORS)
    _ERRORS.clear()
    return out


def fire(
    cfg, instant: str, action: str, stats: list[dict], table_config=None
) -> None:
    """Invoked by commit_instant after the publish; never raises.
    ``table_config``: the table's config as the committer loaded it
    (read from storage when not given)."""
    callback_file = None
    try:
        # write option first, then the persisted table property
        for src in (getattr(cfg, "callback_file", None),):
            if src:
                callback_file = src
        if callback_file is None:
            from hudi_rs_spark.config.table_config import HudiTableConfig

            try:
                tc = table_config or HudiTableConfig.from_base_path(cfg.path)
                callback_file = tc.props.get(
                    "hoodie.write.commit.callback.file"
                ) or None
            except Exception:
                callback_file = None
        if not _CALLBACKS and not callback_file:
            return
        event = {
            "table": cfg.path,
            "instant": instant,
            "action": action,
            "operation": cfg.operation,
            "rows": sum(int(s.get("numWrites") or 0) for s in stats),
            "partitions": sorted(
                {s.get("partitionPath", "") or "" for s in stats}
            ),
        }
        if callback_file:
            try:
                with open(callback_file, "a", encoding="utf-8") as f:
                    f.write(json.dumps(event) + "\n")
            except OSError as e:
                _ERRORS.append(f"file callback: {e}")
        for fn in list(_CALLBACKS):
            try:
                fn(event)
            except Exception as e:  # noqa: BLE001 — never fail the commit
                _ERRORS.append(f"{getattr(fn, '__name__', fn)}: {e}")
    except Exception as e:  # noqa: BLE001
        _ERRORS.append(f"callback dispatch: {e}")
