"""Storage abstraction for ALL planner-side I/O (timeline, listing,
commit metadata, HFile/log reads, parquet footers).

The reference routes every byte through its ``object_store`` layer with
s3/gcs/azure backends selected by URL scheme and per-table storage
options (crates/core/src/storage/mod.rs:26-28 ``parse_url_opts``; options
plumbed from table construction). This module is the Spark-side
equivalent:

- ``LocalStorage`` — plain paths and ``file://`` URIs (os module).
- ``ArrowFSStorage`` — any scheme ``pyarrow.fs.FileSystem.from_uri``
  resolves (s3://, s3a:// normalized to s3://, gs://, hdfs://, ...);
  per-table ``storage_options`` are forwarded to the filesystem
  constructor (endpoint/credentials overrides), else pyarrow's standard
  env/instance-profile resolution applies.
- ``MemoryStorage`` — in-process dict-backed ``memory://`` scheme used
  by tests to prove no planner module touches ``os``/``open`` directly.

``storage_for(path, options)`` dispatches on scheme and caches one
backend per (scheme, authority), so call sites resolve per path with no
threading of a storage object through every signature — which also makes
executor-side helpers (log decode in Python workers) scheme-transparent.

Scale note: planner cost on object stores is dominated by LIST and GET
round-trips; every method here is one storage round-trip at most (the
recursive walk is a single paginated LIST on object stores, not the
O(depth) sequential walk a naive port of os.walk would issue).
"""

from __future__ import annotations

import io
import os
import threading
from dataclasses import dataclass
from typing import BinaryIO, Iterator
from urllib.parse import urlsplit


@dataclass(frozen=True)
class FileEntry:
    name: str  # base name, no directory component
    is_dir: bool
    size: int  # 0 for directories


class Storage:
    """Minimal read-side contract every backend implements. All paths
    are FULL paths in the caller's notation (scheme-qualified for
    non-local backends); joining stays the caller's job via
    posix-style '/' (os.path.join on POSIX is compatible)."""

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def read_text(self, path: str, encoding: str = "utf-8") -> str:
        return self.read_bytes(path).decode(encoding)

    def open_seekable(self, path: str) -> BinaryIO:
        """Seekable binary reader (context manager). Header-only scans
        (log block framing) use this to avoid full-object GETs."""
        raise NotImplementedError

    def list_dir(self, path: str) -> list[FileEntry]:
        """Immediate children; [] for a missing directory (planner code
        treats absent metadata dirs as empty, never as errors)."""
        raise NotImplementedError

    def walk_files(
        self, path: str, skip_dirs: frozenset[str] = frozenset()
    ) -> Iterator[tuple[str, str, int]]:
        """Yield (relative_dir ('' = root, '/'-separated), name, size)
        for every file under ``path``, pruning any directory whose NAME
        is in ``skip_dirs`` at any depth."""
        raise NotImplementedError

    def isfile(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    # -- write-side contract (the writer routes EVERY byte through these;
    # parent "directories" are implicit — object stores have none, and
    # the local backend creates them on demand) ---------------------------
    def write_bytes(self, path: str, data: bytes) -> None:
        """Create/overwrite ``path`` with ``data``."""
        raise NotImplementedError

    def publish_bytes(self, path: str, data: bytes) -> None:
        """Atomic-VISIBILITY write: a reader either sees the complete
        content or no file at all (timeline instants depend on this —
        Hudi's own commit-file guarantee). Local: write-temp + rename;
        object stores: a single PUT is already all-or-nothing."""
        self.write_bytes(path, data)

    def append_bytes(self, path: str, data: bytes) -> None:
        """Append to ``path``, creating it when absent. Object stores
        cannot append, so the fallback is read+concat+PUT — O(existing
        file); callers keep appended files small (MDT log files are
        bounded by MDT compaction, data log files roll per write)."""
        try:
            existing = self.read_bytes(path)
        except (FileNotFoundError, OSError):
            existing = b""
        self.write_bytes(path, existing + data)

    def create_new(self, path: str, data: bytes) -> bool:
        """Create ``path`` only if absent; False when it already exists.
        Atomic on local (O_EXCL) and memory (dict lock) backends — the
        primitive the filesystem lock provider builds on. Object-store
        backends default to check-then-put (pyarrow exposes no
        conditional PUT): best-effort only — EITHER inject a native
        conditional create (``ArrowFSStorage(conditional_put=...)`` +
        ``register_storage``, e.g. S3 If-None-Match) OR use a real lock
        provider there."""
        if self.isfile(path):
            return False
        self.write_bytes(path, data)
        return True

    def remove(self, path: str) -> None:
        """Delete a file; missing files are a no-op (idempotent cleanup)."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        """Ensure a directory exists (no-op on pure object stores)."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move a file. Atomic on local/HDFS; copy+delete on buckets."""
        raise NotImplementedError

    def open_output(self, path: str):
        """Writable binary stream (context manager) — the parquet/HFile
        encoder sink for non-local backends."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        return self.isfile(path) or self.isdir(path)


# ---------------------------------------------------------------------------
class LocalStorage(Storage):
    """os-backed storage; accepts plain paths and file:// URIs."""

    @staticmethod
    def _p(path: str) -> str:
        if path.startswith("file://"):
            return path[len("file://") :] or "/"
        return path

    def read_bytes(self, path: str) -> bytes:
        with open(self._p(path), "rb") as f:
            return f.read()

    def open_seekable(self, path: str) -> BinaryIO:
        return open(self._p(path), "rb")

    def list_dir(self, path: str) -> list[FileEntry]:
        p = self._p(path)
        if not os.path.isdir(p):
            return []
        out = []
        with os.scandir(p) as it:
            for e in it:
                try:
                    is_dir = e.is_dir()
                    size = 0 if is_dir else e.stat().st_size
                except FileNotFoundError:
                    continue  # deleted between scandir and stat (archiver/
                    # cleaner race) or dangling symlink: skip, don't fail
                out.append(FileEntry(e.name, is_dir, size))
        return out

    def walk_files(self, path, skip_dirs=frozenset()):
        base = self._p(path)
        for root, dirs, files in os.walk(base):
            dirs[:] = [d for d in dirs if d not in skip_dirs]
            rel = os.path.relpath(root, base)
            rel_dir = "" if rel == "." else rel.replace(os.sep, "/")
            for name in files:
                yield rel_dir, name, os.path.getsize(os.path.join(root, name))

    def isfile(self, path: str) -> bool:
        return os.path.isfile(self._p(path))

    def isdir(self, path: str) -> bool:
        return os.path.isdir(self._p(path))

    def size(self, path: str) -> int:
        return os.path.getsize(self._p(path))

    # -- write side --------------------------------------------------------
    def _parent(self, path: str) -> None:
        d = os.path.dirname(self._p(path))
        if d:
            os.makedirs(d, exist_ok=True)

    def write_bytes(self, path: str, data: bytes) -> None:
        self._parent(path)
        with open(self._p(path), "wb") as f:
            f.write(data)

    def publish_bytes(self, path: str, data: bytes) -> None:
        import uuid

        p = self._p(path)
        self._parent(path)
        tmp = f"{p}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, p)  # atomic publish

    def append_bytes(self, path: str, data: bytes) -> None:
        self._parent(path)
        with open(self._p(path), "ab") as f:
            f.write(data)

    def create_new(self, path: str, data: bytes) -> bool:
        self._parent(path)
        try:
            with open(self._p(path), "xb") as f:  # O_EXCL: atomic claim
                f.write(data)
            return True
        except FileExistsError:
            return False

    def remove(self, path: str) -> None:
        try:
            os.remove(self._p(path))
        except FileNotFoundError:
            pass

    def makedirs(self, path: str) -> None:
        os.makedirs(self._p(path), exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        self._parent(dst)
        os.replace(self._p(src), self._p(dst))

    def open_output(self, path: str):
        self._parent(path)
        return open(self._p(path), "wb")


# ---------------------------------------------------------------------------
class ArrowFSStorage(Storage):
    """pyarrow.fs-backed storage for object stores. One instance per
    (scheme, authority); inner paths derived by prefix substitution so a
    single FileSystem handle (connection pool, credentials) serves every
    call for that bucket/namenode."""

    def __init__(
        self,
        scheme: str,
        authority: str,
        options: dict | None = None,
        filesystem=None,
        inner_prefix: str | None = None,
        conditional_put=None,
    ):
        from pyarrow import fs as pafs

        self._scheme = scheme
        self._uri_prefix = f"{scheme}://{authority}"
        # conditional_put(inner_path, data) -> bool: a native
        # create-if-absent (S3 If-None-Match:* / GCS
        # x-goog-if-generation-match:0). pyarrow exposes no conditional
        # PUT, so callers with an SDK handle inject one (usually via
        # register_storage); with it, instant claims/locks are ATOMIC on
        # buckets with no external lock service.
        self._conditional_put = conditional_put
        if filesystem is not None:
            # caller-supplied pyarrow FileSystem (SubTreeFileSystem,
            # PyFileSystem(FSSpecHandler(...)), ...) — register with
            # ``register_storage`` so storage_for() resolves it
            self.fs = filesystem
            self._inner_prefix = inner_prefix or ""
        elif options:
            cls = {
                "s3": pafs.S3FileSystem,
                "s3a": pafs.S3FileSystem,
                "gs": pafs.GcsFileSystem,
                "gcs": pafs.GcsFileSystem,
                "hdfs": pafs.HadoopFileSystem,
            }.get(scheme)
            if cls is None:
                raise ValueError(
                    f"storage options unsupported for scheme {scheme!r}"
                )
            self.fs = cls(**options)
            # bucket-style schemes address objects as "<bucket>/<key>"
            self._inner_prefix = authority if scheme != "hdfs" else ""
        else:
            norm = "s3" if scheme == "s3a" else scheme
            self.fs, self._inner_prefix = pafs.FileSystem.from_uri(
                f"{norm}://{authority}"
            )

    def _inner(self, path: str) -> str:
        if path == self._uri_prefix:
            return self._inner_prefix
        if path.startswith(self._uri_prefix + "/"):
            rest = path[len(self._uri_prefix) :]
            if self._inner_prefix:
                # bucket-style: "<bucket>/<key>" (no leading slash)
                return (self._inner_prefix + rest).lstrip("/")
            if self._scheme == "hdfs":
                # HDFS paths are ABSOLUTE: stripping the leading '/'
                # would make libhdfs resolve them against /user/<user>
                return rest
            return rest.lstrip("/")
        raise ValueError(f"path {path!r} not under {self._uri_prefix!r}")

    def read_bytes(self, path: str) -> bytes:
        with self.fs.open_input_stream(self._inner(path)) as f:
            return f.read()

    def open_seekable(self, path: str) -> BinaryIO:
        return self.fs.open_input_file(self._inner(path))

    def list_dir(self, path: str) -> list[FileEntry]:
        from pyarrow import fs as pafs

        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(self._inner(path), recursive=False)
            )
        except (FileNotFoundError, OSError):
            return []
        out = []
        for i in infos:
            is_dir = i.type == pafs.FileType.Directory
            out.append(FileEntry(i.base_name, is_dir, 0 if is_dir else (i.size or 0)))
        return out

    def walk_files(self, path, skip_dirs=frozenset()):
        from pyarrow import fs as pafs

        inner = self._inner(path)
        try:
            infos = self.fs.get_file_info(pafs.FileSelector(inner, recursive=True))
        except (FileNotFoundError, OSError):
            return
        prefix = inner.rstrip("/") + "/"
        for i in infos:
            if i.type != pafs.FileType.File:
                continue
            rel = i.path[len(prefix) :] if i.path.startswith(prefix) else i.path
            rel_dir, _, name = rel.rpartition("/")
            if skip_dirs and any(seg in skip_dirs for seg in rel_dir.split("/")):
                continue
            yield rel_dir, name, i.size or 0

    def _info(self, path: str):
        return self.fs.get_file_info([self._inner(path)])[0]

    def isfile(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type == pafs.FileType.File

    def isdir(self, path: str) -> bool:
        from pyarrow import fs as pafs

        return self._info(path).type == pafs.FileType.Directory

    def size(self, path: str) -> int:
        return self._info(path).size or 0

    # -- write side --------------------------------------------------------
    def _ensure_parent(self, inner: str) -> None:
        # bucket stores ignore this (prefixes are implicit); real-FS
        # arrow backends (local/SubTree/HDFS) need the directory to exist
        d, _, _ = inner.rpartition("/")
        if d:
            try:
                self.fs.create_dir(d, recursive=True)
            except (FileNotFoundError, OSError):
                pass

    def write_bytes(self, path: str, data: bytes) -> None:
        inner = self._inner(path)
        self._ensure_parent(inner)
        with self.fs.open_output_stream(inner) as f:
            f.write(data)

    def publish_bytes(self, path: str, data: bytes) -> None:
        if self._scheme in ("hdfs",):
            # real filesystem: write-temp + atomic move (a PUT-style
            # single write is NOT atomic on HDFS — readers can observe
            # a partially flushed file)
            import uuid

            inner = self._inner(path)
            self._ensure_parent(inner)
            tmp = f"{inner}.{uuid.uuid4().hex}.tmp"
            with self.fs.open_output_stream(tmp) as f:
                f.write(data)
            self.fs.move(tmp, inner)
        else:
            # object stores: one PUT is all-or-nothing by contract
            self.write_bytes(path, data)

    def remove(self, path: str) -> None:
        try:
            self.fs.delete_file(self._inner(path))
        except (FileNotFoundError, OSError):
            pass

    def makedirs(self, path: str) -> None:
        try:
            self.fs.create_dir(self._inner(path), recursive=True)
        except (FileNotFoundError, OSError):
            pass  # bucket stores have no directories; prefixes are implicit

    def rename(self, src: str, dst: str) -> None:
        inner_dst = self._inner(dst)
        self._ensure_parent(inner_dst)
        self.fs.move(self._inner(src), inner_dst)

    def open_output(self, path: str):
        inner = self._inner(path)
        self._ensure_parent(inner)
        return self.fs.open_output_stream(inner)

    def create_new(self, path: str, data: bytes) -> bool:
        if self._conditional_put is not None:
            # native conditional create: atomic on the store itself
            return bool(self._conditional_put(self._inner(path), data))
        return super().create_new(path, data)


# ---------------------------------------------------------------------------
class MemoryStorage(Storage):
    """In-process memory:// backend (tests). One shared namespace per
    authority; driver-side only — Python workers are separate processes
    and cannot see it, which is fine for exercising PLANNER code paths."""

    _stores: dict[str, dict[str, bytes]] = {}
    _lock = threading.Lock()

    def __init__(self, authority: str):
        with MemoryStorage._lock:
            self._files = MemoryStorage._stores.setdefault(authority, {})
        self._prefix = f"memory://{authority}"

    def _key(self, path: str) -> str:
        if not path.startswith(self._prefix):
            raise ValueError(f"path {path!r} not under {self._prefix!r}")
        return path[len(self._prefix) :].strip("/")

    def write_bytes(self, path: str, data: bytes) -> None:
        self._files[self._key(path)] = bytes(data)

    def append_bytes(self, path: str, data: bytes) -> None:
        with MemoryStorage._lock:
            key = self._key(path)
            self._files[key] = self._files.get(key, b"") + bytes(data)

    def create_new(self, path: str, data: bytes) -> bool:
        with MemoryStorage._lock:  # atomic claim — lock-provider-grade
            key = self._key(path)
            if key in self._files:
                return False
            self._files[key] = bytes(data)
            return True

    def remove(self, path: str) -> None:
        self._files.pop(self._key(path), None)

    def makedirs(self, path: str) -> None:
        pass  # prefixes are implicit

    def rename(self, src: str, dst: str) -> None:
        with MemoryStorage._lock:
            self._files[self._key(dst)] = self._files.pop(self._key(src))

    def open_output(self, path: str):
        store, key = self._files, self._key(path)

        class _Sink(io.BytesIO):
            def close(inner) -> None:  # commit on close
                store[key] = inner.getvalue()
                io.BytesIO.close(inner)

        return _Sink()

    def read_bytes(self, path: str) -> bytes:
        key = self._key(path)
        if key not in self._files:
            raise FileNotFoundError(path)
        return self._files[key]

    def open_seekable(self, path: str) -> BinaryIO:
        return io.BytesIO(self.read_bytes(path))

    def list_dir(self, path: str) -> list[FileEntry]:
        prefix = self._key(path)
        prefix = prefix + "/" if prefix else ""
        names: dict[str, FileEntry] = {}
        for k, v in self._files.items():
            if not k.startswith(prefix):
                continue
            rest = k[len(prefix) :]
            head, sep, _ = rest.partition("/")
            if sep:
                names.setdefault(head, FileEntry(head, True, 0))
            else:
                names[head] = FileEntry(head, False, len(v))
        return list(names.values())

    def walk_files(self, path, skip_dirs=frozenset()):
        prefix = self._key(path)
        prefix = prefix + "/" if prefix else ""
        for k, v in sorted(self._files.items()):
            if not k.startswith(prefix):
                continue
            rel = k[len(prefix) :]
            rel_dir, _, name = rel.rpartition("/")
            if skip_dirs and any(seg in skip_dirs for seg in rel_dir.split("/")):
                continue
            yield rel_dir, name, len(v)

    def isfile(self, path: str) -> bool:
        return self._key(path) in self._files

    def isdir(self, path: str) -> bool:
        prefix = self._key(path) + "/"
        return any(k.startswith(prefix) for k in self._files)

    def size(self, path: str) -> int:
        return len(self.read_bytes(path))


# ---------------------------------------------------------------------------
# (scheme, authority, options-key) -> Storage; the default map remembers
# which full key an options-less lookup should resolve to (the most
# recently primed credential set for that bucket). At most
# _MAX_VARIANTS_PER_BASE option-variants are retained per (scheme,
# authority) — rotating credentials (STS session tokens in the options)
# would otherwise accumulate one filesystem handle per token forever;
# the oldest variant is evicted instead.
_MAX_VARIANTS_PER_BASE = 4
_cache: dict[tuple, Storage] = {}  # insertion-ordered (py3.7+ dict)
_default: dict[tuple[str, str], tuple] = {}
_cache_lock = threading.Lock()
# (scheme, authority) pairs bound by register_storage in this process
_registered: set[tuple[str, str]] = set()
_LOCAL = LocalStorage()


def _options_key(options: dict | None):
    if not options:
        return None
    return tuple(sorted((str(k), str(v)) for k, v in options.items()))


def storage_for(path: str, options: dict | None = None) -> Storage:
    """Backend for ``path``, selected by URL scheme (the reference's
    parse_url_opts). Plain paths and file:// -> local. Cached per
    (scheme, authority, options) so two tables on the same bucket with
    DIFFERENT credentials each keep their own filesystem handle —
    alternating priming calls reuse both instead of rebuilding
    (credential/TLS setup) every flip. An options-less lookup resolves
    to the most recently primed entry for that (scheme, authority)."""
    if "://" not in path:
        return _LOCAL
    parts = urlsplit(path)
    scheme = parts.scheme.lower()
    if scheme == "file":
        return _LOCAL
    base = (scheme, parts.netloc)
    okey = _options_key(options)
    with _cache_lock:
        full = _default.get(base, base + (None,)) if okey is None else base + (okey,)
        st = _cache.get(full)
        if st is None:
            if scheme == "memory":
                st = MemoryStorage(parts.netloc)
            else:
                st = ArrowFSStorage(scheme, parts.netloc, options)
            _cache[full] = st
            variants = [k for k in _cache if k[:2] == base]
            while len(variants) > _MAX_VARIANTS_PER_BASE:
                evicted = variants.pop(0)  # oldest-inserted variant
                if evicted == full:
                    continue  # never evict what we just built
                _cache.pop(evicted, None)
                if _default.get(base) == evicted:
                    # drop the stale alias too — an options-less lookup
                    # must not silently rebuild under the evicted
                    # credentials' key with no credentials at all
                    _default.pop(base, None)
        if okey is not None:
            _default[base] = full
        return st


def register_storage(
    scheme: str, authority: str, storage: Storage, options: dict | None = None
) -> None:
    """Bind a pre-built Storage (e.g. ``ArrowFSStorage`` wrapping a
    caller-constructed pyarrow FileSystem) to ``scheme://authority`` so
    subsequent ``storage_for`` lookups resolve to it — the injection
    point for filesystems ``FileSystem.from_uri`` can't build (custom
    fsspec handlers, SubTreeFileSystem test rigs). Driver-process scope
    only: executor workers resolve their own backends from shipped
    options, so a table on such a binding with no storage options can
    be planned but not read where decode runs in workers (log-bearing
    slices, ``read_changes``) — see ``worker_reachable``."""
    base = (scheme.lower(), authority)
    full = base + (_options_key(options),)
    with _cache_lock:
        _cache[full] = storage
        _default[base] = full
        _registered.add(base)


def worker_reachable(path: str, options: dict | None = None) -> bool:
    """Whether a Spark Python worker can open ``path`` on its own.
    memory:// lives in one process's heap, and a ``register_storage``
    binding sits in the driver's cache: a worker opening either gets an
    empty backend. A registered scheme is reachable only when the table
    ships ``options`` the worker can build its own backend from."""
    if "://" not in path:
        return True
    parts = urlsplit(path)
    scheme = parts.scheme.lower()
    if scheme == "memory":
        return False
    return bool(options) or (scheme, parts.netloc) not in _registered


def as_local_path(path: str) -> str | None:
    """Plain filesystem path when ``path`` is local (bare or file://),
    else None. Readers use this to keep pyarrow's mmap'd/multi-threaded
    plain-path parquet fast path for local files while routing
    object-store paths through the configured backend's file handle."""
    if "://" not in path:
        return path
    if path.startswith("file://"):
        return path[len("file://") :] or "/"
    return None


