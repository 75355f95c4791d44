"""Index state and artifacts: one keyed, single-flight memo plus one
temp root.

Every driver-side memo of the engine (inferred schemas, footer row
counts and dims, query vectors, grid bounds, data fingerprints, quantizer
centers, the shared CDC tree, dedup labelings, bucketed tables, the
resident search copies) is an entry here, keyed by `(namespace, source
realpaths, params)`. Each entry stores the sources'
`tables.path_signature` next to its value, and that is the one
freshness rule: a lookup whose signature differs is a miss, and the
rebuild replaces the entry in place. A source that is missing
is built for the caller and never memoized.

Concurrent misses on one key run its build once (a per-key lock); builds
of different keys run in parallel, and the dict-level lock is held only
around reads and writes, never during a build.

Artifacts that write files build into `<root>/<namespace>/<hash>`, the
hash taken over the key and the signature, so a rebuild of the same key
on the same data reuses its directory, and a superseded entry's
directory is removed. The per-call private directories of the store
lifecycle come from `scratch_dir` under the same root. The root is one
`mkdtemp`, removed at exit.

Entries whose value holds resources outside the dict (the resident
search copies of operators/knn.py, frames cached in Spark's block
manager) pass `release`: when a changed signature supersedes such an
entry, its value is released BEFORE the rebuild runs, so the old copy is
gone before the new one is cached.

`snapshot()` / `restore(snap)` let a harness replay a query under the
cache conditions of its first run. `restore` releases every entry it
drops that `snap` does not hold, so a replay rebuilds a resident copy
cold; it never deletes directories.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
from typing import Any, Callable, Iterable

from .sources import tables

_lock = threading.Lock()
# key -> (signatures, value, owned artifact dir or None, release or None)
_entries: dict[tuple, tuple[tuple, Any, str | None, Callable | None]] = {}
_key_locks: dict[tuple, threading.Lock] = {}
_root: list[str] = []


def memo(
    namespace: str,
    sources: str | Iterable[str],
    params: tuple,
    build: Callable[..., Any],
    *,
    artifact: bool = False,
    refresh: bool = False,
    release: Callable[[Any], Any] | None = None,
) -> Any:
    """The value memoized for (namespace, sources, params), built on a
    miss. `build()` takes no argument, or, with `artifact=True`, the
    directory it must write its files into. `refresh=True` forces a
    rebuild: callers pass it when a check on external state (a deleted
    index directory, a dropped catalog table) says the entry is gone.
    `release(value)` is called on the entry a rebuild supersedes, before
    the rebuild."""
    sigs = tuple(tables.path_signature(p) for p in _paths(sources))
    key = (namespace, tuple(s[0] for s in sigs), params)
    out_dir = _artifact_dir(namespace, key, sigs) if artifact else None
    if any(s[1] is None for s in sigs):
        return _build(build, out_dir)
    if not refresh:
        hit = _lookup(key, sigs)
        if hit is not _MISS:
            return hit
    with key_lock(key):
        if not refresh:
            hit = _lookup(key, sigs)
            if hit is not _MISS:
                return hit
        if release is not None:
            with _lock:
                stale = _entries.pop(key, None)
            if stale is not None:
                release(stale[1])
        value = _build(build, out_dir)
        with _lock:
            old = _entries.get(key)
            _entries[key] = (sigs, value, out_dir, release)
    if old is not None and old[2] is not None and old[2] != out_dir:
        shutil.rmtree(old[2], ignore_errors=True)
    return value


def scratch_dir(prefix: str) -> str:
    """A fresh private directory under the temp root, removed at exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=root())


def root() -> str:
    """The one temp root, created on first use and removed at exit."""
    with _lock:
        if not _root:
            _root.append(tempfile.mkdtemp(prefix="vdbs_cache_"))
            atexit.register(shutil.rmtree, _root[0], ignore_errors=True)
        return _root[0]


def snapshot() -> dict:
    """A copy of every entry, for `restore`."""
    with _lock:
        return dict(_entries)


def restore(snap: dict) -> None:
    """Replace every entry with those of `snap`, releasing each dropped
    entry that has a `release` and is not in `snap`. Directories are left
    as they are: an entry dropped here and rebuilt later writes to the
    same path."""
    with _lock:
        dropped = [e for k, e in _entries.items() if snap.get(k) is not e]
        _entries.clear()
        _entries.update(snap)
    for entry in dropped:
        if entry[3] is not None:
            entry[3](entry[1])


_MISS = object()


def _paths(sources: str | Iterable[str]) -> tuple[str, ...]:
    return (sources,) if isinstance(sources, str) else tuple(sources)


def _lookup(key: tuple, sigs: tuple) -> Any:
    with _lock:
        entry = _entries.get(key)
    if entry is None or entry[0] != sigs:
        return _MISS
    return entry[1]


def key_lock(key: tuple) -> threading.Lock:
    """The process-wide lock of `key`: memo builds of one key, and any
    other check-then-build a caller keys on a tuple, run one at a time."""
    with _lock:
        return _key_locks.setdefault(key, threading.Lock())


def _artifact_dir(namespace: str, key: tuple, sigs: tuple) -> str:
    digest = hashlib.sha1(repr((key, sigs)).encode()).hexdigest()[:16]
    return os.path.join(root(), namespace, digest)


def _build(build: Callable[..., Any], out_dir: str | None) -> Any:
    if out_dir is None:
        return build()
    os.makedirs(out_dir, exist_ok=True)
    return build(out_dir)
