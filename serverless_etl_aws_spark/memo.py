"""Session memo: the one place the engine keeps derived artifacts between
calls, and the one rule for when two inputs are the same.

An input is identified by its content fingerprint, the ``(path,
mtime_ns, size)`` of every data file under a local path. Rewriting a
file in place moves the fingerprint, so the next call rebuilds instead
of serving a stale entry. A path this process cannot stat (object
stores, URIs, missing files) has no fingerprint; a key holding ``None``
bypasses the store and the value is rebuilt on every call.

What is stored is derived work, never a result a caller reads rows
from: lazy scan plans, checkpointed edge relations, trained centroids
and codebooks, small ints. Entries that hold JVM-backed DataFrames put
the session's ``applicationId`` in their key, so a restarted session
never sees another JVM's plans or checkpointed blocks.

Two threads that miss on the same key both build it; the later store
wins and both values are equivalent, so no lock is taken.
"""

from __future__ import annotations

import os
import urllib.parse
from typing import Callable, TypeVar

from pyspark.sql import DataFrame

V = TypeVar("V")

_STORE: dict[tuple, object] = {}


def _stats(files: list[str]) -> tuple | None:
    out = []
    for f in files:
        try:
            st = os.stat(f)
        except OSError:
            return None
        out.append((f, st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def fingerprint(path: str) -> tuple | None:
    """``(root, ((file, mtime_ns, size), ...))`` for a local file or
    directory tree (Spark's hidden ``.``/``_`` entries skipped, as its
    readers skip them), or ``None`` when ``path`` cannot be stat'ed."""
    root = os.path.abspath(path)
    if not os.path.isdir(root):
        files = [root]
    else:
        files = []
        for d, dirs, names in os.walk(root):
            dirs[:] = [n for n in dirs if not n.startswith((".", "_"))]
            files += [
                os.path.join(d, n) for n in names
                if not n.startswith((".", "_"))
            ]
    stats = _stats(files)
    return None if stats is None else (root, stats)


def frame_fingerprint(df: DataFrame) -> tuple | None:
    """The analyzed plan's ``semanticHash`` plus the stats of every file
    the plan reads, or ``None`` when the plan reads no local files
    (in-memory frames, object-store URIs). The plan hash keeps two
    relations over the same files apart, so a filtered subset and the
    raw table never share an entry."""
    try:
        uris = df.inputFiles()
        plan = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # pragma: no cover: plans without a file source
        return None
    files = []
    for uri in uris:
        # file://HOST/path names another machine's disk, not a path
        # this process can stat.
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme != "file" or parsed.netloc not in ("", "localhost"):
            return None
        files.append(urllib.parse.unquote(parsed.path))
    stats = _stats(files) if files else None
    return None if stats is None else (plan, stats)


def cached(key: tuple, build: Callable[[], V]) -> V:
    """The stored value for ``key``, built by ``build()`` and stored on a
    miss. A key with a ``None`` part bypasses the store."""
    if None in key:
        return build()
    try:
        return _STORE[key]
    except KeyError:
        value = _STORE[key] = build()
        return value


def clear() -> None:
    """Drop every entry."""
    _STORE.clear()
