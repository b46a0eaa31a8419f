"""Metadata-store seam for the lake commit protocol.

``laketable.py``'s OCC protocol touches the tiny JSON metadata files
under ``<root>/_manifests`` through exactly six primitives, the
``MetaStore`` interface:

- ``makedirs(d)`` — make the metadata directory (a no-op on stores
  without directories);
- ``get(path)`` — full contents, ``FileNotFoundError`` when absent;
- ``put_atomic(path, data)`` — overwrite; readers see the old or the
  new bytes, never a torn mix (HEAD, flag flips, tags, constraints);
- ``put_if_absent(path, data)`` — create the COMPLETE object or report
  that another writer won: the commit point (``putIfAbsent`` on the
  log, the Delta/Iceberg design);
- ``list_names(d)`` — names directly under a directory/prefix;
- ``remove(path)`` — delete, ``FileNotFoundError`` when absent.

Both stores give ``put_if_absent`` the same contract: a version
manifest appears whole or not at all, so a crashed writer leaves
nothing behind in the listing and the protocol has one commit path.

- :class:`PosixMetaStore` — local disk / NFS. The payload goes to a
  uniquely named temp file in the same directory, which is then
  ``link(2)``-ed to the target: the link is atomic and fails with
  ``EEXIST`` when the target exists.
- :class:`MemoryObjectMetaStore` — object-store SEMANTICS, in memory:
  S3/GCS conditional put (If-None-Match), atomic whole-object PUT, no
  rename. The protocol tests run on it to show the lake needs nothing
  an object store lacks.

Only the METADATA plane goes through this seam. Data files (parquet)
are written by Spark through whatever Hadoop FileSystem the path maps
to — that plane already speaks object stores in production Spark.

Reference parity note: the reference has no lake layer at all (its
durability is whole-directory backups, ``backup_manager.py``); this
file follows the public Delta/Iceberg commit-protocol designs.
"""

from __future__ import annotations

import contextlib
import os
import threading
import uuid


class PosixMetaStore:
    """The ``MetaStore`` primitives over a POSIX filesystem."""

    def makedirs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)

    def get(self, path: str) -> str:
        """Read full contents; raises FileNotFoundError when absent."""
        with open(path) as f:
            return f.read()

    def put_atomic(self, path: str, data: str) -> None:
        """Readers see the old or the new bytes, never a torn mix
        (write-temp + rename(2) — the torn-HEAD fix from the r8 OCC
        probe lives here now)."""
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def put_if_absent(self, path: str, data: str) -> bool:
        """Create ``path`` holding the whole of ``data``, or return
        False when it already exists. The payload is written to a temp
        file first and hard-linked into place, so the name never
        appears empty or partial; the temp name is always removed."""
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                f.write(data)
            try:
                os.link(tmp, path)
            except FileExistsError:
                return False
            return True
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)

    def list_names(self, d: str) -> list[str]:
        return os.listdir(d)

    def remove(self, path: str) -> None:
        os.remove(path)


class MemoryObjectMetaStore:
    """In-memory store with OBJECT-STORE semantics, for protocol tests.

    Models the commit-relevant behaviors of S3/GCS/ABFS: objects appear
    atomically and complete (``put_if_absent`` is the conditional put,
    If-None-Match), and a plain PUT (``put_atomic``) atomically
    replaces an object with no temp file. There is no rename.

    Thread-safe: one lock serializes mutations (an object store's
    per-key atomicity). Paths are plain strings — the store ignores
    directory structure except for prefix listing.
    """

    def __init__(self) -> None:
        self._objects: dict[str, str] = {}
        self._lock = threading.Lock()

    def makedirs(self, d: str) -> None:  # no directories on a store
        pass

    def get(self, path: str) -> str:
        with self._lock:
            try:
                return self._objects[path]
            except KeyError:
                raise FileNotFoundError(path) from None

    def put_atomic(self, path: str, data: str) -> None:
        with self._lock:
            self._objects[path] = data

    def put_if_absent(self, path: str, data: str) -> bool:
        """Conditional put (If-None-Match: *): atomically creates the
        COMPLETE object, or reports the loss. The commit point."""
        with self._lock:
            if path in self._objects:
                return False
            self._objects[path] = data
            return True

    def list_names(self, d: str) -> list[str]:
        prefix = d.rstrip("/") + "/"
        with self._lock:
            return sorted(
                p[len(prefix):]
                for p in self._objects
                if p.startswith(prefix) and "/" not in p[len(prefix):]
            )

    def remove(self, path: str) -> None:
        with self._lock:
            if path not in self._objects:
                raise FileNotFoundError(path)
            del self._objects[path]
