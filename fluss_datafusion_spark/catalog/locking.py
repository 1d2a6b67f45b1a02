"""Put-if-absent locking primitives behind the commit protocol.

The optimistic-concurrency machinery in ``catalog.py`` (per-seq writer
reservations in ``<table>/_commits/`` and the marker locks of
``FlussCatalog._marker_lock``: maintenance, branch publish and spec
markers, crash-reaped by owner liveness or age) needs seven storage
operations, all of which exist on every real object store — this seam
is where a cloud backend slots in without touching the protocol:

===================  =======================  ==========================
operation            local fs (default)       object-store mapping
===================  =======================  ==========================
put_if_absent        ``os.open(O_CREAT |      S3: conditional PUT with
                     O_EXCL)``                ``If-None-Match: *``
                                              (strongly consistent since
                                              2024); GCS: ``
                                              x-goog-if-generation-match:
                                              0``; Azure:
                                              ``If-None-Match: *``;
                                              or a DynamoDB
                                              ``attribute_not_exists``
                                              conditional put (the
                                              pre-conditional-PUT S3
                                              commit service pattern,
                                              e.g. Delta's S3 LogStore)
delete               ``os.unlink``            DELETE object
read                 ``open().read()``        GET object
stat_mtime           ``os.stat().st_mtime``   HEAD → Last-Modified
list_names           ``os.listdir``           LIST with the dir prefix
touch                ``os.utime``             re-PUT the object (or a
                                              metadata-only
                                              copy-in-place)
owner_alive          ``os.kill(pid, 0)``      None (unknown)
===================  =======================  ==========================

Heartbeat contract: the holder of a marker calls ``touch`` on it every
``PUBLISH_HEARTBEAT_SECS`` for as long as it holds it, so the marker's
``stat_mtime`` never ages past ``MAINT_STALE_SECS`` while its owner
lives.  A marker (or reservation) is reaped only when it is older than
that window and ``owner_alive`` does not return True for the pid it
records.  The default check is same-host by nature; an object-store
backend returns None (unknown) from ``owner_alive``, and then mtime
staleness alone — which the heartbeat keeps young — decides.
"""

from __future__ import annotations

import os
from typing import List, Optional


class LocalFSLocking:
    """Default backend: POSIX atomic-create on a shared filesystem.

    O_CREAT|O_EXCL is atomic on local filesystems and NFSv3+ — the
    put-if-absent primitive the whole commit protocol reduces to.
    """

    def put_if_absent(self, path: str, data: bytes = b"") -> bool:
        """Atomically create ``path`` with ``data``; False if it already
        exists.  Other OSErrors (e.g. the parent directory vanishing
        mid-dir-swap) propagate — callers handle them as protocol
        events, not as contention."""
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            if data:
                os.write(fd, data)
        finally:
            os.close(fd)
        return True

    def delete(self, path: str) -> bool:
        """Remove ``path``; False if it was already gone."""
        try:
            os.unlink(path)
            return True
        except OSError:
            return False

    def read(self, path: str) -> Optional[bytes]:
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except OSError:
            return None

    def stat_mtime(self, path: str) -> Optional[float]:
        try:
            return os.stat(path).st_mtime
        except OSError:
            return None

    def list_names(self, directory: str) -> List[str]:
        try:
            return os.listdir(directory)
        except OSError:
            return []

    def touch(self, path: str) -> bool:
        """Heartbeat: refresh ``path``'s mtime to now without changing
        its payload — the owner of a long-held marker calls this
        periodically so mtime-staleness reaping never takes a LIVE
        marker.  Object-store mapping: re-PUT the object (or a
        metadata-only copy-in-place).  False if the marker vanished."""
        try:
            os.utime(path, None)
            return True
        except OSError:
            return False

    def owner_alive(self, pid: int) -> Optional[bool]:
        """True/False when liveness is decidable on this host; None
        means unknown (object-store backends return None and rely on
        heartbeat mtimes instead)."""
        try:
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True  # exists, owned by someone else
        except OSError:
            return None


class InMemoryLocking:
    """Non-posix backend test double: the commit protocol's lock
    namespace (markers + reservations created via ``put_if_absent``)
    lives in a shared in-memory store with object-store semantics —
    ``owner_alive`` is always unknown (None), so crash recovery falls
    back to pure mtime staleness exactly as an S3/GCS deployment's
    heartbeat scheme would.  Data-plane files (per-seq commit records,
    parquet) stay on the real filesystem; ``list_names``/``read``/
    ``stat_mtime``/``delete`` therefore serve the union of the memory
    namespace and the directory on disk, mirroring a deployment where
    the conditional-PUT service and the object listing are one store.

    Failure injection for protocol property tests:

    - ``fail_put(n)``: the next ``n`` put_if_absent calls LOSE the race
      (return False without creating anything) — the conditional-PUT
      412/contention path.
    - ``fail_op(op, n)``: the next ``n`` calls of ``op`` ("delete",
      "read", "stat_mtime", "list_names") behave as transient storage
      errors (False/None/[]), the way the LocalFS backend degrades on
      OSError.
    - ``backdate(path, seconds)``: age an entry's mtime — drives the
      staleness-reap paths without sleeping.

    Thread-safe: two catalogs over one warehouse share ONE instance the
    way two sessions share one object store."""

    def __init__(self):
        import threading

        self._entries = {}  # path -> (data: bytes, mtime: float)
        self._lock = threading.Lock()
        self._fail = {}  # op -> remaining failures

    # -- failure injection -------------------------------------------------
    def fail_put(self, n: int = 1) -> None:
        with self._lock:
            self._fail["put_if_absent"] = self._fail.get(
                "put_if_absent", 0
            ) + n

    def fail_op(self, op: str, n: int = 1) -> None:
        with self._lock:
            self._fail[op] = self._fail.get(op, 0) + n

    def backdate(self, path: str, seconds: float) -> None:
        with self._lock:
            if path in self._entries:
                data, mtime = self._entries[path]
                self._entries[path] = (data, mtime - seconds)

    def _take_failure(self, op: str) -> bool:
        # caller holds no lock; keep the decrement atomic
        with self._lock:
            left = self._fail.get(op, 0)
            if left > 0:
                self._fail[op] = left - 1
                return True
            return False

    # -- the seam -----------------------------------------------------------
    def put_if_absent(self, path: str, data: bytes = b"") -> bool:
        import time

        if self._take_failure("put_if_absent"):
            return False
        with self._lock:
            if path in self._entries:
                return False
            # an on-disk file of the same name also counts as taken
            # (mixed deployments migrate gradually)
            if os.path.exists(path):
                return False
            self._entries[path] = (data, time.time())
            return True

    def delete(self, path: str) -> bool:
        if self._take_failure("delete"):
            return False
        with self._lock:
            if self._entries.pop(path, None) is not None:
                return True
        try:
            os.unlink(path)
            return True
        except OSError:
            return False

    def read(self, path: str) -> Optional[bytes]:
        if self._take_failure("read"):
            return None
        with self._lock:
            entry = self._entries.get(path)
        if entry is not None:
            return entry[0]
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except OSError:
            return None

    def stat_mtime(self, path: str) -> Optional[float]:
        if self._take_failure("stat_mtime"):
            return None
        with self._lock:
            entry = self._entries.get(path)
        if entry is not None:
            return entry[1]
        try:
            return os.stat(path).st_mtime
        except OSError:
            return None

    def list_names(self, directory: str) -> List[str]:
        if self._take_failure("list_names"):
            return []
        directory = os.path.normpath(directory)
        with self._lock:
            mem = {
                os.path.basename(p)
                for p in self._entries
                if os.path.normpath(os.path.dirname(p)) == directory
            }
        try:
            disk = set(os.listdir(directory))
        except OSError:
            disk = set()
        return sorted(mem | disk)

    def touch(self, path: str) -> bool:
        import time

        if self._take_failure("touch"):
            return False
        with self._lock:
            entry = self._entries.get(path)
            if entry is not None:
                self._entries[path] = (entry[0], time.time())
                return True
        try:
            os.utime(path, None)
            return True
        except OSError:
            return False

    def owner_alive(self, pid: int) -> Optional[bool]:
        return None  # object-store semantics: heartbeat mtimes decide
