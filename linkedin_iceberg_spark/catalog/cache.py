"""The one bounded cache behind every planning and relation memo.

ref: core/.../CachingCatalog.java, core/.../ManifestFiles.java CONTENT_CACHES.

Policy (the only eviction policy in the package):
  - LRU: ``get`` refreshes an entry's recency; ``key in cache`` does not
    (it is a side-effect-free probe).
  - Caps: at most ``max_entries`` entries and, when the cache has a
    ``size`` function, at most ``max_bytes`` summed size.  Inserting evicts
    least-recently-used entries one at a time until both caps hold (an
    entry larger than the byte cap is therefore not kept).  Nothing ever
    clears the whole cache on a full insert.
  - Session sweep: an entry may be tagged with a Spark ``applicationId``.
    Inserting under a new id drops every entry tagged with another id: only
    one SparkContext is live per process, so those entries belong to a
    stopped context and their plan handles can never execute again.

Only IMMUTABLE metadata (parsed version files, decoded manifests) or
UNEXECUTED plan handles (a DataFrame re-reads its files on every execution)
may be cached, and keys must pin the exact file versions they were built
from (``file_signature``): a cached value is then never stale, and
eviction only costs a rebuild.  Never cache rows or results.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict


def _stat_files(path: str) -> list:
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return [(path, st.st_mtime_ns, st.st_size)]
    return [sig for n in sorted(os.listdir(path)) if n[0] not in "_."
            for sig in _stat_files(os.path.join(path, n))]


def file_signature(paths) -> "tuple | None":
    """``(path, mtime_ns, size)`` per file, a directory standing for the
    data files under it (names starting with ``_`` or ``.`` are skipped, as
    Spark's file index skips them); None when any stat fails."""
    try:
        return tuple(sig for p in paths for sig in _stat_files(p))
    except OSError:
        return None


class BoundedCache:
    """Thread-safe LRU with entry and byte caps and an app-id sweep (see
    the module docstring for the policy)."""

    def __init__(self, max_entries, max_bytes=float("inf"), size=lambda v: 0):
        self.max_entries, self.max_bytes, self._size = max_entries, max_bytes, size
        self._data = OrderedDict()  # key -> (value, nbytes, app_id)
        self._lock = threading.RLock()
        self._app_id, self.nbytes = None, 0

    def __len__(self) -> int:
        return len(self._data)

    def __contains__(self, key) -> bool:
        return key in self._data

    def get(self, key, build, app_id: str = None):
        """The value cached under ``key`` (refreshing its recency), else
        ``build()`` inserted under it and tagged ``app_id``; a None key (an
        unsignable input) builds without caching."""
        with self._lock:
            hit = self._data.get(key)
            if hit is not None:
                self._data.move_to_end(key)
                return hit[0]
        value = build()
        if key is None:
            return value
        n = self._size(value)
        with self._lock:
            if app_id is not None and app_id != self._app_id:
                self._app_id = app_id
                self.drop(lambda k: self._data[k][2] not in (None, app_id))
            self.nbytes += n - self._data.pop(key, (None, 0))[1]
            self._data[key] = (value, n, app_id)
            while len(self._data) > self.max_entries or self.nbytes > self.max_bytes:
                self.nbytes -= self._data.popitem(last=False)[1][1]
        return value

    def drop(self, pred) -> None:
        """Remove every entry whose key satisfies ``pred``."""
        with self._lock:
            for k in [k for k in self._data if pred(k)]:
                self.nbytes -= self._data.pop(k)[1]

    def clear(self) -> None:
        self.drop(lambda k: True)
