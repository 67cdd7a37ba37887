"""One byte-budgeted LRU per process for everything read from a split —
the storage-cache analog (quickwit-storage/src/cache, the hotcache /
``CachingDirectory`` layer in front of split reads).

Published split dirs are immutable (merge/demux create new split ids; GC
only deletes dirs that are never queried again), so a cache entry never
goes stale while its split lives.  The one exception is a delete-and-
rebuild at the same path, which reuses deterministic split ids: every key
therefore carries the split's epoch, ``(index_dir, split_id, epoch, kind,
...)``, and a rebuild changes the epoch (``split_io.split_epoch``).

Python workers are reused across Spark jobs, so worker entries persist
across queries; the driver keeps its own (page-fetch doc rows, term
Blooms, in-process leaves).  ``QW_CACHE_MB`` (default 1024, fractions
allowed, 0 disables) bounds the bytes one process holds.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict


def budget_bytes() -> int:
    return int(float(os.environ.get("QW_CACHE_MB", "1024")) * (1 << 20))


class SplitCache:
    """Locked LRU of ``key → value``, each entry charged ``nbytes``.  A hit
    moves the entry to the end; an insert evicts from the front until the
    charged total fits the budget and closes every evicted value that has
    a ``close()``.  A value that grows after insertion charges the growth
    through ``grow``, so the total never drifts from what is held."""

    def __init__(self, budget: int | None = None):
        self._budget = budget  # None: QW_CACHE_MB at each insert
        self._lock = threading.Lock()
        self._entries: OrderedDict = OrderedDict()  # key → (value, nbytes)
        self.total = 0

    def budget(self) -> int:
        return budget_bytes() if self._budget is None else self._budget

    def get(self, key, default=None):
        with self._lock:
            hit = self._entries.get(key)
            if hit is None:
                return default
            self._entries.move_to_end(key)
            return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        """Insert or replace; an entry larger than the whole budget is not
        kept (it would only evict everything else)."""
        budget = self.budget()
        with self._lock:
            old = self._entries.pop(key, None)
            if old is not None:
                self.total -= old[1]
            if nbytes <= budget:
                self._entries[key] = (value, nbytes)
                self.total += nbytes
            gone = self._evict(budget)
        _close(gone)

    def grow(self, key, value, nbytes: int) -> None:
        """Charge ``nbytes`` more to ``key`` if it still holds ``value``
        (a racing loader may have replaced it)."""
        budget = self.budget()
        with self._lock:
            hit = self._entries.get(key)
            if hit is None or hit[0] is not value:
                return
            self._entries[key] = (value, hit[1] + nbytes)
            self._entries.move_to_end(key)
            self.total += nbytes
            gone = self._evict(budget)
        _close(gone)

    def charged(self) -> dict:
        """key → charged bytes of every live entry (tests, debugging)."""
        with self._lock:
            return {k: nb for k, (_, nb) in self._entries.items()}

    def clear(self) -> None:
        with self._lock:
            gone = [v for v, _ in self._entries.values()]
            self._entries.clear()
            self.total = 0
        _close(gone)

    def _evict(self, budget: int) -> list:
        gone = []
        while self.total > budget:
            _, (value, nb) = self._entries.popitem(last=False)
            self.total -= nb
            gone.append(value)
        return gone


def _close(values) -> None:
    for v in values:
        close = getattr(v, "close", None)
        if close is not None:
            close()


# every split read of this process, epochs included
SPLIT_CACHE = SplitCache()
