"""Bounded per-process memo shared by the kernel's pure-function caches.

Python workers are reused across tasks and jobs, so a module- or
instance-level memo persists per worker process. ``FifoMemo`` caps it at
``maxsize`` entries, evicting the oldest insert first, and counts hits and
misses like ``functools.lru_cache``'s ``cache_info()``. Stored values are
never None: ``get`` returns None for a miss.
"""

from __future__ import annotations

from collections import OrderedDict, namedtuple

MemoInfo = namedtuple("MemoInfo", "hits misses maxsize currsize")


class FifoMemo:
    __slots__ = ("maxsize", "hits", "misses", "_d")

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self.hits = self.misses = 0
        self._d = OrderedDict()

    def get(self, key):
        """The stored value, or None on a miss; counts the lookup."""
        value = self._d.get(key)
        if value is None:
            self.misses += 1
        else:
            self.hits += 1
        return value

    def put(self, key, value) -> None:
        d = self._d
        if key not in d and len(d) >= self.maxsize:
            d.popitem(last=False)
        d[key] = value

    def __contains__(self, key) -> bool:  # uncounted
        return key in self._d

    def __len__(self) -> int:
        return len(self._d)

    def info(self) -> MemoInfo:
        return MemoInfo(self.hits, self.misses, self.maxsize, len(self._d))

    def clear(self) -> None:
        self._d.clear()
        self.hits = self.misses = 0
