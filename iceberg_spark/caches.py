"""One bounded cache type for every engine memo. Iceberg metadata and
delete files are immutable once written (uuid names), so work derived
from them is memoized across plans, each memo in a `BoundedCache`.
`reset()` clears them all; `stats()` reports them by name."""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict

_INSTANCES: "weakref.WeakSet[BoundedCache]" = weakref.WeakSet()


class BoundedCache:
    """LRU under one lock (the planning pool fills the manifest caches
    from many threads) holding at most `cap` total `weight(value)`, 1 per
    entry by default; an entry heavier than `cap` is not stored.
    `on_evict(value)` runs, outside the lock, on each value dropped.
    `get` counts a hit or a miss and refreshes a hit; `in`, iteration,
    `keys`, `items` and `[]` only look. `None` is a value like any
    other: pass `get` a `default` to tell it from a miss."""

    def __init__(self, name: str, cap: int, weight=None, on_evict=None):
        self.name, self.cap = name, cap
        self._weight, self._on_evict = weight, on_evict
        self._data: OrderedDict = OrderedDict()  # key -> (value, weight)
        self.size = self.hits = self.misses = self.evictions = 0
        self._lock = threading.Lock()
        _INSTANCES.add(self)

    def get(self, key, default=None):
        with self._lock:
            item = self._data.get(key)
            if item is None:
                self.misses += 1
                return default
            self._data.move_to_end(key)
            self.hits += 1
            return item[0]

    def put(self, key, value):
        """Store `value` as the newest entry, evicting the oldest ones
        until it fits; returns `value`."""
        w = 1 if self._weight is None else self._weight(value)
        dropped = []
        with self._lock:
            self.size -= self._data.pop(key, (None, 0))[1]
            if w <= self.cap:
                while self._data and self.size + w > self.cap:
                    v, vw = self._data.popitem(last=False)[1]
                    self.size -= vw
                    self.evictions += 1
                    dropped.append(v)
                self._data[key] = (value, w)
                self.size += w
        self._drop(dropped)
        return value

    def clear(self):
        with self._lock:
            dropped = [v for v, _ in self._data.values()]
            self._data.clear()
            self.size = 0
        self._drop(dropped)

    def _drop(self, values):
        for v in values if self._on_evict is not None else ():
            self._on_evict(v)

    def __contains__(self, key) -> bool:
        return key in self._data

    def __getitem__(self, key):
        return self._data[key][0]

    def __len__(self) -> int:
        return len(self._data)

    def keys(self) -> list:
        with self._lock:
            return list(self._data)

    def __iter__(self):
        return iter(self.keys())

    def items(self) -> list:
        with self._lock:
            return [(k, v) for k, (v, _) in self._data.items()]


def unpersist(df):
    """`on_evict` for cached DataFrames (a stopped session's cannot)."""
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass


def reset():
    """Clear every cache and zero its counters."""
    for c in list(_INSTANCES):
        c.clear()
        c.hits = c.misses = c.evictions = 0


def stats() -> dict:
    """{name: {entries, size, cap, hits, misses, evictions}}."""
    return {c.name: dict(entries=len(c), size=c.size, cap=c.cap,
                         hits=c.hits, misses=c.misses, evictions=c.evictions)
            for c in list(_INSTANCES)}
