"""The session cache: bounded LRU caches of persisted-DataFrame artifacts.

The operator modules keep per-session caches of expensive reusable
artifacts — shingle indexes, LSH-bucketed corpora, IVF/PQ indexes,
cluster label frames — and this module is the one place that knows the
idiom. ``BoundedFrameCache.memo(source_df, params, build)`` keys an entry
by ``(source_df.semanticHash(), *params)`` and, on a miss, stores what
``build()`` returns: the already-materialized (persisted or checkpointed)
frame or tuple of frames. Every cache registers itself weakly when
constructed, so ``xboard_spark.clear_index_caches()`` releases all of them
without a hand-kept list, and ``stats()`` reports each named cache's
counters.

Unbounded dicts would leak persisted DataFrames in a long-lived session
that moves across many corpora. ``BoundedFrameCache`` evicts the least
recently used entry and UNPERSISTS it. Eviction is safe by construction:
an evicted index is rebuilt from its source frame on the next request
(the cold-cache path), and results already derived from it just lose the
storage-level shortcut. The bound is per artifact TYPE, not global,
because entry sizes differ by orders of magnitude between cache types; 8
corpora per type is far beyond any real session's working set. At 100 TB
the analogue is a set of persisted index TABLES with pipeline-owned
retention.
"""

from __future__ import annotations

import time
import weakref
from collections import OrderedDict

DEFAULT_MAX_ENTRIES = 8

# id -> live cache; entries vanish when their cache is garbage-collected
_REGISTRY = weakref.WeakValueDictionary()


def registered() -> list[BoundedFrameCache]:
    """Every live cache, in construction order."""
    return list(_REGISTRY.values())


def stats() -> dict[str, dict[str, float]]:
    """``{name: {"hits", "misses", "build_s"}}`` for every named cache —
    the ``memo`` counters, cumulative over the process."""
    return {
        c.name: {"hits": c.hits, "misses": c.misses, "build_s": c.build_s}
        for c in registered()
        if c.name is not None
    }


class BoundedFrameCache(OrderedDict):
    """LRU-bounded dict of persisted DataFrames (or tuples of them).

    - ``cache[key]`` bumps recency; ``key in cache`` does not, so ``memo``
      (and the plain ``if k not in c: c[k] = build()`` + ``return c[k]``
      dict idiom) bumps exactly once per access.
    - inserting beyond ``max_entries`` evicts the least-recently-used
      entry and calls ``unpersist()`` on each DataFrame in it.
    - an entry tuple may carry ``int`` diagnostics next to its frames
      (the cluster caches' star-rounds count), which leave with them.
    - ``evictions`` counts evictions; ``hits``, ``misses`` and
      ``build_s`` count ``memo`` calls and the time spent in ``build``
      (including nested builds of other caches).
    """

    def __init__(
        self, name: str | None = None, max_entries: int = DEFAULT_MAX_ENTRIES
    ):
        super().__init__()
        self.name = name
        self.max_entries = max_entries
        self.evictions = 0
        self.hits = 0
        self.misses = 0
        self.build_s = 0.0
        _REGISTRY[id(self)] = self

    def memo(self, source_df, params: tuple, build):
        """The entry for ``(source_df.semanticHash(), *params)``, built by
        ``build()`` on a miss."""
        key = (source_df.semanticHash(), *params)
        if key in self:
            self.hits += 1
            return self[key]
        self.misses += 1
        t0 = time.perf_counter()
        entry = build()
        self.build_s += time.perf_counter() - t0
        self[key] = entry
        return entry

    @staticmethod
    def _release(entry) -> int:
        """Unpersist every frame in ``entry``; returns how many."""
        # int members are diagnostics riding along with their frames
        frames = [
            df
            for df in (entry if isinstance(entry, tuple) else (entry,))
            if not isinstance(df, int)
        ]
        for df in frames:
            unpersist = getattr(df, "unpersist", None)
            if unpersist is None:
                # a non-DataFrame in an entry is consumer misuse, not a
                # teardown condition — swallowing it would silently skip
                # the unpersist and reintroduce the storage leak this
                # class exists to fix
                raise TypeError(
                    "BoundedFrameCache entries must be DataFrames or "
                    f"tuples of them; got {type(df).__name__}"
                )
            try:
                unpersist()
            except Exception:
                # a dead SparkContext/Py4J bridge at interpreter teardown
                # must not mask eviction — the ONLY failure unpersist()
                # itself can raise comes through that bridge
                pass
        return len(frames)

    def __getitem__(self, key):
        value = super().__getitem__(key)
        self.move_to_end(key)
        return value

    def __setitem__(self, key, value) -> None:
        if key in self:
            old = super().__getitem__(key)
            if old is not value:
                self._release(old)
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > self.max_entries:
            oldest = next(iter(self))
            self._release(super().__getitem__(oldest))
            super().__delitem__(oldest)
            self.evictions += 1

    def release_all(self) -> int:
        """Unpersist every frame and clear. Returns the number of frames
        released. This is the ONE place release semantics live —
        ``xboard_spark.clear_index_caches`` calls it on every registered
        cache. (Doesn't count toward ``evictions``: that counter tracks
        LRU pressure.)

        Note: plain ``del``/``pop``/``clear`` bypass release on purpose
        — they are not part of the consumers' idiom (``memo`` +
        release_all); anything removing entries another way owns the
        unpersist itself."""
        n = sum(self._release(entry) for entry in self.values())
        self.clear()
        return n
