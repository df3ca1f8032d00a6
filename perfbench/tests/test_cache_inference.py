"""Cache hits, misses and evictions are inferred from len() and evictions."""

from xboard_spark.cache import BoundedFrameCache

from perfbench.tracing import cache_events, cache_snapshot


class Frame:
    def unpersist(self):
        pass


def _get(cache, key):
    """The consumers' idiom: build on miss, then read."""
    if key not in cache:
        cache[key] = Frame()
    return cache[key]


def test_inference_on_a_real_bounded_cache():
    """Inferred events agree with a reference LRU of the same bound."""
    caches = {"a": BoundedFrameCache(max_entries=2), "b": BoundedFrameCache(max_entries=2)}
    lru: list[str] = []
    evictions = 0
    for key in ["x", "y", "x", "z", "y", "y", "x", "w"]:
        before = cache_snapshot(caches)
        _get(caches["a"], key)
        ev = cache_events(before, cache_snapshot(caches), ["a"])
        hit = key in lru
        lru = [k for k in lru if k != key] + [key]
        evicted = len(lru) > 2
        lru = lru[-2:]
        evictions += evicted
        assert ev == {"inserts": 0 if hit else 1, "evictions": int(evicted),
                      "hits" if hit else "misses": 1}, (key, ev)
    assert caches["a"].evictions == evictions == 4


def test_unconsulted_cache_counts_no_hit():
    caches = {"a": BoundedFrameCache(), "b": BoundedFrameCache()}
    before = cache_snapshot(caches)
    _get(caches["a"], 1)
    ev = cache_events(before, cache_snapshot(caches), ["a", "b"])
    assert ev == {"inserts": 1, "evictions": 0, "misses": 1, "hits": 1}
    ev = cache_events(before, cache_snapshot(caches), ["a"])
    assert ev["misses"] == 1 and "hits" not in ev


def test_insert_into_full_cache_is_a_miss_with_an_eviction():
    caches = {"a": BoundedFrameCache(max_entries=1)}
    _get(caches["a"], 1)
    before = cache_snapshot(caches)
    _get(caches["a"], 2)
    ev = cache_events(before, cache_snapshot(caches), ["a"])
    assert ev == {"inserts": 1, "evictions": 1, "misses": 1}
