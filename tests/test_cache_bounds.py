"""Bounded index caches (VERDICT r8 #7): the per-type LRU must evict
least-recently-used entries, UNPERSIST what it evicts, and keep the
standard build-on-miss idiom correct — an evicted index is rebuilt and
its consumer's output is unchanged (coherence)."""

from __future__ import annotations

import gc

from xboard_spark import cache
from xboard_spark.cache import BoundedFrameCache

OPERATOR_CACHES = {
    "dedup.index",
    "dedup.pairs",
    "dedup.clusters",
    "graph.edges",
    "graph.raw_edges",
    "graph.oriented",
    "graph.keyword_graph",
    "linkage.fuzzy_pairs",
    "linkage.entity_clusters",
    "similarity.norm",
    "similarity.corpus",
    "similarity.ivf",
    "similarity.pq",
}


class _FakeFrame:
    def __init__(self) -> None:
        self.unpersisted = 0

    def unpersist(self):
        self.unpersisted += 1
        return self


class _Source:
    """Stands in for the source DataFrame ``memo`` keys by."""

    def __init__(self, h: int) -> None:
        self.h = h

    def semanticHash(self) -> int:
        return self.h


def test_lru_evicts_and_unpersists():
    c = BoundedFrameCache(max_entries=2)
    a, b, d = _FakeFrame(), _FakeFrame(), _FakeFrame()
    c["a"] = a
    c["b"] = b
    _ = c["a"]  # bump a -> b is now LRU
    c["d"] = d
    assert set(c) == {"a", "d"}
    assert b.unpersisted == 1 and a.unpersisted == 0 and d.unpersisted == 0
    assert c.evictions == 1


def test_tuple_entries_release_every_frame():
    c = BoundedFrameCache(max_entries=1)
    t1 = (_FakeFrame(), _FakeFrame(), _FakeFrame())
    c["x"] = t1
    c["y"] = _FakeFrame()
    assert all(f.unpersisted == 1 for f in t1)


def test_overwrite_releases_replaced_entry():
    c = BoundedFrameCache(max_entries=4)
    old, new = _FakeFrame(), _FakeFrame()
    c["k"] = old
    c["k"] = new
    assert old.unpersisted == 1 and new.unpersisted == 0
    assert c.evictions == 0  # replacement is not an eviction


def test_contains_does_not_bump_recency():
    c = BoundedFrameCache(max_entries=2)
    a, b = _FakeFrame(), _FakeFrame()
    c["a"] = a
    c["b"] = b
    assert "a" in c  # membership probe must NOT save "a" from eviction
    c["c"] = _FakeFrame()
    assert set(c) == {"b", "c"} and a.unpersisted == 1


def test_eviction_then_rebuild_is_coherent(spark):
    """End-to-end on a real cache: force _INDEX_CACHE evictions by
    building indexes for more corpora than the bound, then re-run the
    FIRST corpus's consumer — output must be bit-identical to its
    pre-eviction result (build-on-miss after eviction)."""
    from xboard_spark.operators import dedup

    def docs(tag: str, n: int = 12):
        rows = [
            (i, f"{tag} alpha beta gamma delta common text {i % 3}", "en")
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    first = docs("corpus0")
    before = sorted(map(tuple, dedup.ngram_jaccard_pairs(first).collect()))
    key0 = set(dedup._INDEX_CACHE)

    old_bound = dedup._INDEX_CACHE.max_entries
    dedup._INDEX_CACHE.max_entries = 2
    try:
        ev0 = dedup._INDEX_CACHE.evictions
        for i in range(1, 4):  # 3 more corpora through a bound of 2
            dedup.ngram_jaccard_pairs(docs(f"corpus{i}")).collect()
        assert dedup._INDEX_CACHE.evictions > ev0, "bound never evicted"
        assert not (key0 & set(dedup._INDEX_CACHE)), "corpus0 survived LRU"
        after = sorted(map(tuple, dedup.ngram_jaccard_pairs(first).collect()))
        assert after == before
    finally:
        dedup._INDEX_CACHE.max_entries = old_bound


def test_clear_index_caches_still_releases_everything(spark):
    """The manual release valve must keep working on the bounded caches
    (it unpersists + clears without going through eviction)."""
    import xboard_spark
    from xboard_spark.operators import dedup

    rows = [(i, f"release valve text sample {i % 2}", "en") for i in range(8)]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    dedup.ngram_jaccard_pairs(d).collect()
    assert len(dedup._INDEX_CACHE) >= 1
    released = xboard_spark.clear_index_caches()
    assert released >= 1
    assert len(dedup._INDEX_CACHE) == 0


def test_cluster_rounds_leave_with_their_frame():
    """The star-rounds diagnostic rides in the cluster entry, so it is
    restored on a hit and cannot outlive its frame: evicting or releasing
    the entry drops both."""
    c = BoundedFrameCache(max_entries=1)
    frames = []

    def build(rounds):
        frames.append(_FakeFrame())
        return frames[-1], rounds

    assert c.memo(_Source(1), (), lambda: build(3)) == (frames[0], 3)
    assert c.memo(_Source(1), (), lambda: build(99)) == (frames[0], 3)
    c.memo(_Source(2), (), lambda: build(5))  # evicts the first entry
    assert list(c.values()) == [(frames[1], 5)] and frames[0].unpersisted == 1
    assert c.release_all() == 1  # counts frames, not the rounds beside them
    assert not c and frames[1].unpersisted == 1


def test_cache_model_property():
    """Model-based check: against a reference model of LRU-with-release,
    a random (seeded, deterministic) op sequence must agree on contents,
    order, eviction count, and exactly-once release of dead frames."""
    import random

    rng = random.Random(90210)
    keys = [f"k{i}" for i in range(12)]
    c = BoundedFrameCache(max_entries=4)
    model: dict[str, _FakeFrame] = {}  # insertion==recency order (py3.7+)
    released: list[_FakeFrame] = []

    for step in range(600):
        op = rng.random()
        k = rng.choice(keys)
        if op < 0.55:  # insert/replace
            f = _FakeFrame()
            if k in model:  # replacement releases the old frame
                released.append(model.pop(k))
            model[k] = f
            if len(model) > 4:
                lru = next(iter(model))
                released.append(model.pop(lru))
            c[k] = f
        elif op < 0.85:  # get (bumps recency on hit)
            if k in model:
                model[k] = model.pop(k)
                assert c[k] is model[k]
            else:
                assert k not in c
        else:  # membership probe (must NOT bump)
            assert (k in c) == (k in model)
        assert list(c) == list(model), f"order diverged at step {step}"
        assert all(f.unpersisted == 0 for f in model.values())
        assert all(f.unpersisted == 1 for f in released)
    assert c.evictions > 0  # the sequence actually exercised eviction


def test_release_all_unpersists_and_counts():
    c = BoundedFrameCache(max_entries=8)
    t = (_FakeFrame(), _FakeFrame())
    single = _FakeFrame()
    c["t"] = t
    c["s"] = single
    n = c.release_all()
    assert n == 3  # counts FRAMES, not keys (tuple = 2)
    assert len(c) == 0 and c.evictions == 0  # release != LRU pressure
    assert all(f.unpersisted == 1 for f in (*t, single))


def test_release_rejects_non_frame_entries():
    """A non-DataFrame inside an entry is consumer misuse: _release must
    raise, not swallow the AttributeError and silently skip the
    unpersist (reintroducing the storage leak the cache exists to fix)."""
    import pytest

    from xboard_spark.cache import BoundedFrameCache

    with pytest.raises(TypeError, match="must be DataFrames"):
        BoundedFrameCache._release((object(),))


def test_memo_keys_by_source_hash_and_params_and_counts():
    c = BoundedFrameCache("test.memo")
    calls = []

    def build():
        calls.append(1)
        return _FakeFrame()

    first = c.memo(_Source(7), (3, 50), build)
    assert list(c) == [(7, 3, 50)]
    assert c.memo(_Source(7), (3, 50), build) is first and len(calls) == 1
    c.memo(_Source(7), (4, 50), build)  # other params: another entry
    assert (c.hits, c.misses, len(calls)) == (1, 2, 2) and c.build_s >= 0
    assert cache.stats()["test.memo"] == {
        "hits": 1, "misses": 2, "build_s": c.build_s
    }


def test_clear_index_caches_releases_an_unlisted_cache():
    """Registration, not a list: a cache nobody names anywhere is still
    released by the session-wide valve."""
    import xboard_spark

    throwaway = BoundedFrameCache("test.throwaway")
    f = _FakeFrame()
    throwaway["k"] = (f, 2)
    assert xboard_spark.clear_index_caches() >= 1
    assert not throwaway and f.unpersisted == 1


def test_registered_names_are_the_operator_caches():
    from xboard_spark.operators import dedup, graph, linkage, similarity  # noqa: F401

    gc.collect()  # drop throwaway caches other tests left unreferenced
    named = [c.name for c in cache.registered() if c.name is not None]
    assert sorted(named) == sorted(OPERATOR_CACHES)
    assert set(cache.stats()) == OPERATOR_CACHES
