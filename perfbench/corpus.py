"""``corpus``: dedup and similarity-index consumers over corpora that share
a session.

Each operation calls one of ``dedup.minhash_dedup_pairs``,
``ngram_jaccard_pairs``, ``decontamination_check`` or ``similar_docs`` on one
of two corpora and collects the result. Corpus 0 is the whole documents
table; corpus 1 drops two of the ten doc_id residue classes, an exact 80%
subset.

One pass is ``PASS``: eight calls, each consumer once per four, with
skewed reuse (five calls on corpus 0, three on corpus 1). Before each pass
the workload releases every index through
``xboard_spark.clear_index_caches``, so every pass makes the same three
cold calls (building the shingle index and MinHash pairs of corpus 0, the
index of corpus 1, then the pairs of corpus 1 over its cached index) and
five warm calls that only read cached artifacts. The corpus shape is
fixed (``datagen.documents_table``): the seed permutes the vocabulary, so
every seed runs the same cache sequence over different text. A set-up
releases every index and warms up on a small corpus; each pass releases
them again.

Check: every call must return what its DuckDB twin from
``__spark_entry__.oracle_sql()`` returns on the same corpus, so a call
served another corpus's index or pairs fails unless the two corpora give
that consumer the same answer.

The pass's shares are assumptions, not measured traffic: the repository
records no call counts for these consumers. The four consumers have equal
shares. A pass touches two corpora, fewer than the 8 entries a cache
holds, so the window has cold builds and warm hits but no evictions: a
working set larger than the cache would need nine cold builds per pass, at
about 2 s of fixed cost each, and three passes of that do not fit a run.
"""

from __future__ import annotations

import os
import statistics

from perfbench import datagen
from perfbench.harness import Op
from perfbench.tracing import cache_events, cache_snapshot
from perfbench.workload import Workload, norm_rows

N_DOCS = 200
# consumer -> its twin in __spark_entry__.oracle_sql()
KINDS = {
    "minhash_dedup_pairs": "minhash_dedup",
    "ngram_jaccard_pairs": "ngram_jaccard",
    "decontamination_check": "decontamination",
    "similar_docs": "similar_docs",
}
INDEX_CACHE = "dedup._INDEX_CACHE"
PAIRS_CACHE = "dedup._PAIRS_CACHE"

WARMUP_DOCS = 50
# the warm-up covers the tokenizer, shingle index, LSH, pair join and split
WARMUP = ("minhash_dedup_pairs", "decontamination_check")
# one pass: (consumer, corpus); every four calls hold each consumer once
PASS = (
    ("minhash_dedup_pairs", 0),  # cold: index and pairs
    ("ngram_jaccard_pairs", 0),
    ("similar_docs", 1),  # cold: index
    ("decontamination_check", 0),
    ("similar_docs", 0),
    ("minhash_dedup_pairs", 1),  # cold: pairs
    ("decontamination_check", 1),
    ("ngram_jaccard_pairs", 0),
)
# doc_id residue classes (mod 10) that corpus c leaves out
DROPPED = [(), (3, 4)]


def _twins(path: str, label: int, kinds: list[str]) -> dict[str, list[tuple]]:
    """The expected rows of each consumer in ``kinds`` on corpus ``label``,
    from its DuckDB twin in ``__spark_entry__.oracle_sql()`` over the same
    rows."""
    import duckdb

    import __spark_entry__

    twins = __spark_entry__.oracle_sql()
    dropped = DROPPED[label]
    keep = f"doc_id = 0 OR doc_id % 10 NOT IN {dropped}" if dropped else "true"
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}') WHERE {keep}")
        return {k: norm_rows(con.execute(twins[KINDS[k]]).fetchall(), ordered=False) for k in kinds}
    finally:
        con.close()


class Corpus(Workload):
    name = "corpus"
    work_unit = "calls"
    ops_per_second = 1.2  # at 20 s: 3 passes of 8 calls
    passes = 3
    warm_in_passes = 1

    def __init__(self, seed, workdir, tracer):
        super().__init__(seed, workdir, tracer)
        self.data_dir = os.path.join(workdir, "docs")
        self._plan = [Op(kind, (corpus,)) for kind, corpus in PASS]
        self.oracle: dict[Op, list[tuple]] = {}
        self.hit_lat: list[float] = []
        self.miss_lat: list[float] = []
        self._last_missed = False

    def plan(self) -> list[Op]:
        """The same for every seed (see the module docstring)."""
        return self._plan

    def reset(self) -> None:
        import xboard_spark

        xboard_spark.clear_index_caches()

    def generate(self, ops: list[Op]) -> None:
        from xboard_spark.operators import dedup

        path = datagen.documents_table(self.seed, self.data_dir, N_DOCS)
        for label in sorted({op.args[0] for op in ops}):
            kinds = sorted({op.kind for op in ops if op.args[0] == label})
            for kind, rows in _twins(path, label, kinds).items():
                self.oracle[Op(kind, (label,))] = rows
        self.caches = {INDEX_CACHE: dedup._INDEX_CACHE, PAIRS_CACHE: dedup._PAIRS_CACHE}

    def corpus(self, label: int):
        """Corpus ``label``; doc 0, which ``similar_docs`` queries, is in
        every corpus."""
        from pyspark.sql import functions as F

        docs = self.read_table(self.data_dir, "documents")
        if label == 0:
            return docs
        doc = F.col("doc_id")
        return docs.filter((doc == 0) | ~F.pmod(doc, F.lit(10)).isin(*DROPPED[label]))

    def setup(self, spark) -> None:
        import xboard_spark
        from pyspark.sql import functions as F

        self.attach(spark)
        xboard_spark.clear_index_caches()
        warm = self.read_table(self.data_dir, "documents").filter(F.col("doc_id") < WARMUP_DOCS)
        for kind in WARMUP:
            self.collect(self.build(self._consumer(kind), warm))

    @staticmethod
    def _consumer(kind: str):
        from xboard_spark.operators import dedup

        return getattr(dedup, kind)

    def execute(self, op: Op):
        docs = self.corpus(op.args[0])
        before = cache_snapshot(self.caches) if self.tracer.enabled else None
        rows = self.collect(self.build(self._consumer(op.kind), docs))
        if before is not None:
            ev = cache_events(before, cache_snapshot(self.caches), self._consulted(op, before))
            for k, v in ev.items():
                self.tracer.count(f"cache.{k}", v)
            self.tracer.count("cache.entries", sum(len(c) for c in self.caches.values()))
            self._last_missed = ev.get("misses", 0) > 0
        return 1, rows

    def _consulted(self, op: Op, before) -> list[str]:
        """Caches ``op`` looks up, in order: minhash checks its pair cache
        first and reads the index only when the pairs were not cached."""
        if op.kind != "minhash_dedup_pairs":
            return [INDEX_CACHE]
        (n0, e0), (n1, e1) = before[PAIRS_CACHE], cache_snapshot(self.caches)[PAIRS_CACHE]
        return [PAIRS_CACHE, INDEX_CACHE] if (n1 - n0) + (e1 - e0) else [PAIRS_CACHE]

    def observe(self, op: Op, latency: float) -> None:
        if self.tracer.enabled:
            (self.miss_lat if self._last_missed else self.hit_lat).append(latency)

    def check(self, op: Op, result) -> bool:
        with self.tracer.span("bench.check"):
            return norm_rows(result, ordered=False) == self.oracle[op]

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        c = self.tracer.counts
        looked_up = c["cache.hits"] + c["cache.misses"]
        return {
            "cache.hits": c["cache.hits"] / n_ops,
            "cache.misses": c["cache.misses"] / n_ops,
            "cache.hit_ratio": c["cache.hits"] / looked_up if looked_up else 0.0,
            "cache.evictions": c["cache.evictions"] / n_ops,
            "cache.entries": c["cache.entries"] / n_ops,
            "cache.build_s": statistics.mean(self.miss_lat) if self.miss_lat else 0.0,
            "cache.hit_s": statistics.mean(self.hit_lat) if self.hit_lat else 0.0,
        }
