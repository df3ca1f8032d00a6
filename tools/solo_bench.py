"""Solo min-of-N measurement for a single registered query — the
methodology the round notes use to confirm/deny driver-bench drift
(caches cleared + GC between attempts, same warmup as bench.py).

Usage: python tools/solo_bench.py <query>[,<query>...] [n_attempts] [sf_dir]
Prints one JSON line per query:
{"query": ..., "attempts": [...], "cold": ..., "min": ..., "misses": [...],
"build": [...], "jobs": [...]}.
(Several comma-separated queries share one session + warmup — the
per-attempt protocol, ``reset``, is identical either way.)

Every attempt starts with cleared cached frames and index caches, but the
generated-class cache (``spark.sql.codegen.cache.maxEntries``) is JVM-wide
and outlives them: attempt 1 (``cold``) compiles every class the query
does not share with earlier work in this JVM, later attempts reuse them,
so ``min`` is a warm-codegen figure. ``misses`` holds each attempt's
session index cache builds (``xboard_spark.cache.stats()``): equal counts
across attempts show that ``min`` is not served from a cache the earlier
attempts built. ``build`` holds each attempt's seconds until
``fn(spark, sf_dir)`` returned its DataFrame: Python plan construction plus
any eager side jobs it runs (``localCheckpoint(eager=True)``,
``collect()`` calls), the rest of the attempt being Catalyst, execution and
result transfer of the final ``collect()``. ``jobs`` holds each attempt's
Spark job count (layer 3), read through ``statusTracker`` for the job group
the attempt runs under: eager side jobs of the build plus the jobs of the
final ``collect()``.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def reset(spark) -> None:
    """Per-attempt reset: drop cached frames and the session index
    caches, then collect garbage in Python and the JVM."""
    from xboard_spark import clear_index_caches

    spark.catalog.clearCache()
    clear_index_caches()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )

    import __spark_entry__ as entry
    from bench import warmup
    from xboard_spark import cache
    from xboard_spark.session import get_spark

    def misses() -> int:
        return sum(s["misses"] for s in cache.stats().values())

    spark = get_spark()
    warmup(spark, sf_dir)
    sc = spark.sparkContext

    registry = entry.queries()
    for qname in name.split(","):
        fn = registry[qname]
        attempts, attempt_misses, builds, jobs = [], [], [], []
        for i in range(n):
            reset(spark)
            group = f"solo_bench-{qname}-{i}"
            sc.setJobGroup(group, qname)
            m0, t0 = misses(), time.time()
            df = fn(spark, sf_dir)
            builds.append(round(time.time() - t0, 3))
            df.collect()
            attempts.append(round(time.time() - t0, 3))
            attempt_misses.append(misses() - m0)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        print(
            json.dumps(
                {
                    "query": qname,
                    "attempts": attempts,
                    "cold": attempts[0],
                    "min": min(attempts),
                    "misses": attempt_misses,
                    "build": builds,
                    "jobs": jobs,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
