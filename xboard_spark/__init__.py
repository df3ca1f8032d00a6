"""xboard_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of PranavSaluja/XBoard (multi-tenant Shopify
ingestion + analytics), re-expressed Spark-first, plus the large-scale
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) the 100 TB deployment target needs.

Layout
------
- ``session``    SparkSession factory (UTC, AQE, tuned shuffle defaults)
- ``io``         parquet/JSON readers + temp-view registration
- ``schemas``    StructTypes for the XBoard domain tables and testdata tables
- ``operators``  batch query operators (analytics, tpch, events, text, dedup,
                 similarity, multimodal)
- ``functions``  reusable column expressions (portable hashing, vectors, text)
- ``streaming``  Structured Streaming: webhook intake, dedup, windowed aggs
- ``ingest``     Shopify-shaped JSON -> typed tables -> merge-by-window upsert
- ``plans``      plan inspection + tenant-filter lint

All query semantics derive from the public reference (see SURVEY.md §2,
citations in each operator's docstring) and the public PySpark API.
"""

__version__ = "0.1.0"


def clear_index_caches() -> int:
    """Unpersist and drop every in-session shared index artifact (shingle
    index, LSH-verified pair set, cluster labels, LSH corpus, IVF and PQ
    indexes, graph edge frames): ``release_all()`` on every cache
    registered in ``xboard_spark.cache``. The caches make repeated queries
    cheap (the indexes ARE the product — built once, consumed many
    times); this is the explicit release valve for long-lived sessions
    that move on to a different corpus. Returns the number of frames
    released.

    Each cache is a ``BoundedFrameCache`` (per-type LRU, unpersist-on-
    evict), so a session that never calls this does not leak persisted
    frames without bound; this function is the immediate full release.

    Caveat: cache keys are ``DataFrame.semanticHash()`` of the source plan
    (plus the index parameters), which identifies the PLAN, not the bytes
    behind it. ``io.read_table`` calls this function itself when it
    reopens a path whose files changed. For a frame NOT opened through
    ``read_table`` whose files are overwritten mid-session, the cache
    serves the stale index: call this function after such a rewrite."""
    from xboard_spark.cache import registered

    return sum(cache.release_all() for cache in registered())
