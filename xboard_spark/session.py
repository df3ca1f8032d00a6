"""SparkSession factory.

Defaults are chosen for the 100 TB / many-executor target and scaled down by
environment variables for local testing:

- AQE on (coalesce shuffle partitions, skew-join splitting) — tenant skew is
  the natural skew axis in the XBoard domain (SURVEY.md §4.3).
- UTC session timezone — the reference stores TIMESTAMPTZ and the oracle
  (DuckDB) compares in UTC.
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a real
  cluster this is expected to be overridden (or left to AQE's coalescing with
  a high initial partition count).
- Generated-class cache sized to the engine's working set
  (``CODEGEN_CACHE_MAX_ENTRIES``). Spark keeps compiled operator code in one
  JVM-wide LRU of ``spark.sql.codegen.cache.maxEntries`` classes, default
  100. A session that asks the same query shapes again (dashboard panels,
  dedup/similarity consumers over a shared index) compiles far more distinct
  classes than that, so at the default every repeat misses and runs Janino
  again. Measured working sets (fresh JVM, unbounded cache, Spark 4.1.2):
  one pass over the full ``__spark_entry__.queries()`` registry at sf0.01
  compiles 2639 distinct classes, a ``perfbench`` ``corpus`` run 307 and a
  ``dashboard`` run 164.
- The package root on ``PYTHONPATH``: Python UDF workers do not inherit
  the driver's ``sys.path``; the JVM hands them its own environment, which
  it copies from this process when it starts. Without the export, a UDF
  query run from outside the repo fails with ``No module named
  'xboard_spark'``.
- No Python call-site capture (``spark.python.sql.dataFrameDebugging.enabled``
  off). With it on, PySpark wraps every ``Column`` method and many
  ``DataFrame`` methods so that each call walks the Python stack and sends
  about ten extra commands over the py4j gateway (active-session lookup,
  a conf read, ``PySparkCurrentOrigin.set``/``clear``), only to record a
  file:line for error messages. Measured on Spark 4.1.2 (object releases
  not counted): ``c * 5`` on an existing Column takes 11 gateway commands
  with the capture and 1 without; building the MinHash signature and band frames
  out of Column methods took 3298 and 1068 (as SQL text they now take 148).
  The trade: an error still names its condition and the DataFrame
  operation (``[DIVIDE_BY_ZERO] ... == DataFrame == "divide" was called
  from ...``) but no longer the Python file:line. PySpark reads the flag
  once per process, at the first wrapped call made while a session is
  active, so to get call sites back while debugging start a fresh process
  whose first session is built with
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Static conf: it takes effect when the first session of the JVM is built and
# holds for the JVM's lifetime. Twice the largest working set measured above
# (2 x 2639 classes, rounded up): Guava splits the limit across 4 LRU segments
# that fill unevenly, so a segment must have room beyond its average share.
# At this size a second registry pass compiles 152 classes (those whose code
# differs per run) instead of 3961 at Spark's default.
CODEGEN_CACHE_MAX_ENTRIES = 6000

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "xboard-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    # before getOrCreate: a JVM, once started, keeps its environment
    pythonpath = os.environ.get("PYTHONPATH", "")
    if PACKAGE_ROOT not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (PACKAGE_ROOT, pythonpath) if p
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("XBOARD_SHUFFLE_PARTITIONS", cpus))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: keep splits big enough to amortize task overhead but
        # small enough to parallelize; 128 MiB is the right default at scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dims (region/nation/tenants/users) stay well
        # under this; big fact-fact joins fall through to sort-merge + AQE.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("XBOARD_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
