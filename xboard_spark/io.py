"""Readers + temp-view registration for the driver testdata tables.

Mirrors the reference's "pooled table scan" entry point (S1,
``/root/reference/db.js:9-17``): every query starts from a named table. Here a
named table is a parquet-backed DataFrame registered as a temp view so both
the DataFrame and ``spark.sql`` surfaces work (SURVEY.md §1.4).

Scale notes
-----------
- Parquet scans get predicate pushdown + column pruning from Catalyst for
  free; operators must keep filters/projections declarative so they reach the
  scan (check with ``xboard_spark.plans.explain_str``).
- At 100 TB the tables would be written ``partitionBy(tenant_id)`` (the Spark
  analog of the reference's ``idx_*_tenant_id`` B-trees,
  ``/root/reference/migrations/init.sql:46,62,80``); the reader below is
  layout-agnostic — partition pruning happens automatically when the layout
  has partition columns.
"""

from __future__ import annotations

import os
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xboard_spark import clear_index_caches

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _list_parquet_files(path: str) -> list[str]:
    """Recursive local listing of the parquet data files under ``path``
    (shared by the compaction sizing and the layout report). Local-FS
    only by construction — callers that measure bytes must fail loudly
    when the listing comes back empty rather than proceed on 0."""
    import glob as _glob

    return [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]


def _nanos_timestamp_cols(path: str) -> set[str]:
    """Column names physically stored as parquet TIMESTAMP(NANOS), from
    the footers (KB-sized metadata reads, no data). Needed because under
    ``nanosAsLong`` Spark surfaces those columns as plain LongType —
    indistinguishable in the SPARK schema from a genuine BIGINT, so the
    rebuild decision must consult the physical type, never a column-name
    convention.

    The ns-column sets are UNIONED across every file of a directory
    table, not sampled from the first: a mixed-writer table (the
    scenario motivating the footer-driven rebuild) can store the column
    as plain INT64 in the sampled file and TIMESTAMP(NANOS) in others,
    and Spark's schema merge still surfaces LongType — a first-file
    sample would silently skip the rebuild for the nanos files' rows.
    If the files DISAGREE on a column (physically INT64 in one,
    TIMESTAMP(NANOS) in another) we fail loudly: the merged Long column
    mixes units and no single rebuild is correct. At lake scale this
    check rides the catalog/manifest metadata instead of per-read
    footer walks; footers here are local KB reads."""
    import pyarrow.parquet as _pq
    import pyarrow.types as _pt

    files = _list_parquet_files(path) if os.path.isdir(path) else [path]
    ns_cols: set[str] = set()
    int64_cols: set[str] = set()
    for f in files:
        for field in _pq.read_schema(f):
            if _pt.is_timestamp(field.type) and field.type.unit == "ns":
                ns_cols.add(field.name)
            elif _pt.is_int64(field.type):
                int64_cols.add(field.name)
    mixed = ns_cols & int64_cols
    if mixed:
        raise ValueError(
            f"parquet files under {path!r} disagree on the physical type of "
            f"{sorted(mixed)}: TIMESTAMP(NANOS) in some files, plain INT64 "
            "in others — the merged column mixes units; rewrite the "
            "offending files before reading"
        )
    return ns_cols


# Session-level table-HANDLE cache (the catalog analog — metadata only,
# never data): every `spark.read.parquet` call costs ~200 ms of driver
# work (file listing, footer schema inference, relation construction via
# Py4J) before a single row is read, and the query registry re-opens its
# input tables on every invocation — measured at 1-6 opens per query,
# i.e. 0.2-1.2 s of pure table-open overhead inside each timed query
# (optimization guide §5/§6: the driver should do no repeated metadata
# work; production engines resolve tables through a catalog/manifest
# exactly once). The cache returns the already-constructed DataFrame
# handle for an UNCHANGED table; the data path is untouched — no
# persist(), no materialization — every action still scans the parquet
# files. Keyed by (Spark application, resolved path, on-disk file
# signature): any file add/remove/rewrite (size or mtime) misses and
# re-opens, so evolving tables (streaming appends, test fixtures
# rewriting a dir) never see a stale schema or file set.
_TABLE_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
_TABLE_CACHE_MAX = 64
# abspath -> the file signature read_table last opened there. A reopen with
# another signature is an in-place rewrite: the new handle has the old
# one's plan semanticHash, so the index caches keyed by it are released
# rather than serve the old bytes. Unbounded: a rewrite must be seen however
# long ago the path was first opened.
_OPENED: dict[str, tuple] = {}


def _table_signature(path: str) -> tuple:
    """(file, size, mtime_ns) per data file — cheap local stats (the
    moral equivalent of a manifest snapshot id)."""
    files = _list_parquet_files(path) if os.path.isdir(path) else [path]
    return tuple(
        (f, st.st_size, st.st_mtime_ns)
        for f in sorted(files)
        for st in (os.stat(f),)
    )


def clear_table_cache() -> None:
    """Drop every cached table handle (tests / explicit invalidation)."""
    _TABLE_CACHE.clear()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (layout: ``{sf_dir}/{name}.parquet``).

    Timestamp-layout tolerance: a real parquet lake mixes writers, so
    EVERY timestamp column is normalized to session-zoned
    ``TimestampType`` whatever physical layout the file uses:

    * ``timestamp[ns]`` — Spark 4 rejects parquet TIMESTAMP(NANOS)
      outright, so we read nanos as long (runtime-settable legacy conf)
      and rebuild microseconds with integer division —
      ``timestamp_micros(col div 1000)`` — the same truncation DuckDB
      applies casting TIMESTAMP_NS -> TIMESTAMP. Which Long columns are
      really nanos comes from the parquet FOOTER (was a hard-coded
      ``events.ts`` check, which left any other writer's ns column as
      raw longs).
    * ``timestamp[us]`` with no timezone — Spark reads TIMESTAMP_NTZ,
      which ``unix_micros``/windowed range frames reject; cast to
      ``timestamp``. The session TZ is UTC so the cast is
      value-preserving and stays aligned with the DuckDB oracle's
      ``ts::TIMESTAMP``.
    * ``timestamp[us, UTC]`` — already TimestampType, no-op.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    apath, sig = os.path.abspath(path), _table_signature(path)
    if _OPENED.get(apath, sig) != sig:
        clear_index_caches()
    _OPENED[apath] = sig
    key = (spark.sparkContext.applicationId, apath, sig)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        _TABLE_CACHE.move_to_end(key)
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    long_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.LongType)
    ]
    if long_cols:
        for col in _nanos_timestamp_cols(path) & set(long_cols):
            df = df.withColumn(
                col, F.expr(f"timestamp_micros(`{col}` div 1000)")
            )
    # generic NTZ tolerance: if the upstream writer flips ANY timestamp
    # column to no-timezone micros, normalize it rather than letting
    # unix_micros/range frames fail at plan time
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    _TABLE_CACHE[key] = df
    while len(_TABLE_CACHE) > _TABLE_CACHE_MAX:
        _TABLE_CACHE.popitem(last=False)
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TESTDATA_TABLES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load testdata tables; optionally register each as a temp view."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_silver(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("tenant_id",),
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write a silver table in the engine's canonical layout (SURVEY.md
    §1.4): hive-partitioned on the tenant/entity key so every per-tenant
    predicate becomes partition PRUNING (the Spark analog of the
    reference's idx_*_tenant_id B-trees, migrations/init.sql:46,62,80),
    optionally sorted within partitions on the range-scan column so parquet
    row-group min/max stats give data skipping (the idx_orders_created_at
    analog, init.sql:63).

    ``sortWithinPartitions`` deliberately — a global orderBy would add a
    range-exchange shuffle for ordering that only needs to hold per file."""
    out = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_cols:
        # the file writer REQUIRES task-local ordering on the partition
        # columns and injects its own (unstable) sort when the incoming
        # ordering doesn't satisfy it — which would destroy the secondary
        # sort. Leading with the partition columns satisfies the writer's
        # requirement so OUR ordering survives into the files.
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_silver(spark: SparkSession, path: str) -> DataFrame:
    """Read a silver table written by ``write_silver`` (partition columns
    come back via partition discovery)."""
    return spark.read.parquet(path)


def read_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table whose files were written under EVOLVING schemas
    (columns added over time — the normal life of a silver table at scale):
    ``mergeSchema`` unions the per-file schemas at footer-read time, and
    files missing a column surface NULLs for it. Cheap relative to the
    scan for append-style evolution (footer reads parallelize); the
    alternative — rewriting history on every added column — is exactly
    what does not fly at 100 TB."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def compact_silver(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    partition_cols: tuple[str, ...] = ("tenant_id",),
    sort_cols: tuple[str, ...] = (),
) -> dict[str, int]:
    """Small-file compaction — the OPTIMIZE-style maintenance pass every
    Spark lake needs and the reference's Postgres world doesn't (its
    analog is autovacuum, which Postgres runs for you): streaming /
    incremental appends leave thousands of small files per partition, and
    at 100 TB the scan cost becomes footer-and-task overhead instead of
    I/O. Rewrites the table so files approach ``target_file_mb``.

    Granularity is honest about the two layouts: with ``partition_cols``
    the rewrite hash-clusters each hive partition into a single task, so
    the result is ONE file per partition (the dominant cure — thousands
    of streaming appends per tenant become one file; a single tenant
    bigger than ``target_file_mb`` would need an intra-partition salt,
    which a table format's OPTIMIZE does for you). Without
    ``partition_cols`` the file count is chosen from MEASURED bytes on
    disk (not row counts — compressed width per row varies 10x across
    tables) so files approach ``target_file_mb``. The rewrite preserves
    the canonical silver layout (see ``write_silver``) and is an
    atomic-enough overwrite for a maintenance window; a production lake
    would stage to a temp dir and swap, or use a table format with
    transactional replace (the operator shape is identical).

    Returns {"files_before", "files_after", "bytes"} for the ops log."""
    files = _list_parquet_files(path)
    if not files:
        raise FileNotFoundError(
            f"compact_silver: no parquet files found under {path!r} — the "
            "bytes-measured sizing only works on a local path it can list; "
            "refusing to rewrite the table through a single blind task"
        )
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))  # ceil
    df = spark.read.parquet(path)
    out = df.repartition(int(n_out), *[F.col(c) for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*partition_cols, *sort_cols)
    # read fully before overwrite: localCheckpoint materializes the input
    # so the overwrite doesn't read the files it is deleting
    out = out.localCheckpoint(eager=True)
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    files_after = _list_parquet_files(path)
    return {
        "files_before": len(files),
        "files_after": len(files_after),
        "bytes": total_bytes,
    }


def write_bucketed_index(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Persist a shared index artifact (shingle index, LSH pair set, IVF
    assignment...) as a BUCKETED managed table — the durable form the
    in-session caches stand in for (see ``clear_index_caches``). Bucketing
    on the probe key means every later index probe or index-index join is
    co-located: no Exchange on the bucketed side, the property
    ``tests/test_bucketing.py`` proves for the fact tables and
    ``test_index_persistence.py`` proves for a persisted index."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def read_index_table(spark: SparkSession, table_name: str) -> DataFrame:
    """Load a persisted index table (bucket metadata rides the catalog, so
    joins on the bucket key skip their shuffle)."""
    return spark.table(table_name)


def parquet_layout_report(path: str) -> list[dict]:
    """Physical-layout report for a parquet file/directory from the
    FOOTERS only (no data read): per column, encodings, compressed and
    raw bytes, and the compression ratio — the feedback loop for schema
    and encoding decisions at scale (a column that stops
    dictionary-encoding after a cardinality explosion shows up here long
    before it shows up in the storage bill). Driver-side metadata walk:
    footers are KB-sized; at lake scale this parallelizes per file with a
    mapInPandas over the file listing — same per-footer logic."""
    import pyarrow.parquet as _pq

    files = [path] if os.path.isfile(path) else _list_parquet_files(path)
    agg: dict[str, dict] = {}
    for f in files:
        meta = _pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                d = agg.setdefault(
                    name,
                    {
                        "column": name,
                        "encodings": set(),
                        "compressed_bytes": 0,
                        "raw_bytes": 0,
                        "n_values": 0,
                    },
                )
                d["encodings"].update(col.encodings)
                d["compressed_bytes"] += col.total_compressed_size
                d["raw_bytes"] += col.total_uncompressed_size
                d["n_values"] += col.num_values
    out = []
    for name in sorted(agg):
        d = agg[name]
        out.append(
            {
                "column": name,
                "encodings": sorted(d["encodings"]),
                "compressed_bytes": d["compressed_bytes"],
                "raw_bytes": d["raw_bytes"],
                "ratio": round(
                    d["raw_bytes"] / max(d["compressed_bytes"], 1), 3
                ),
                "n_values": d["n_values"],
            }
        )
    return out
