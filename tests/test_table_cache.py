"""Round-13 (optimization): ``io.read_table``'s table-HANDLE cache.

Opening a parquet table costs ~200 ms of driver-side metadata work per
call (file listing + footer schema inference + relation construction),
and the registry re-opens its inputs on every query invocation — a pure
fixed tax inside every timed query. The cache returns the same handle
for an UNCHANGED table and must invalidate on any file change (size or
mtime), so evolving tables never serve a stale schema or file set.
Metadata only: nothing is persisted — every action still scans parquet.
A reopen after an in-place rewrite also releases the session index caches,
whose keys (plan ``semanticHash``) cannot tell the old bytes from the new.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from xboard_spark.io import clear_table_cache, read_table


def _write(sf_dir: str, rows: list[int]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(rows, pa.int64())}),
        os.path.join(sf_dir, "mini.parquet"),
    )


def test_unchanged_table_returns_cached_handle(spark, tmp_path):
    sf_dir = str(tmp_path / "lake")
    _write(sf_dir, [1, 2, 3])
    clear_table_cache()
    df1 = read_table(spark, sf_dir, "mini")
    df2 = read_table(spark, sf_dir, "mini")
    assert df1 is df2  # the whole point: no second ~200 ms open
    assert df2.count() == 3


def test_file_rewrite_invalidates(spark, tmp_path):
    sf_dir = str(tmp_path / "lake")
    _write(sf_dir, [1, 2, 3])
    clear_table_cache()
    df1 = read_table(spark, sf_dir, "mini")
    assert df1.count() == 3
    # rewrite with different contents; bump mtime explicitly so the test
    # cannot flake on filesystems with coarse mtime granularity
    _write(sf_dir, [1, 2, 3, 4, 5])
    p = os.path.join(sf_dir, "mini.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    df2 = read_table(spark, sf_dir, "mini")
    assert df2 is not df1
    assert df2.count() == 5


def test_distinct_paths_are_distinct_entries(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _write(a, [1])
    _write(b, [1, 2])
    clear_table_cache()
    assert read_table(spark, a, "mini").count() == 1
    assert read_table(spark, b, "mini").count() == 2
    # both stay cached independently
    assert read_table(spark, a, "mini").count() == 1


def test_in_place_rewrite_rebuilds_the_index(spark, tmp_path):
    """The reopened handle of a rewritten table has the old handle's plan
    semanticHash; the index built from the old files must not answer for
    the new ones."""
    from xboard_spark.operators import dedup

    sf_dir = str(tmp_path / "lake")
    os.makedirs(sf_dir)
    path = os.path.join(sf_dir, "documents.parquet")

    def write_docs(texts):
        ids = pa.array(range(len(texts)), pa.int64())
        pq.write_table(pa.table({"doc_id": ids, "text": texts}), path)

    dup = "the same sentence about parquet files and spark shuffles"
    write_docs([dup, dup, "something else entirely, nothing shared"])
    docs = read_table(spark, sf_dir, "documents")
    assert dedup.ngram_jaccard_pairs(docs).count() == 1
    write_docs(["alpha beta gamma delta", "one two three four", "x y z w v"])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    fresh = read_table(spark, sf_dir, "documents")
    assert fresh.semanticHash() == docs.semanticHash()
    assert dedup.ngram_jaccard_pairs(fresh).count() == 0
