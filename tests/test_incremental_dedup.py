"""Incremental LSH dedup: batches arriving over time, duplicates detected
against the accumulated index (including cross-batch pairs), matching the
batch operator's verdicts."""

from __future__ import annotations

import json
import os

import pytest

from xboard_spark.operators.dedup import minhash_dedup_pairs
from xboard_spark.streaming.dedup import IncrementalDedupIndex, start_dedup_stream


@pytest.fixture()
def texts():
    base = " ".join(f"word{i} tok{i * 5 % 11}" for i in range(30))
    near = base.replace("word9", "changed9")
    other = " ".join(f"other{i} thing{i * 3 % 7}" for i in range(30))
    return base, near, other


def test_incremental_matches_batch(spark, tmp_path, texts):
    base, near, other = texts
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, near), (4, other)], "doc_id long, text string"
    )
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    p1 = {(r.doc_a, r.doc_b) for r in idx.add_batch(b1).collect()}
    assert p1 == set()  # batch 1 has no dups
    p2 = {(r.doc_a, r.doc_b) for r in idx.add_batch(b2).collect()}
    # cross-batch near-dup (1,3) and exact dup (2,4) must surface
    assert (1, 3) in p2
    assert (2, 4) in p2

    # verdicts match the batch operator over the full corpus
    full = spark.createDataFrame(
        [(1, base), (2, other), (3, near), (4, other)],
        "doc_id long, text string",
    )
    batch_pairs = {
        (r.doc_a, r.doc_b) for r in minhash_dedup_pairs(full).collect()
    }
    assert p2 <= batch_pairs


def test_dedup_stream_end_to_end(spark, tmp_path, texts):
    base, near, _ = texts
    src = tmp_path / "src"
    os.makedirs(src)
    with open(src / "batch.json", "w") as f:
        for i, t in [(10, base), (11, near)]:
            f.write(json.dumps({"doc_id": i, "text": t, "lang": "en", "source": "s"}) + "\n")
    pairs_out = str(tmp_path / "pairs")
    q = start_dedup_stream(
        spark, str(src), str(tmp_path / "stream_idx"), pairs_out
    )
    q.awaitTermination(120)
    got = spark.read.parquet(pairs_out).collect()
    assert {(r.doc_a, r.doc_b) for r in got} == {(10, 11)}
    assert all(r.jaccard >= 0.5 for r in got)


def test_sink_crash_before_index_commit_replays_same_pairs(spark, tmp_path, texts):
    """Durability ordering contract: the pairs sink hook runs BEFORE the
    index grows, so a crash mid-sink leaves the index unchanged and the
    replayed batch re-derives the SAME pairs (the old write-after-append
    shape silently lost a crashed batch's pairs forever: the replay's
    anti-join dropped every document)."""
    base, near, other = texts
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(
        spark.createDataFrame([(1, base), (2, other)], "doc_id long, text string")
    )
    b2 = spark.createDataFrame(
        [(3, near), (4, other)], "doc_id long, text string"
    )

    class SinkCrash(RuntimeError):
        pass

    seen: list[set] = []

    def crashing_sink(pairs):
        seen.append({(r.doc_a, r.doc_b) for r in pairs.collect()})
        raise SinkCrash("simulated crash during the pairs write")

    with pytest.raises(SinkCrash):
        idx.add_batch(b2, on_pairs=crashing_sink)
    # the crash aborted BEFORE the appends: batch 2's docs are not indexed
    assert idx._read("inv").filter("doc_id >= 3").count() == 0

    # replay (at-least-once source redelivers the batch): same pairs again
    replay = {(r.doc_a, r.doc_b) for r in idx.add_batch(b2).collect()}
    assert replay == seen[0]
    assert {(1, 3), (2, 4)} <= replay


def test_crash_between_bands_and_inv_appends_replays_identically(
    spark, tmp_path, texts
):
    """A crash AFTER the bands append but BEFORE the inv commit marker
    leaves orphan band rows; the replayed batch must emit the same pairs
    once each, with the Jaccards the batch operator computes (the doc
    sizes come from the replayed batch's own index rows)."""
    base, near, other = texts
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(
        spark.createDataFrame([(1, base), (2, other)], "doc_id long, text string")
    )
    b2 = spark.createDataFrame(
        [(3, near), (4, other)], "doc_id long, text string"
    )

    class AppendCrash(RuntimeError):
        pass

    orig_append = idx._append

    def crashing_append(df, name, n_rows=None):
        if name == "inv":
            raise AppendCrash("simulated crash before the inv commit")
        return orig_append(df, name, n_rows=n_rows)

    idx._append = crashing_append
    with pytest.raises(AppendCrash):
        idx.add_batch(b2)
    idx._append = orig_append
    # orphan state exists for batch-2 docs in bands, not in inv
    assert idx._read("inv").filter("doc_id >= 3").count() == 0
    assert idx._read("bands").filter("doc_id >= 3").count() > 0

    replay = idx.add_batch(b2).collect()
    got = {(r.doc_a, r.doc_b) for r in replay}
    assert {(1, 3), (2, 4)} <= got
    assert len(got) == len(replay)  # no duplicated pair rows
    # Jaccards match the batch operator exactly (no shingle is df-capped
    # in this 4-doc corpus, so the incremental and batch filtered sets
    # and their sizes coincide)
    full = spark.createDataFrame(
        [(1, base), (2, other), (3, near), (4, other)],
        "doc_id long, text string",
    )
    batch = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_dedup_pairs(full).collect()
    }
    for r in replay:
        assert batch[(r.doc_a, r.doc_b)] == r.jaccard


def test_new_doc_with_smaller_id_than_indexed_dup_is_paired(spark, tmp_path, texts):
    """Candidate canonicalization: ids carry no arrival-order guarantee,
    so a new doc whose id is SMALLER than an indexed duplicate's must
    still pair. The old candidate join pinned the new doc to the doc_b
    side of a doc_a < doc_b filter and emitted nothing for this case."""
    base, _, _ = texts
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(
        spark.createDataFrame([(10, base)], "doc_id long, text string")
    )
    p2 = idx.add_batch(
        spark.createDataFrame([(5, base)], "doc_id long, text string")
    ).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in p2] == [(5, 10, 1.0)]


def test_dedup_stream_demo_batch_attribution(spark, tmp_path, texts):
    """The registered demo surface: within-batch-1 pairs carry
    batch_id 0, cross/batch-2 pairs carry batch_id 1, and the
    redelivered doc (doc_id % 14 == 0 evens re-sent in batch 2) is an
    index no-op — its pair is emitted exactly once, in batch 0."""
    from xboard_spark.streaming.dedup import dedup_stream_demo

    base, near, other = texts
    docs = spark.createDataFrame(
        [
            (0, base, "en", "s"),   # even; 0 % 14 == 0 -> redelivered in b2
            (2, base, "en", "s"),   # even exact dup of 0 -> batch-0 pair
            (1, near, "en", "s"),   # odd near-dup of 0/2 -> batch-1 pairs
            (3, other, "en", "s"),  # odd, no dup
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = [
        (r.doc_a, r.doc_b, r.batch_id)
        for r in dedup_stream_demo(docs).collect()
    ]
    assert (0, 2, 0) in got          # within batch 1, emitted once
    assert got.count((0, 2, 0)) == 1 and (0, 2, 1) not in got
    assert (0, 1, 1) in got and (1, 2, 1) in got  # cross pairs, new id smaller


def test_dedup_stream_demo_dup_free_corpus_returns_empty_panel(spark, tmp_path, texts):
    """A corpus with no near-dups must yield an EMPTY panel (the sink
    never creates pairs_out), not a scan error over a missing directory."""
    from xboard_spark.streaming.dedup import dedup_stream_demo

    base, _, other = texts
    docs = spark.createDataFrame(
        [(0, base, "en", "s"), (1, other, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = dedup_stream_demo(docs)
    assert out.columns == ["doc_a", "doc_b", "jaccard", "batch_id"]
    assert out.count() == 0
