"""The filtered shingle index carries each document's shingle count:
rows are (doc_id, shfp, n_sh), with n_sh counted after the stop-shingle
filter. The dedup consumers read sizes off those rows, so they give the
same answers as the earlier formulation — a doc_id aggregate joined back
per call and a split joined from ``documents`` — without running it.
That formulation is inlined below as the reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xboard_spark.io import read_table
from xboard_spark.operators import dedup
from xboard_spark.operators.sampling import with_split

# small enough that the sf0.001 corpus loses some stop shingles
MAX_DF = 5


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def inv(docs):
    return dedup.cached_filtered_index(docs, 3, MAX_DF)


def _ref_sizes(inv):
    return inv.groupBy("doc_id").agg(F.count("*").alias("n_sh"))


def _ref_pair_jaccard(inv, candidates, tau):
    sizes = _ref_sizes(inv)
    size_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    size_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    a = inv.select(F.col("doc_id").alias("doc_a"), "shfp")
    b = inv.select(F.col("doc_id").alias("doc_b"), "shfp")
    if candidates is None:
        joined = a.join(b, "shfp").filter(F.col("doc_a") < F.col("doc_b"))
    else:
        joined = candidates.join(a, "doc_a").join(b, ["doc_b", "shfp"])
    shared = joined.groupBy("doc_a", "doc_b").agg(F.count("*").alias("shared"))
    return (
        shared.join(size_a, "doc_a")
        .join(size_b, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= tau)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "jaccard",
        )
    )


def _ref_minhash_pairs(inv, tau):
    bands = dedup.band_hashes(dedup.minhash_signatures(inv))
    candidates = (
        bands.select("band", "bh", F.col("doc_id").alias("doc_a"))
        .join(bands.select("band", "bh", F.col("doc_id").alias("doc_b")), ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _ref_pair_jaccard(inv, candidates, tau)


def _ref_split_inv(docs, inv, test_pct):
    return inv.join(with_split(docs, test_pct).select("doc_id", "split"), "doc_id")


def _ref_decontamination(docs, inv, test_pct, min_shared):
    split_inv = _ref_split_inv(docs, inv, test_pct)
    train = split_inv.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "shfp"
    )
    test = split_inv.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "shfp"
    )
    n_test_sh = test.groupBy("test_doc").agg(F.count("*").alias("n_test_sh"))
    shared = (
        train.join(test, "shfp")
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return shared.join(n_test_sh, "test_doc").select(
        "test_doc",
        "train_doc",
        F.col("shared").cast("long").alias("shared"),
        F.col("n_test_sh").cast("long").alias("n_test_sh"),
        F.round(F.col("shared") / F.col("n_test_sh"), 6).alias("overlap"),
    )


def _ref_novelty(docs, inv, test_pct):
    split_inv = _ref_split_inv(docs, inv, test_pct)
    train_fps = (
        split_inv.filter(F.col("split") == "train")
        .select("shfp")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    test = split_inv.filter(F.col("split") == "test").select("doc_id", "shfp")
    return (
        test.join(train_fps, "shfp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_overlap"),
        )
        .withColumn("novelty", F.lit(1.0) - F.col("n_overlap").cast("double") / F.col("n_shingles"))
    )


def _ref_similar(inv, query_doc, k):
    sizes = _ref_sizes(inv)
    q = inv.filter(F.col("doc_id") == query_doc).select("shfp")
    q_size = sizes.filter(F.col("doc_id") == query_doc).select(F.col("n_sh").alias("q_sh"))
    shared = (
        inv.join(q, "shfp")
        .filter(F.col("doc_id") != query_doc)
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes, "doc_id")
        .crossJoin(q_size)
        .select(
            "doc_id",
            F.col("shared").cast("long").alias("shared"),
            F.col("n_sh").cast("long").alias("n_sh"),
            F.round(
                F.col("shared") / (F.col("n_sh") + F.col("q_sh") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("doc_id"))
        .limit(k)
    )


def _same(got, ref, ordered=False):
    assert got.dtypes == ref.dtypes
    g, r = got.collect(), ref.collect()
    assert g, "empty result compares nothing"
    if ordered:
        assert g == r
    else:
        assert sorted(g) == sorted(r)


def test_n_sh_counts_the_rows_left_after_the_stop_filter(docs, inv):
    raw = dedup.shingle_index(docs, 3)
    assert inv.columns == ["doc_id", "shfp", "n_sh"]
    assert inv.count() < raw.count()  # some stop shingle was dropped
    per_doc = inv.groupBy("doc_id").agg(
        F.count("*").alias("rows"), F.min("n_sh").alias("lo"), F.max("n_sh").alias("hi")
    )
    assert per_doc.filter("lo != rows OR hi != rows").count() == 0
    # a doc that lost shingles to the filter is counted after it
    raw_sizes = _ref_sizes(raw).withColumnRenamed("n_sh", "n_raw")
    shrunk = per_doc.join(raw_sizes, "doc_id").filter("rows < n_raw")
    assert shrunk.count() > 0


def test_pair_consumers_match_the_aggregate_and_join_formulation(docs, inv):
    bare = inv.select("doc_id", "shfp")
    _same(
        dedup.ngram_jaccard_pairs(docs, 3, 0.3, MAX_DF),
        _ref_pair_jaccard(bare, None, 0.3).orderBy("doc_a", "doc_b"),
        ordered=True,
    )
    _same(
        dedup.minhash_dedup_pairs(docs, 3, tau=0.3, max_df=MAX_DF),
        _ref_minhash_pairs(bare, 0.3).orderBy("doc_a", "doc_b"),
        ordered=True,
    )


def test_similar_docs_matches_the_aggregate_and_join_formulation(docs, inv):
    bare = inv.select("doc_id", "shfp")
    _same(dedup.similar_docs(docs, 0, 10, 3, MAX_DF), _ref_similar(bare, 0, 10), ordered=True)


def test_split_consumers_match_the_documents_join_formulation(docs, inv):
    bare = inv.select("doc_id", "shfp")
    _same(
        dedup.decontamination_check(docs, 10, 3, MAX_DF, 3),
        _ref_decontamination(docs, bare, 10, 3).orderBy("test_doc", "train_doc"),
        ordered=True,
    )
    _same(
        dedup.ngram_novelty(docs, 10, 3, MAX_DF),
        _ref_novelty(docs, bare, 10).orderBy("doc_id"),
        ordered=True,
    )


def _plan_nodes(plan):
    """Every physical operator of an executed plan, through AQE wrappers and
    query stages, without descending into the cached plan behind an
    in-memory scan."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _plan_nodes(plan.executedPlan())
    if kind.endswith("QueryStageExec"):
        return _plan_nodes(plan.plan())
    children = plan.children()
    out = [plan]
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i))
    return out


def _executed_nodes(df):
    df.collect()
    return _plan_nodes(df._jdf.queryExecution().executedPlan())


def _grouping_keys(node):
    keys = node.groupingExpressions()
    return [keys.apply(i).name() for i in range(keys.size())]


def test_warm_consumers_run_no_doc_size_aggregate_and_no_scan(docs, inv):
    inv.count()  # warm: the index is built and cached
    pairs = dedup.ngram_jaccard_pairs(docs, 3, 0.5, MAX_DF)
    for df in (pairs, dedup.similar_docs(docs, 0, 10, 3, MAX_DF)):
        nodes = _executed_nodes(df)
        names = [n.getClass().getSimpleName() for n in nodes]
        assert "InMemoryTableScanExec" in names
        aggs = [n for n in nodes if n.getClass().getSimpleName().endswith("AggregateExec")]
        assert aggs and all(_grouping_keys(a) != ["doc_id"] for a in aggs)
    contamination = dedup.decontamination_check(docs, 10, 3, MAX_DF)
    for df in (contamination, dedup.ngram_novelty(docs, 10, 3, MAX_DF)):
        names = [n.getClass().getSimpleName() for n in _executed_nodes(df)]
        assert "InMemoryTableScanExec" in names
        assert not [n for n in names if n in ("FileSourceScanExec", "BatchScanExec")], names
