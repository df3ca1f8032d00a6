"""The end-to-end training-data curation pipeline — the composition the
whole operator library exists for: quality filter -> near-duplicate removal
-> curated corpus stats, in ONE lazy plan (Catalyst fuses the stages; no
intermediate materialization beyond the persisted dedup index).

Pipeline semantics (standard pre-training curation shape, C4/RefinedWeb
style):
1. quality gate: keep documents with >= ``min_tokens`` tokens;
2. near-dedup: among MinHash/LSH near-dup pairs (exact-verified Jaccard >=
   tau), drop the higher doc_id of each pair (keep-first policy);
3. report the surviving corpus per (lang, source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xboard_spark.operators.dedup import minhash_dedup_pairs
from xboard_spark.operators.text import (
    LANG_STOPWORDS,
    doc_chunks,
    norm_text,
    token_count_col,
    tokens,
)


def curated_corpus_stats(
    documents: DataFrame, min_tokens: int = 40, tau: float = 0.5
) -> DataFrame:
    """Curation summary: per (lang, source) document/token counts after the
    quality gate and near-dup removal.

    Scale shape: the quality gate is a per-row expression (no shuffle);
    dedup-removal is an anti join against the (small) removed-id set; the
    final rollup is one partial+final hash agg. At 100 TB the removed set
    is still tiny relative to the corpus — the anti join broadcasts.

    NULL doc_id rows are excluded: a document with no identity cannot be
    tracked through dedup removal (the anti join would pass it
    unconditionally while the twin's NOT IN dropped it — round-10
    null-key sweep).
    """
    documents = documents.filter(F.col("doc_id").isNotNull())
    with_tokens = documents.withColumn("n_tokens", token_count_col(F.col("text")))
    quality_pass = with_tokens.filter(F.col("n_tokens") >= min_tokens)
    removed = (
        minhash_dedup_pairs(documents, tau=tau)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    curated = quality_pass.join(removed, "doc_id", "left_anti")
    return (
        curated.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


# filter_funnel gate thresholds — the oracle SQL in ``oracles.py`` is
# generated from THESE constants (the round-3 lesson: one-sided edits
# drift; single source of truth or a pinning test).
FUNNEL_MIN_TOKENS = 40
FUNNEL_MIN_ALPHA_RATIO = 0.5
FUNNEL_MIN_STOPWORD_RATIO = 0.05
FUNNEL_TOKEN_LEN_RANGE = (2.0, 12.0)


def filter_funnel(documents: DataFrame) -> DataFrame:
    """Quality-gate ablation funnel (C4/Gopher-style rule panel): for each
    gate, how many documents fail it ALONE, and how many documents (and
    tokens) survive the gates applied cumulatively in order — the report a
    curation pipeline uses to attribute corpus shrinkage to individual
    rules before committing a filter config.

    Gates (in funnel order):
      1. min_tokens        — >= FUNNEL_MIN_TOKENS tokens
      2. alpha_ratio       — alphabetic chars / chars >= FUNNEL_MIN_ALPHA_RATIO
      3. stopword_ratio    — en-stopword tokens / tokens >= FUNNEL_MIN_STOPWORD_RATIO
      4. mean_token_len    — mean token length within FUNNEL_TOKEN_LEN_RANGE

    Scale shape: all four gates are single-pass per-row JVM expressions
    over ONE scan; the funnel is one partial+final aggregate producing a
    single row, unpivoted driver-side-free via ``stack`` into 4 gate rows.
    No shuffle beyond the 1-row aggregate at any data size."""
    lo, hi = FUNNEL_TOKEN_LEN_RANGE
    text = F.col("text")
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    en_stop = LANG_STOPWORDS["en"]
    n_stop = F.size(F.filter(toks, lambda t: t.isin(en_stop)))
    sum_tok_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_tok_len = sum_tok_len / F.greatest(n_tokens, F.lit(1))
    g1 = n_tokens >= FUNNEL_MIN_TOKENS
    g2 = (n_alpha / F.greatest(n_chars, F.lit(1))) >= FUNNEL_MIN_ALPHA_RATIO
    g3 = (n_stop / F.greatest(n_tokens, F.lit(1))) >= FUNNEL_MIN_STOPWORD_RATIO
    g4 = (mean_tok_len >= lo) & (mean_tok_len <= hi)
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    panel = documents.select(
        g1.alias("g1"), g2.alias("g2"), g3.alias("g3"), g4.alias("g4"),
        n_tokens.cast("long").alias("n_tokens"),
    ).agg(
        cnt(~F.col("g1")).alias("f1"),
        cnt(~F.col("g2")).alias("f2"),
        cnt(~F.col("g3")).alias("f3"),
        cnt(~F.col("g4")).alias("f4"),
        cnt(F.col("g1")).alias("c1"),
        cnt(F.col("g1") & F.col("g2")).alias("c2"),
        cnt(F.col("g1") & F.col("g2") & F.col("g3")).alias("c3"),
        cnt(F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4")).alias("c4"),
        F.sum(F.when(F.col("g1"), F.col("n_tokens")).otherwise(0)).alias("t1"),
        F.sum(
            F.when(F.col("g1") & F.col("g2"), F.col("n_tokens")).otherwise(0)
        ).alias("t2"),
        F.sum(
            F.when(
                F.col("g1") & F.col("g2") & F.col("g3"), F.col("n_tokens")
            ).otherwise(0)
        ).alias("t3"),
        F.sum(
            F.when(
                F.col("g1") & F.col("g2") & F.col("g3") & F.col("g4"),
                F.col("n_tokens"),
            ).otherwise(0)
        ).alias("t4"),
    )
    return panel.selectExpr(
        "stack(4, "
        "1L, 'min_tokens', f1, c1, t1, "
        "2L, 'alpha_ratio', f2, c2, t2, "
        "3L, 'stopword_ratio', f3, c3, t3, "
        "4L, 'mean_token_len', f4, c4, t4"
        ") AS (gate_idx, gate, n_fail_alone, n_pass_cum, tokens_pass_cum)"
    ).orderBy("gate_idx")


def dataset_card(documents: DataFrame) -> DataFrame:
    """The dataset-card numbers: one row summarizing the corpus —
    document/language/source counts, token and char mass, mean document
    length, and the exact-duplicate footprint (docs whose normalized
    content fingerprint occurs more than once). The panel every released
    training set publishes, produced by the engine's own primitives.

    Scale shape: one scan computes the per-doc projections; the dup
    footprint is the exact-dedup hash aggregate folded to one row; the
    two 1-row frames cross-join."""
    from xboard_spark.functions.portable_hash import fingerprint64

    staged = documents.select(
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
        fingerprint64(norm_text(F.col("text"))).alias("fp"),
    )
    base = staged.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias(
            "avg_doc_tokens"
        ),
    )
    dups = (
        staged.groupBy("fp")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("exact_dup_docs")
        )
    )
    return base.crossJoin(F.broadcast(dups))


def effective_tokens(documents: DataFrame, chunk_size: int = 64) -> DataFrame:
    """EFFECTIVE dataset size: the token mass that survives each dedup
    granularity — raw, after document-level exact dedup, after chunk-level
    dedup — the headline number of the dedup literature (what fraction of
    the corpus is genuinely distinct training signal). One row:
    (total_tokens, doc_unique_tokens, chunk_unique_tokens,
    doc_unique_frac, chunk_unique_frac).

    Population: IDENTIFIED documents only (doc_id IS NOT NULL), applied
    to all three aggregates. The chunk path structurally requires a
    document identity (``doc_chunks`` excludes identity-less rows —
    round-10 null-key sweep), and before round 11 the doc-level figures
    still included NULL-doc_id token mass — so ``chunk_unique_frac``'s
    numerator could never count mass its denominator did (ADVICE r10).
    One filter up front keeps numerators and denominators on the same
    corpus.

    Scale shape: three parallel aggregates over content fingerprints
    (uniform 64-bit keys — no skew); identical text implies identical
    token count, so one member's count stands for its group (min for
    determinism)."""
    from xboard_spark.functions.portable_hash import fingerprint64

    documents = documents.filter(F.col("doc_id").isNotNull())
    staged = documents.select(
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
        fingerprint64(norm_text(F.col("text"))).alias("fp"),
    )
    total = staged.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    doc_u = (
        staged.groupBy("fp")
        .agg(F.min("n_tokens").alias("t"))
        .agg(F.sum("t").cast("long").alias("doc_unique_tokens"))
    )
    chunk_u = (
        doc_chunks(documents, chunk_size)
        .groupBy("chunk_fp")
        .agg(F.min("n_tokens").alias("t"))
        .agg(F.sum("t").cast("long").alias("chunk_unique_tokens"))
    )
    return (
        total.crossJoin(F.broadcast(doc_u))
        .crossJoin(F.broadcast(chunk_u))
        .select(
            "total_tokens",
            "doc_unique_tokens",
            "chunk_unique_tokens",
            (
                F.col("doc_unique_tokens").cast("double")
                / F.col("total_tokens")
            ).alias("doc_unique_frac"),
            (
                F.col("chunk_unique_tokens").cast("double")
                / F.col("total_tokens")
            ).alias("chunk_unique_frac"),
        )
    )


def dedup_token_savings(documents: DataFrame, tau: float = 0.5) -> DataFrame:
    """The curation COST/BENEFIT panel for near-dedup: per language, how
    many tokens does collapsing each near-dup cluster to its richest
    member (the ``canonical_docs`` keep-the-richest policy: max tokens,
    tie -> min doc_id) actually remove? Reports per lang: corpus docs and
    tokens, removed docs and tokens, and the savings rate — the number
    that decides whether the MinHash pass pays for itself on a given
    corpus slice (a 0.2% savings rate on a lang says skip it; 15% says
    the pipeline is reprocessing the same text fifteen times per epoch).

    Scale shape: the cluster frame is the CACHED dedup_clusters output
    (only docs in >= 1 near-dup pair); representative selection is a
    window over that small frame; the removed set joins back to the
    corpus keyed on doc_id (small build side, AQE-broadcastable); the
    corpus-wide token totals are ONE scan's partial+final hash aggregate
    keyed on lang — no shuffle touches corpus-sized data beyond it."""
    from pyspark.sql import Window

    from xboard_spark.operators.dedup import dedup_clusters

    toks = documents.select(
        "doc_id",
        "lang",
        token_count_col(F.col("text")).cast("long").alias("n_tokens"),
    )
    clusters = dedup_clusters(documents, tau=tau).select(
        "doc_id", "cluster_id"
    )
    ranked = clusters.join(toks.select("doc_id", "n_tokens"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    removed = (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    flagged = toks.join(
        removed.withColumn("is_removed", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.coalesce(F.sum("is_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(
                F.sum(F.when(F.col("is_removed") == 1, F.col("n_tokens"))),
                F.lit(0),
            )
            .cast("long")
            .alias("removed_tokens"),
        )
        .withColumn(
            # Zero-guarded: a lang whose docs all tokenize to zero tokens
            # (possible: token_count_col counts word-RE matches, and a
            # punctuation-only slice has none) must report 0.0 savings,
            # not null/NaN. The oracle twin mirrors the guard.
            "savings_rate",
            F.when(
                F.col("total_tokens") > 0,
                F.round(
                    F.col("removed_tokens").cast("double")
                    / F.col("total_tokens"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy("lang")
    )


def quality_dup_correlation(documents: DataFrame) -> DataFrame:
    """Cross-signal curation analysis: does LOW-quality text duplicate
    more? Bands the corpus by alpha ratio (the same C4/Gopher-style
    signal ``quality_scores`` emits, floor(alpha_ratio*10) deciles) and
    reports, per band, how many documents are members of an EXACT
    duplicate group — the correlation that tells a curation pipeline
    whether its quality filter and its dedup pass remove the same
    documents (largely redundant) or different ones (both needed). The
    standard corpus-report finding is that boilerplate is both low-alpha
    and highly duplicated; this measures it instead of assuming it.

    Scale shape: one scan computing (band, fingerprint) per row, ONE
    fingerprint-keyed shuffle where a partition window attaches each
    group's size (the dedup_exact exchange — no second scan, no join:
    at 100 TB the group-size frame is corpus-sized, so a broadcast-join
    formulation would not survive), then a 10-row rollup. All outputs
    exact integers plus one cast-then-divide ratio."""
    from pyspark.sql import Window

    from xboard_spark.functions.portable_hash import fingerprint64

    text = F.col("text")
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    alpha_ratio = F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6)
    banded = documents.select(
        F.least(
            F.floor(alpha_ratio * 10).cast("long"), F.lit(9)
        ).alias("alpha_band"),
        fingerprint64(norm_text(text)).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    return (
        banded.withColumn("group_size", F.count("*").over(w))
        .groupBy("alpha_band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("group_size") > 1, 1).otherwise(0)
            ).alias("n_dup_docs"),
        )
        .select(
            "alpha_band",
            "n_docs",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
        .orderBy("alpha_band")
    )
