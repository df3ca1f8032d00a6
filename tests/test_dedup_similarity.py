"""Unit tests for the dedup and similarity operator families on synthetic
documents with KNOWN duplicate structure (the testdata has no exact dups, so
these pin the semantics the oracle can't: exact-dup grouping, MinHash recall
of a planted near-dup, LSH bucket behavior)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from xboard_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    # 60 distinct-ish tokens -> ~58 distinct shingles; changing ONE token
    # perturbs only 3 shingles, so jaccard ~0.9 (inside the 8x4 LSH band
    # s-curve's high-recall zone — threshold ~(1/8)^(1/4) ≈ 0.59)
    base = " ".join(f"word{i} token{i * 7 % 13}" for i in range(30))
    near = base.replace("word17", "changed17")
    far = "completely different content about spark shuffles and parquet files " * 5
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1 (modulo nothing)
            (3, "  " + base.upper() + "  "),  # dup after normalization
            (4, near),  # near dup
            (5, far),
            (6, "tiny"),  # < 3 tokens: no shingles
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_finds_normalized_dups(docs):
    groups = dedup.exact_dedup_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.n_docs == 3  # docs 1, 2, 3
    assert g.canonical_doc_id == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, tau=0.3).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # exact dups have jaccard 1.0; near-dup pair must be recalled too
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert (1, 4) in got
    j = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert j[(1, 2)] == 1.0
    assert 0.3 <= j[(1, 4)] < 1.0


def test_minhash_recalls_exact_and_near_dups(docs):
    pairs = dedup.minhash_dedup_pairs(docs, tau=0.3).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in got  # identical signatures -> all bands collide
    assert (1, 3) in got
    # near-dup: high jaccard -> should collide in >=1 of 8 bands
    assert (1, 4) in got


def test_minhash_subset_of_ngram(docs):
    """LSH trades recall, never precision: every minhash pair must appear in
    the exact pair set with identical jaccard."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, tau=0.1).collect()
    }
    for r in dedup.minhash_dedup_pairs(docs, tau=0.1).collect():
        assert exact[(r.doc_a, r.doc_b)] == r.jaccard


def test_no_shingle_doc_excluded(docs):
    ids = {r.doc_id for r in dedup.shingle_index(docs).collect()}
    assert 6 not in ids  # "tiny" has <3 tokens: no index rows
    assert ids == {1, 2, 3, 4, 5}


def test_simhash_close_for_near_dups(docs):
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2] == fps[3]  # identical normalized text
    ham_near = bin(fps[1] ^ fps[4]).count("1")
    ham_far = bin(fps[1] ^ fps[5]).count("1")
    assert ham_near < ham_far


def test_simhash_arrow_equals_expression_path(spark, docs):
    """The mapInArrow vote counter and the pure-expression simhash_col
    path must agree bit-for-bit, including the degenerate rows the batch
    kernel special-cases (NULL text -> NULL fps array, empty-token text,
    NULL doc_id — all per-row, never grouped)."""
    hostile = docs.unionByName(
        spark.createDataFrame(
            [(7, None), (8, "   "), (None, "null id text tokens here")],
            "doc_id long, text string",
        )
    )
    for bits in (16, 32):
        a = sorted(
            map(tuple, dedup.simhash_fingerprints(hostile, bits, arrow=False).collect()),
            key=str,
        )
        b = sorted(
            map(tuple, dedup.simhash_fingerprints(hostile, bits, arrow=True).collect()),
            key=str,
        )
        assert a == b, bits


@pytest.fixture(scope="module")
def vecs(spark):
    import math

    rows = []
    for i in range(40):
        # two clusters on orthogonal axes + noise dims
        base = [0.0] * 64
        if i % 2 == 0:
            base[0] = 1.0
        else:
            base[1] = 1.0
        base[2 + (i % 7)] = 0.3
        rows.append((i, [float(x) for x in base], i % 2))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_knn_bruteforce_returns_same_cluster(vecs):
    out = similarity.knn_bruteforce(vecs, n_queries=2, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r.vec_id)
    # query 0 is in cluster even; its top-5 should be even ids
    assert all(v % 2 == 0 for v in by_q[0])
    assert all(v % 2 == 1 for v in by_q[1])


def test_knn_ranks_are_dense_and_scores_sorted(vecs):
    out = similarity.knn_bruteforce(vecs, n_queries=1, k=5).collect()
    assert [r.rank for r in out] == [1, 2, 3, 4, 5]
    scores = [r.cosine for r in out]
    assert scores == sorted(scores, reverse=True)


def test_knn_lsh_subset_quality(vecs):
    """LSH results must be a subset of the corpus with correct per-bucket
    ranking; recall vs brute force measured, not asserted exactly."""
    bf = similarity.knn_bruteforce(vecs, n_queries=2, k=5).collect()
    lsh = similarity.knn_lsh(vecs, n_queries=2, k=5).collect()
    bf_set = {(r.q_id, r.vec_id) for r in bf}
    lsh_set = {(r.q_id, r.vec_id) for r in lsh}
    assert lsh_set  # buckets are non-degenerate for clustered data
    # scores of overlapping pairs agree exactly
    bf_scores = {(r.q_id, r.vec_id): r.cosine for r in bf}
    for r in lsh:
        if (r.q_id, r.vec_id) in bf_scores:
            assert abs(bf_scores[(r.q_id, r.vec_id)] - r.cosine) < 1e-9


def test_knn_ivf_recall_and_balance(vecs):
    """IVF with learned cells: clustered data must land in distinct cells
    and probe-2 search must recall most of the brute-force top-k for these
    well-separated clusters."""
    bf = {(r.q_id, r.vec_id) for r in similarity.knn_bruteforce(vecs, 2, 5).collect()}
    ivf = {(r.q_id, r.vec_id) for r in similarity.knn_ivf(vecs, 2, 5).collect()}
    assert ivf  # non-degenerate index
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.6, f"recall {recall}"
    sizes = similarity.ivf_cell_sizes(vecs).collect()
    assert sum(r.n_vecs for r in sizes) == 40  # every vector assigned once


def test_embedding_neardup_finds_planted_pairs(vecs):
    """Same-cluster vectors (cosine ~0.9 via the shared dominant axis) must
    pair up above tau; cross-cluster (orthogonal axes, cosine ~0.09) must
    not. Also: pairs are canonical (a < b) and scores symmetric-exact."""
    out = similarity.embedding_neardup(vecs, tau=0.5).collect()
    assert out, "planted near-dups not found"
    for r in out:
        assert r.vec_a < r.vec_b
        assert r.vec_a % 2 == r.vec_b % 2, "cross-cluster pair above tau"
        assert r.cosine >= 0.5


def test_embedding_neardup_exact_at_high_tau(vecs):
    """At tau ~ 1 only the planted EXACT duplicates survive: i and i+14
    share parity and noise dim (i % 2, i % 7 both repeat every 14), so
    those vectors are identical (cosine 1.0); everything else differs in a
    noise dim and drops below 0.9999."""
    out = similarity.embedding_neardup(vecs, tau=0.9999).collect()
    assert out, "identical-vector pairs missed"
    for r in out:
        assert (r.vec_b - r.vec_a) % 14 == 0, f"non-identical pair {r}"
        assert abs(r.cosine - 1.0) < 1e-6


def test_decontamination_flags_cross_split_copies(spark):
    """Plant identical doc pairs (i, i+100); every pair whose two members
    hash into different splits must be flagged with full overlap, and no
    pair of unrelated docs may be flagged."""
    from xboard_spark.operators.dedup import decontamination_check
    from xboard_spark.operators.sampling import with_split

    rows = []
    for i in range(20):
        body = f"unique snippet {i} " + " ".join(
            f"tok{i}w{j}" for j in range(12)
        )
        rows.append((i, body, "en", "t", len(body)))
        rows.append((i + 100, body, "en", "t", len(body)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    split = {r.doc_id: r.split for r in with_split(docs, test_pct=50).collect()}
    expected = set()
    for i in range(20):
        a, b = split[i], split[i + 100]
        if a != b:
            test_doc = i if a == "test" else i + 100
            train_doc = i + 100 if a == "test" else i
            expected.add((test_doc, train_doc))
    out = decontamination_check(docs, test_pct=50, min_shared=5).collect()
    got = {(r.test_doc, r.train_doc) for r in out}
    assert got == expected, (got, expected)
    for r in out:
        assert abs(r.overlap - 1.0) < 1e-9  # identical shingle sets


def test_quantization_error_bounds(vecs):
    """Per-dim error is at most half a quantization step, so per-vector SSE
    <= 64 * (span/510)^2; and values exactly on the grid (this fixture uses
    only 0.0/0.3/1.0... not grid-aligned, so just check the bound and
    positivity structure)."""
    from xboard_spark.operators.similarity import embedding_quantization_stats

    out = embedding_quantization_stats(vecs).collect()
    assert sum(r.n_vecs for r in out) == 40
    # spans here are at most 1.0 -> SSE bound 64 * (1/510)^2 ~ 2.46e-4
    for r in out:
        assert 0.0 <= r.max_sse <= 64 * (1.0 / 510) ** 2 + 1e-9
        assert 0.0 <= r.avg_sse <= r.max_sse + 1e-9


def test_quantization_zero_error_on_grid(spark):
    """A corpus whose per-dim values sit exactly on the 256-step grid
    reconstructs exactly (lo + q*span/255 == val)."""
    from xboard_spark.operators.similarity import embedding_quantization_stats

    rows = []
    for i in range(8):
        v = [0.0] * 64
        v[i] = 1.0  # values are exactly lo (0) or hi (1) per dim
        rows.append((i, v, 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = embedding_quantization_stats(emb).collect()
    assert len(out) == 1 and out[0].avg_sse == 0.0 and out[0].max_sse == 0.0


def test_pq_quantization_zero_error_for_constant_corpus(spark):
    """All-identical vectors: the Lloyd update makes some centroid exactly
    the vector, so PQ reconstruction is exact (sse == 0) — pins the
    join/encode plumbing independent of codebook quality."""
    from xboard_spark.operators.similarity import pq_quantization_stats

    v = [float((i * 7 % 13) - 6) / 10 for i in range(64)]
    emb = spark.createDataFrame(
        [(i, v, 1) for i in range(12)],
        "vec_id long, embedding array<float>, label int",
    )
    out = pq_quantization_stats(emb).collect()
    assert len(out) == 1
    assert out[0].n_vecs == 12
    assert out[0].avg_sse == 0.0 and out[0].max_sse == 0.0


def test_pq_covers_every_vector(vecs):
    from xboard_spark.operators.similarity import pq_quantization_stats

    out = pq_quantization_stats(vecs).collect()
    assert sum(r.n_vecs for r in out) == 40
    for r in out:
        assert r.avg_sse >= 0.0 and r.max_sse >= r.avg_sse - 1e-12


def test_knn_pq_structure_and_code_equivalence(vecs):
    """ADC invariants that hold regardless of codebook quality: dense
    deterministic ranks, sorted distances, and — the PQ-defining property —
    vectors with IDENTICAL embeddings (i and i+14 in this fixture) get
    identical codes, hence identical approximate distances to any query.
    (A recall assertion would be wrong here: 2-bit-per-subspace codebooks
    are intentionally coarse.)"""
    from xboard_spark.operators.similarity import knn_pq, pq_index

    out = knn_pq(vecs, n_queries=2, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1}
    for q_id, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        dists = [r.adist2 for r in rows]
        assert dists == sorted(dists)
    # identical vectors share codes
    _c1, codes, _vd = pq_index(vecs)
    code_map = {}
    for r in codes.collect():
        code_map.setdefault(r.vec_id, {})[r.s] = r.c
    for i in range(40 - 14):
        assert code_map[i] == code_map[i + 14] or (i % 14 != (i + 14) % 14), i
    for i in range(40):
        assert len(code_map[i]) == 8  # every subspace encoded
    # truly identical pairs (i, i+14 share parity and noise dim)
    for i in range(40 - 14):
        assert code_map[i] == code_map[i + 14], i


def test_lsh_buckets_arrow_matches_expression(vecs):
    """The Arrow-matmul bucket builder and the pure-expression builder must
    assign IDENTICAL buckets — the matmul is an execution strategy, not a
    semantics change (sign decisions compare against 4dp-rounded offsets,
    so summation order can't flip a bit off a boundary tie)."""
    a = {
        r.vec_id: (r.bucket_0, r.bucket_1, r.bucket_2, r.bucket_3)
        for r in similarity.lsh_corpus(vecs, arrow=True).collect()
    }
    e = {
        r.vec_id: (r.bucket_0, r.bucket_1, r.bucket_2, r.bucket_3)
        for r in similarity.lsh_corpus(vecs, arrow=False).collect()
    }
    assert a == e


def test_clear_index_caches_releases_and_rebuilds(docs, vecs):
    """After clearing, caches are empty, and queries still produce
    identical results (rebuild path works)."""
    import xboard_spark
    from xboard_spark.operators import dedup, similarity

    before = dedup.minhash_dedup_pairs(docs, tau=0.3).collect()
    clusters_before = dedup.dedup_clusters(docs, tau=0.3).collect()
    similarity.knn_lsh(vecs, n_queries=1, k=3).collect()
    assert dedup._CLUSTERS_CACHE  # cluster labels persisted alongside pairs
    released = xboard_spark.clear_index_caches()
    assert released > 0
    assert not dedup._INDEX_CACHE and not dedup._PAIRS_CACHE
    assert not dedup._CLUSTERS_CACHE
    assert not similarity._CORPUS_CACHE
    after = dedup.minhash_dedup_pairs(docs, tau=0.3).collect()
    assert after == before
    clusters_after = dedup.dedup_clusters(docs, tau=0.3).collect()
    assert clusters_after == clusters_before


def test_cluster_cache_hit_restores_last_rounds(docs):
    """``components_star.last_rounds`` must describe the frame a warm
    ``dedup_clusters`` call returns — not whatever unrelated invocation
    ran last (ADVICE r6: stale-observability trap for convergence
    diagnostics that read it after a cache hit)."""
    import xboard_spark

    xboard_spark.clear_index_caches()
    dedup.dedup_clusters(docs, tau=0.3).collect()
    recorded = dedup.components_star.last_rounds
    # clobber the diagnostic, as an unrelated components run would
    dedup.components_star.last_rounds = -999
    dedup.dedup_clusters(docs, tau=0.3)  # warm: cache hit, no star loop
    assert dedup.components_star.last_rounds == recorded
    xboard_spark.clear_index_caches()  # the rounds leave with the frame
    assert not dedup._CLUSTERS_CACHE


def test_min_label_components_converges_on_diameter6_chain(spark):
    """Round-3 verdict item: a chain-shaped component of diameter > 4 got
    non-minimal cluster ids under the old ``max_iters=4`` default with no
    error. Plant an explicit path 1-2-3-4-5-6-7 (diameter 6) and assert
    the default bound labels every node with the component minimum —
    matching what the recursive-CTE oracle ``dedup_clusters_sql``
    computes for the same edges."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    rows = dedup.min_label_components(pairs).collect()
    assert {r.doc_id for r in rows} == set(range(1, 8))
    assert all(r.cluster_id == 1 for r in rows)
    assert all(r.cluster_size == 7 for r in rows)


def test_min_label_components_insufficient_iters_detectable(spark):
    """Regression guard for the guard: with max_iters=4 the same chain
    must NOT fully converge — proving the planted graph actually
    exercises the diameter bound (if this starts passing, the chain no
    longer covers the invariant and the test above is vacuous)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    rows = dedup.min_label_components(pairs, max_iters=4).collect()
    assert any(r.cluster_id != 1 for r in rows)


def test_knn_label_vote_separable_clusters(vecs):
    """The vecs fixture is two orthogonal clusters with label == cluster,
    so a 5-neighbor majority vote must classify every query perfectly."""
    out = {r.label: r for r in similarity.knn_label_vote(vecs, n_queries=10, k=5).collect()}
    assert set(out) == {0, 1}
    assert all(r.n_correct == r.n_queries for r in out.values())
    assert sum(r.n_queries for r in out.values()) == 10


def test_knn_label_vote_detects_mislabeled(spark):
    """A vector planted in cluster 0's region but labeled 1 must be
    predicted 0 — its label row shows the accuracy miss."""
    rows = []
    for i in range(12):
        base = [0.0] * 8
        base[0 if i % 2 == 0 else 1] = 1.0
        base[2 + (i % 5)] = 0.2
        rows.append((i, [float(x) for x in base], i % 2))
    # vec 12: geometry of cluster 0 (axis 0), label 1 -> guaranteed miss
    bad = [0.0] * 8
    bad[0] = 1.0
    rows.append((12, [float(x) for x in bad], 1))
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.label: r for r in similarity.knn_label_vote(vecs, n_queries=13, k=3).collect()}
    assert out[0].n_correct == out[0].n_queries  # true cluster-0 queries fine
    assert out[1].n_correct == out[1].n_queries - 1  # the planted mislabel
