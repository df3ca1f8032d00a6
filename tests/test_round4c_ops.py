"""Planted-structure tests for the round-4 continuation operators:
filter_funnel (quality-gate ablation), canonical_docs (cluster
representative selection), ngram_novelty (per-doc train-overlap),
semantic_decontam (embedding-space contamination), activity_heatmap
(dow x hour profile)."""

from __future__ import annotations

import datetime

from xboard_spark.operators import curation, dedup, events, similarity
from xboard_spark.operators.sampling import with_split


def _mkdocs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def _sentence(n, prefix="w"):
    return " ".join(f"{prefix}{i} the and of to" for i in range(n))


def test_filter_funnel_planted(spark):
    # doc 1: passes every gate (long, alphabetic, stopword-rich, sane
    # token lengths); doc 2 fails ONLY min_tokens (short but otherwise
    # healthy); doc 3 fails alpha_ratio (digit soup) and, being all
    # [0-9]+ tokens with no stopwords, also the stopword gate.
    healthy = _sentence(20)  # 100 tokens incl stopwords
    docs = _mkdocs(
        spark,
        [
            (1, healthy, "en", "web"),
            (2, "short the and of to text", "en", "web"),
            (3, " ".join(str(1000 + i) for i in range(80)), "en", "web"),
        ],
    )
    rows = {r.gate: r for r in curation.filter_funnel(docs).collect()}
    assert list(rows) == [
        "min_tokens",
        "alpha_ratio",
        "stopword_ratio",
        "mean_token_len",
    ]
    assert rows["min_tokens"].n_fail_alone == 1  # doc 2
    assert rows["alpha_ratio"].n_fail_alone == 1  # doc 3
    assert rows["min_tokens"].n_pass_cum == 2  # docs 1, 3
    assert rows["alpha_ratio"].n_pass_cum == 1  # doc 1
    assert rows["mean_token_len"].n_pass_cum == 1  # doc 1 survives all
    # surviving token mass == doc 1's token count
    assert rows["mean_token_len"].tokens_pass_cum == 100


def test_filter_funnel_gate_order_is_cumulative(spark):
    # a doc failing gate 1 must NOT count toward any later cumulative
    # stage even if it passes gates 2-4
    docs = _mkdocs(spark, [(1, "the and of to tiny", "en", "web")])
    rows = {r.gate: r for r in curation.filter_funnel(docs).collect()}
    assert rows["min_tokens"].n_pass_cum == 0
    assert rows["stopword_ratio"].n_pass_cum == 0
    assert rows["stopword_ratio"].n_fail_alone == 0  # passes gate 3 alone


def test_canonical_docs_keeps_richest_member(spark):
    # docs 1/2/3 are near-identical (one cluster); doc 2 carries extra
    # tokens -> representative. docs 8/9 identical -> tie broken to min id.
    base = _sentence(30)
    docs = _mkdocs(
        spark,
        [
            (1, base, "en", "web"),
            (2, base + " extra tokens appended here now", "en", "web"),
            (3, base + " tiny", "en", "web"),
            (8, _sentence(25, "q"), "en", "web"),
            (9, _sentence(25, "q"), "en", "web"),
            (50, "completely unrelated singleton text", "en", "web"),
        ],
    )
    out = {r.cluster_id: r for r in dedup.canonical_docs(docs).collect()}
    big = out[1]
    assert big.rep_doc_id == 2 and big.n_members == 3 and big.n_removed == 2
    pair = out[8]
    assert pair.rep_doc_id == 8 and pair.n_members == 2  # tie -> min doc_id
    assert 50 not in out  # singletons never reach the pair graph


def test_ngram_novelty_copy_vs_fresh(spark):
    # learn the hash split on 40 unique docs, then replant: one test doc
    # becomes a verbatim copy of a train doc (novelty -> 0), the others
    # stay unique (novelty -> 1)
    rows = [
        (i, " ".join(f"d{i}x{j}" for j in range(60)), "en", "web")
        for i in range(40)
    ]
    split = {
        r.doc_id: r.split
        for r in with_split(_mkdocs(spark, rows), 10)
        .select("doc_id", "split")
        .collect()
    }
    test_ids = [i for i in range(40) if split[i] == "test"]
    train_ids = [i for i in range(40) if split[i] == "train"]
    assert test_ids and train_ids
    copy_id = test_ids[0]
    planted = [
        (i, rows[train_ids[0]][1] if i == copy_id else rows[i][1], "en", "web")
        for i in range(40)
    ]
    out = {
        r.doc_id: r for r in dedup.ngram_novelty(_mkdocs(spark, planted)).collect()
    }
    assert out[copy_id].novelty == 0.0
    for t in test_ids[1:]:
        assert out[t].novelty == 1.0
        assert out[t].n_overlap == 0
    assert set(out) == set(test_ids)  # train docs never scored


def test_semantic_decontam_planted(spark):
    # test vec 0 duplicates train vec 100 exactly -> contaminated, cosine 1;
    # test vec 1 is orthogonal to every train vector -> clean
    d = 4
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0, 0.0, 0.0, 1.0], 0),
            (100, [1.0, 0.0, 0.0, 0.0], 1),
            (101, [0.0, 1.0, 0.0, 0.0], 1),
            (102, [0.5, 0.5, 0.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r.q_id: r
        for r in similarity.semantic_decontam(emb, n_test=2, tau=0.99).collect()
    }
    assert out[0].train_id == 100
    assert out[0].is_contaminated == 1
    assert abs(out[0].max_cosine - 1.0) < 1e-9
    assert out[1].is_contaminated == 0
    assert out[1].max_cosine == 0.0
    assert len(out) == 2 and d == 4


def test_activity_heatmap_planted(spark):
    # 3 events Sunday 13h (2 users), 1 event Monday 01h -> two cells with
    # exact counts; shares sum to 1
    sun, mon = datetime.datetime(2026, 8, 16, 13, 5), datetime.datetime(
        2026, 8, 17, 1, 0
    )
    ev = spark.createDataFrame(
        [
            (1, sun, 10, "view", 1.0, "{}"),
            (2, sun, 10, "view", 1.0, "{}"),
            (3, sun, 11, "view", 1.0, "{}"),
            (4, mon, 12, "click", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    rows = events.activity_heatmap(ev).collect()
    cells = {(r.dow, r.hour): r for r in rows}
    assert cells[(1, 13)].n_events == 3 and cells[(1, 13)].n_users == 2
    assert cells[(2, 1)].n_events == 1 and cells[(2, 1)].n_users == 1
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-12


def test_key_skew_profile_planted(spark):
    from xboard_spark.operators.profiling import key_skew_profile

    rows = [(i, 7) for i in range(5)] + [(10, 3), (11, 3), (12, 9)]
    df = spark.createDataFrame(rows, "o_orderkey long, o_custkey long")
    out = key_skew_profile(df, key="o_custkey", top=2).collect()
    assert [(r.rank, r.key, r.n_rows) for r in out] == [(1, 7, 5), (2, 3, 2)]
    assert abs(out[0].share - 5 / 8) < 1e-12
    assert abs(out[1].share - 2 / 8) < 1e-12


def _mkev(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_traffic_anomalies_planted(spark):
    import datetime as dt

    rows, eid = [], 0
    # hour 13: counts [10,10,10,10,30] across 5 days -> day-5 z = +2.0
    for day in range(1, 6):
        n = 30 if day == 5 else 10
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(2026, 8, day, 13, 0), 1, "view", 1.0, "{}"))
    # hour 7: constant counts -> std 0 -> never flagged
    for day in range(1, 6):
        eid += 1
        rows.append((eid, dt.datetime(2026, 8, day, 7, 0), 1, "view", 1.0, "{}"))
    out = events.traffic_anomalies(_mkev(spark, rows), z=2.0).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.event_date, r.hour, r.n_events) == (dt.date(2026, 8, 5), 13, 30)
    assert abs(r.hour_mean - 14.0) < 1e-12
    assert abs(r.hour_std - 8.0) < 1e-12
    assert abs(r.zscore - 2.0) < 1e-12


def test_temporal_split_audit_planted(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(1), 1, "view", 1.0, "{}"),
        (3, t(2), 1, "view", 1.0, "{}"),
        (4, t(3), 1, "view", 1.0, "{}"),
        (5, t(100), 2, "view", 1.0, "{}"),
        (6, t(101), 2, "view", 1.0, "{}"),
        (7, t(4), 3, "view", 1.0, "{}"),
        (8, t(102), 3, "view", 1.0, "{}"),
    ]
    # sorted seconds [0,1,2,3,4,100,101,102]; p80 idx 5.6 -> 100.6s cutoff
    r = events.temporal_split_audit(_mkev(spark, rows), train_frac=0.8).collect()[0]
    assert r.n_train_events == 6 and r.n_test_events == 2
    assert r.n_train_users == 3 and r.n_test_users == 2
    assert r.n_leaky_users == 2  # users 2 and 3 straddle the cutoff


def test_session_paths_planted(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 3, 1, 10, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        # user 1 session A: 4 events, path truncated to first 3
        (1, m(0), 1, "view", 1.0, "{}"),
        (2, m(1), 1, "click", 1.0, "{}"),
        (3, m(2), 1, "purchase", 1.0, "{}"),
        (4, m(3), 1, "error", 1.0, "{}"),
        # user 1 session B after a 40-minute gap
        (5, m(43), 1, "view", 1.0, "{}"),
        # user 2: single-event session
        (6, m(0), 2, "view", 1.0, "{}"),
    ]
    out = [(r.path, r.n_sessions) for r in events.session_paths(_mkev(spark, rows)).collect()]
    assert out == [("view", 2), ("view>click>purchase", 1)]


def test_session_paths_tie_on_simultaneous_events(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 3, 1, 10, 0)
    # identical ts -> event_id breaks the order deterministically
    rows = [
        (2, t0, 1, "click", 1.0, "{}"),
        (1, t0, 1, "view", 1.0, "{}"),
    ]
    out = events.session_paths(_mkev(spark, rows)).collect()
    assert out[0].path == "view>click"


def test_shipping_lag_stats_planted(spark):
    import datetime as dt

    orders = spark.createDataFrame(
        [
            (1, 10, "O", 100.0, dt.datetime(2026, 1, 1), "1-URGENT"),
            (2, 11, "O", 100.0, dt.datetime(2026, 1, 1), "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            (1, dt.datetime(2026, 1, 3)),
            (1, dt.datetime(2026, 1, 5)),
            (2, dt.datetime(2026, 1, 2)),
        ],
        "l_orderkey long, l_shipdate timestamp",
    )
    from xboard_spark.operators import tpch

    out = {r.o_orderpriority: r for r in tpch.shipping_lag_stats(orders, li).collect()}
    u = out["1-URGENT"]
    assert (u.n_items, u.total_lag_days, u.max_lag_days) == (2, 6, 4)
    assert abs(u.avg_lag_days - 3.0) < 1e-12
    assert out["2-HIGH"].n_items == 1 and out["2-HIGH"].max_lag_days == 1


def test_lsh_candidate_profile_planted(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    docs = _mkdocs(
        spark,
        [
            (1, base, "en", "web"),
            (2, base, "en", "web"),  # identical -> candidate, jaccard 1.0
            (3, " ".join(f"other{i}" for i in range(40)), "en", "web"),
        ],
    )
    out = {r.decile: r.n_pairs for r in dedup.lsh_candidate_profile(docs).collect()}
    assert out == {10: 1}


def test_fk_integrity_audit_planted(spark):
    import datetime as dt

    from xboard_spark.operators.profiling import fk_integrity_audit

    orders = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99)],  # custkey 99 has no customer row
        "o_orderkey long, o_custkey long",
    )
    li = spark.createDataFrame(
        [(1,), (1,), (2,), (7,)],  # orderkey 7 is an orphan
        "l_orderkey long",
    )
    cust = spark.createDataFrame([(10,)], "c_custkey long")
    out = {r.relationship: r for r in fk_integrity_audit(li, orders, cust).collect()}
    assert out["lineitem->orders"].n_child_rows == 4
    assert out["lineitem->orders"].n_orphans == 1
    assert out["orders->customer"].n_child_rows == 3
    assert out["orders->customer"].n_orphans == 1
    assert dt is not None


def test_volume_gaps_planted(spark):
    import datetime as dt

    from xboard_spark.operators.profiling import volume_gaps

    rows, eid = [], 0
    # day 1: 10 events, day 2: 10 (healthy), day 5: 30 (gap + spike)
    for day, n in [(1, 10), (2, 10), (5, 30)]:
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, dt.datetime(2026, 5, day, 12, 0), 1, "view", 1.0, "{}")
            )
    out = {r.event_date: r for r in volume_gaps(_mkev(spark, rows)).collect()}
    assert len(out) == 3
    d1 = out[dt.date(2026, 5, 1)]
    assert d1.is_anomaly == 0 and d1.prev_date is None
    d2 = out[dt.date(2026, 5, 2)]
    assert d2.is_anomaly == 0 and abs(d2.dod_ratio - 1.0) < 1e-12
    d5 = out[dt.date(2026, 5, 5)]
    assert d5.is_anomaly == 1 and d5.gap_days == 3 and d5.dod_ratio == 3.0


def test_user_erasure_roundtrip(spark):
    from xboard_spark.operators.governance import erase_users, user_erasure_audit

    ev = _mkev(
        spark,
        [
            (1, __import__("datetime").datetime(2026, 1, 1), 97, "view", 1.0, "{}"),
            (2, __import__("datetime").datetime(2026, 1, 1), 5, "view", 1.0, "{}"),
            (3, __import__("datetime").datetime(2026, 1, 1), 194, "view", 1.0, "{}"),
        ],
    )
    orders = spark.createDataFrame([(1, 97), (2, 3)], "o_orderkey long, o_custkey long")
    audit = {r.table_name: r for r in user_erasure_audit(ev, orders).collect()}
    assert audit["events"].n_in_scope == 2  # users 97, 194
    assert audit["orders"].n_in_scope == 1
    assert abs(audit["events"].scope_share - 2 / 3) < 1e-12
    ids = spark.createDataFrame([(97,), (194,)], "id long")
    left = erase_users(ev, "user_id", ids).select("user_id").collect()
    assert sorted(r.user_id for r in left) == [5]


def test_quantile_sketch_error_bounds(spark):
    # values 1..1000 for one type: exact p50 = 500.5; the sketch must
    # honor its rank contract, surfaced as the within_bound booleans
    # (the hashed invariant-oracle surface since round 9)
    import datetime as dt

    rows = [
        (i, dt.datetime(2026, 1, 1), 1, "view", float(i % 1000 + 1), "{}")
        for i in range(2000)
    ]
    r = events.quantile_sketch_error(_mkev(spark, rows)).collect()[0]
    assert r.n_values == 2000
    assert abs(r.exact_p50 - 500.5) < 1e-9
    assert r.p50_within_bound and r.p95_within_bound


def test_quantile_sketch_rank_bound_tiny_group(spark):
    # the n=2 spread-values case from the docstring: the exact-rank
    # element (1.0) is far from the p50 interpolation (50.5) in VALUE
    # space, but honors the RANK contract — the boolean must hold (a
    # value-space bound would flap here, which is why the check is
    # rank-space)
    import datetime as dt

    rows = [
        (1, dt.datetime(2026, 1, 1), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2026, 1, 1), 2, "view", 100.0, "{}"),
    ]
    r = events.quantile_sketch_error(_mkev(spark, rows)).collect()[0]
    assert r.n_values == 2
    assert abs(r.exact_p50 - 50.5) < 1e-9
    assert r.p50_within_bound and r.p95_within_bound


def test_ivf_delta_assign_planted(spark):
    # base: two clusters near +e1 and -e1 (ids < 100); new arrivals land
    # in predictable cells and must NOT change base counts
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = np.zeros(8)
        v[0] = 1.0 if i % 2 == 0 else -1.0
        v += rng.normal(0, 0.01, 8)
        rows.append((i, [float(x) for x in v], 0))
    for i in range(100, 110):  # new arrivals, all near +e1
        v = np.zeros(8)
        v[0] = 1.0
        v += rng.normal(0, 0.01, 8)
        rows.append((i, [float(x) for x in v], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.ivf_delta_assign(emb, watermark=100, n_cells=4)
    rows_out = out.collect()
    assert sum(r.n_base for r in rows_out) == 40
    assert sum(r.n_new for r in rows_out) == 10
    # all 10 new arrivals join a single (the +e1) cell
    assert max(r.n_new for r in rows_out) == 10


def test_brand_supplier_diversity_planted(spark):
    li = spark.createDataFrame(
        [(1, 100), (1, 101), (2, 100), (9, 300)],
        "l_partkey long, l_suppkey long",
    )
    part = spark.createDataFrame(
        [(1, "Brand#A"), (2, "Brand#A"), (9, "Brand#B")],
        "p_partkey long, p_brand string",
    )
    from xboard_spark.operators import tpch

    out = {r.p_brand: r for r in tpch.brand_supplier_diversity(li, part).collect()}
    a = out["Brand#A"]
    assert (a.n_lineitems, a.n_suppliers, a.n_parts) == (3, 2, 2)
    b = out["Brand#B"]
    assert (b.n_lineitems, b.n_suppliers, b.n_parts) == (1, 1, 1)


def test_revenue_change_forecast_planted(spark):
    import datetime as dt

    from xboard_spark.operators import tpch

    mk = lambda ship, disc, qty, price: (  # noqa: E731
        dt.datetime(ship, 6, 1),
        disc,
        float(qty),
        price,
    )
    rows = [
        mk(1995, 0.06, 10, 100.0),   # in: 6.0
        mk(1995, 0.05, 23, 200.0),   # in (boundary discount, qty 23): 10.0
        mk(1995, 0.06, 24, 100.0),   # out: qty cap is strict
        mk(1995, 0.04, 10, 100.0),   # out: below band
        mk(1996, 0.06, 10, 100.0),   # out: wrong year
    ]
    li = spark.createDataFrame(
        [(s, d, q, p) for s, d, q, p in rows],
        "l_shipdate timestamp, l_discount double, l_quantity double,"
        " l_extendedprice double",
    )
    r = tpch.revenue_change_forecast(li).collect()[0]
    assert r.n_lineitems == 2
    assert abs(r.potential_revenue - 16.0) < 1e-9


def test_reading_level_planted(spark):
    from xboard_spark.operators import text as text_ops

    docs = _mkdocs(
        spark,
        [
            # 2 sentences, 6 tokens, syllable groups: see/spot/run x2 = 6
            (1, "See spot run. See spot run!", "en", "web"),
            # no terminal punctuation -> sentence floor of 1
            (2, "word", "en", "web"),
        ],
    )
    out = {r.doc_id: r for r in text_ops.reading_level(docs).collect()}
    d1 = out[1]
    assert (d1.n_sentences, d1.n_tokens) == (2, 6)
    assert d1.n_syllables == 6  # ee, o, u x2
    expected = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
    assert abs(d1.flesch - expected) < 1e-9
    assert out[2].n_sentences == 1 and out[2].n_tokens == 1


def test_simhash_neardup_planted(spark):
    # doc 2 = doc 1 with one token changed out of 40 -> tiny Hamming gap;
    # doc 3 is disjoint vocabulary -> never paired with 1/2
    base_toks = [f"tok{i}" for i in range(40)]
    changed = base_toks[:]
    changed[20] = "swapped"
    docs = _mkdocs(
        spark,
        [
            (1, " ".join(base_toks), "en", "web"),
            (2, " ".join(changed), "en", "web"),
            (3, " ".join(f"zz{i}" for i in range(40)), "en", "web"),
        ],
    )
    pairs = dedup.simhash_neardup_pairs(docs, max_hamming=3).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}
    assert pairs[0].hamming <= 3


def test_simhash_neardup_identical_docs_hamming_zero(spark):
    text = " ".join(f"w{i}" for i in range(30))
    docs = _mkdocs(spark, [(1, text, "en", "web"), (2, text, "en", "web")])
    pairs = dedup.simhash_neardup_pairs(docs).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(1, 2, 0)]


def test_part_degree_profile_planted(spark):
    from xboard_spark.operators import graph

    # order 1 basket {10,20,30} -> triangle, each degree 2;
    # order 2 basket {10,40} -> edge, 40 gets degree 1, 10 rises to 3
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (2, 10), (2, 40)],
        "l_orderkey long, l_partkey long",
    )
    out = {r.degree: r.n_parts for r in graph.part_degree_profile(li).collect()}
    assert out == {1: 1, 2: 2, 3: 1}


def test_chunk_dedup_stats_planted(spark):
    from xboard_spark.operators import text as text_ops

    # chunk_size=4: doc 1 tokens a0..a7 -> 2 chunks; doc 2 repeats doc 1's
    # first chunk exactly; doc 3 all-unique -> 1 chunk of 4
    c1 = "a0 a1 a2 a3"
    docs = _mkdocs(
        spark,
        [
            (1, c1 + " a4 a5 a6 a7", "en", "web"),
            (2, c1, "en", "web"),
            (3, "u0 u1 u2 u3", "en", "web"),
        ],
    )
    r = text_ops.chunk_dedup_stats(docs, chunk_size=4).collect()[0]
    assert r.n_chunks == 4
    assert r.n_distinct_chunks == 3
    assert r.n_dup_chunks == 2 and r.n_dup_groups == 1
    assert abs(r.dup_frac - 0.5) < 1e-12


def test_conversion_attribution_planted(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 4, 1, 10, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        # user 1: view -> click -> purchase (credit: click)
        (1, m(0), 1, "view", 1.0, "{}"),
        (2, m(1), 1, "click", 1.0, "{}"),
        (3, m(2), 1, "purchase", 50.0, "{}"),
        # same user, NEW session opening with a purchase (credit: direct)
        (4, m(60), 1, "purchase", 10.0, "{}"),
        # user 2: two purchases; second credits the view BETWEEN them
        (5, m(0), 2, "purchase", 5.0, "{}"),   # direct
        (6, m(1), 2, "view", 1.0, "{}"),
        (7, m(2), 2, "purchase", 20.0, "{}"),  # view
    ]
    out = {r.touch: r for r in events.conversion_attribution(_mkev(spark, rows)).collect()}
    assert out["click"].n_purchases == 1
    assert abs(out["click"].attributed_value - 50.0) < 1e-9
    assert out["direct"].n_purchases == 2
    assert abs(out["direct"].attributed_value - 15.0) < 1e-9
    assert out["view"].n_purchases == 1
    assert abs(sum(r.purchase_share for r in out.values()) - 1.0) < 1e-12


def test_lsh_recall_audit_planted(spark):
    # two identical docs -> one true pair; minhash banding MUST recall an
    # identical pair (identical signatures share every band)
    text = " ".join(f"tok{i}" for i in range(50))
    docs = _mkdocs(
        spark,
        [
            (1, text, "en", "web"),
            (2, text, "en", "web"),
            (3, " ".join(f"x{i}" for i in range(50)), "en", "web"),
        ],
    )
    r = dedup.lsh_recall_audit(docs).collect()[0]
    assert r.n_true_pairs == 1 and r.n_recalled == 1
    assert r.recall == 1.0


def test_lsh_recall_audit_empty_corpus_guard(spark):
    docs = _mkdocs(spark, [(1, "one tiny doc only here", "en", "web")])
    r = dedup.lsh_recall_audit(docs).collect()[0]
    assert (r.n_true_pairs, r.n_recalled, r.recall) == (0, 0, 0.0)


def test_events_json_variant_matches_classic_path(spark):
    # the variant path and get_json_object path must agree row-for-row
    rows = [
        (1, __import__("datetime").datetime(2026, 1, 1), 1, "view", 1.0, '{"k": 7}'),
        (2, __import__("datetime").datetime(2026, 1, 1), 1, "view", 1.0, '{"k": 9}'),
        (3, __import__("datetime").datetime(2026, 1, 1), 1, "click", 1.0, '{"x": 1}'),
    ]
    ev = _mkev(spark, rows)
    classic = {tuple(r) for r in events.events_json_props(ev).collect()}
    variant = {tuple(r) for r in events.events_json_variant(ev).collect()}
    assert classic == variant
    v = {r.event_type: r for r in events.events_json_variant(ev).collect()}
    assert v["view"].avg_k == 8.0 and v["click"].distinct_k == 0


def test_copurchase_triangles_planted(spark):
    from xboard_spark.operators import graph

    # order 1 basket {1,2,3} -> one triangle; order 2 adds edge (3,4):
    # edges 4, wedges: deg(3)=3 -> 3, deg(1)=deg(2)=2 -> 1 each, deg(4)=1
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3), (2, 3), (2, 4)],
        "l_orderkey long, l_partkey long",
    )
    r = graph.copurchase_triangles(li).collect()[0]
    assert r.n_edges == 4 and r.n_triangles == 1
    assert r.n_wedges == 3 + 1 + 1  # C(3,2) + C(2,2 choose)... deg 2 nodes give 1 each
    assert abs(r.clustering_coefficient - 3.0 / 5.0) < 1e-12


def test_copurchase_triangles_star_has_none(spark):
    from xboard_spark.operators import graph

    # hub basket pairs only via separate orders: star graph, no triangle
    li = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12), (3, 10), (3, 13)],
        "l_orderkey long, l_partkey long",
    )
    r = graph.copurchase_triangles(li).collect()[0]
    assert r.n_triangles == 0 and r.clustering_coefficient == 0.0


def test_dataset_card_planted(spark):
    docs = _mkdocs(
        spark,
        [
            (1, "alpha beta gamma", "en", "web"),
            (2, "alpha beta gamma", "en", "books"),  # exact dup of 1
            (3, "uno dos", "es", "web"),
        ],
    )
    r = curation.dataset_card(docs).collect()[0]
    assert (r.n_docs, r.n_langs, r.n_sources) == (3, 2, 2)
    assert r.total_tokens == 8
    assert abs(r.avg_doc_tokens - 8 / 3) < 1e-12
    assert r.exact_dup_docs == 2


def test_similar_docs_planted(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    docs = _mkdocs(
        spark,
        [
            (0, base, "en", "web"),                       # query
            (1, base + " tail extra words here", "en", "web"),  # most similar
            (2, " ".join(f"tok{i}" for i in range(20)), "en", "web"),  # partial
            (3, " ".join(f"zz{i}" for i in range(40)), "en", "web"),   # disjoint
        ],
    )
    out = dedup.similar_docs(docs, query_doc=0, k=5).collect()
    assert out[0].doc_id == 1               # highest overlap first
    assert out[0].jaccard > out[1].jaccard
    assert {r.doc_id for r in out} == {1, 2}  # disjoint doc never appears


def test_prospect_customers_planted(spark):
    import datetime as dt

    from xboard_spark.operators import tpch

    cust = spark.createDataFrame(
        [
            (1, "a", 0, 1000.0, "B"),   # rich + dormant -> prospect
            (2, "b", 0, 1000.0, "B"),   # rich but recently active
            (3, "c", 1, 10.0, "B"),     # below threshold (avg=670)
        ],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [
            (1, 1, "O", 5.0, dt.datetime(2000, 6, 1), "1-URGENT"),   # old
            (2, 2, "O", 5.0, dt.datetime(2001, 6, 1), "1-URGENT"),   # recent
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = tpch.prospect_customers(cust, orders).collect()
    assert [(r.c_nationkey, r.n_prospects) for r in out] == [(0, 1)]
    assert abs(out[0].total_acctbal - 1000.0) < 1e-9


def test_segment_priority_chi2_independent_planted(spark):
    import datetime as dt

    from xboard_spark.operators import tpch

    # perfectly independent 2x2 design -> chi2 exactly 0
    cust = spark.createDataFrame(
        [(1, "a", 0, 1.0, "S1"), (2, "b", 0, 1.0, "S2")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    rows = []
    ok = 0
    for ck in (1, 2):
        for pri in ("P1", "P2"):
            for _ in range(5):
                ok += 1
                rows.append((ok, ck, "O", 1.0, dt.datetime(2001, 1, 1), pri))
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    r = tpch.segment_priority_chi2(cust, orders).collect()[0]
    assert (r.n_cells, r.dof) == (4, 1)
    assert r.chi2 == 0.0


def test_quality_weighted_sample_planted(spark):
    from xboard_spark.operators import sampling

    # long docs (>= full_weight_tokens) are ALWAYS kept; empty docs never
    long_text = " ".join(f"w{i}" for i in range(250))
    docs = _mkdocs(
        spark,
        [(i, long_text, "en", "web") for i in range(10)]
        + [(100 + i, "", "en", "web") for i in range(5)],
    )
    out = {
        (r.lang, r.source): r
        for r in sampling.quality_weighted_sample(docs).collect()
    }
    r = out[("en", "web")]
    assert r.n_docs == 15
    assert r.n_kept == 10  # every long doc survives, no empty doc can
    assert r.kept_tokens == 10 * 250


def test_quality_weighted_sample_deterministic(spark):
    from xboard_spark.operators import sampling

    docs = _mkdocs(
        spark,
        [(i, " ".join(f"w{j}" for j in range(i % 60)), "en", "web") for i in range(200)],
    )
    a = sampling.quality_weighted_sample(docs).collect()
    b = sampling.quality_weighted_sample(docs).collect()
    assert a == b


def test_first_purchase_latency_planted(spark):
    import datetime as dt

    t = lambda d, h=0: dt.datetime(2026, 1, 1 + d, h)  # noqa: E731
    rows = [
        # user 1: first event day 0, first purchase day 2 -> bucket 2
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(2), 1, "purchase", 1.0, "{}"),
        (3, t(3), 1, "purchase", 1.0, "{}"),  # later purchase ignored
        # user 2: purchase is the first event -> bucket 0
        (4, t(1), 2, "purchase", 1.0, "{}"),
        # user 3: never purchases -> bucket -1
        (5, t(0), 3, "view", 1.0, "{}"),
    ]
    out = {r.days_to_purchase: r.n_users for r in events.first_purchase_latency(_mkev(spark, rows)).collect()}
    assert out == {-1: 1, 0: 1, 2: 1}


def test_bounce_rate_by_dow_planted(spark):
    import datetime as dt

    sun = dt.datetime(2026, 8, 16, 12, 0)  # Sunday -> dow 1
    rows = [
        # user 1: two-event session (not a bounce)
        (1, sun, 1, "view", 1.0, "{}"),
        (2, sun + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        # user 1 again after a gap: single-event session (bounce)
        (3, sun + dt.timedelta(hours=2), 1, "view", 1.0, "{}"),
        # user 2: bounce
        (4, sun, 2, "view", 1.0, "{}"),
    ]
    out = {r.dow: r for r in events.bounce_rate_by_dow(_mkev(spark, rows)).collect()}
    r = out[1]
    assert (r.n_sessions, r.n_bounces) == (3, 2)
    assert abs(r.bounce_rate - 2 / 3) < 1e-12


def test_embedding_spectrum_rank_one(spark):
    # all variance on one axis -> top eigenvalue == trace, explained ~ 1
    rows = [(i, [float(i), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0], 0) for i in range(20)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from xboard_spark.operators.similarity import embedding_spectrum

    r = embedding_spectrum(emb).collect()[0]
    assert r.n_vecs == 20
    assert abs(r.explained_frac - 1.0) < 1e-3
    assert abs(r.top_eigenvalue - r.trace) < 1e-2


def test_embedding_spectrum_matches_numpy(spark):
    # alternating one-hot axes: the anti-correlated pair creates a
    # dominant (1,-1)/sqrt(2) direction; numpy ground truth: top eig
    # 19.25 of trace 23.375 (explained 0.8235). Also the case that
    # catches a symmetric start vector: all-ones is orthogonal to the
    # dominant eigenvector and 3 power iterations then report the WRONG
    # eigenpair (observed: 4.125 — the secondary eigenvalue).
    rows = []
    for i in range(20):
        v = [0.0] * 8
        v[i % 2] = float(1 + i // 2)
        rows.append((i, v, 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    from xboard_spark.operators.similarity import embedding_spectrum

    r = embedding_spectrum(emb).collect()[0]
    assert abs(r.trace - 23.375) < 1e-6
    assert abs(r.top_eigenvalue - 19.25) < 0.1
    assert abs(r.explained_frac - 0.8235) < 0.005


def test_ridge_probe_separable_and_exact(spark):
    import numpy as np

    from xboard_spark.operators.ml import ridge_probe

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        v = rng.normal(0, 0.2, 8)
        label = 0 if i % 2 == 0 else 1
        v[0] = 2.0 if label == 0 else -2.0  # separable on axis 0
        rows.append((i, [float(x) for x in v], label))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = ridge_probe(emb, positive_label=0).collect()[0]
    assert r.n_vecs == 60
    assert r.accuracy == 1.0   # linearly separable -> perfect probe
    assert abs(r.pos_rate - 0.5) < 1e-9
    assert r.rmse < 0.25


def test_ridge_probe_uninformative_space(spark):
    import numpy as np

    from xboard_spark.operators.ml import ridge_probe

    rng = np.random.default_rng(12)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 8)], i % 2) for i in range(80)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = ridge_probe(emb, positive_label=0).collect()[0]
    # random features cannot beat chance by much; rmse stays near 0.5
    assert 0.35 < r.rmse < 0.6


def test_kmeans_inertia_monotone_descent(spark):
    import numpy as np

    from xboard_spark.operators.similarity import kmeans_inertia

    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        center = np.zeros(8)
        center[i % 3] = 3.0  # three well-separated blobs
        v = center + rng.normal(0, 0.3, 8)
        rows.append((i, [float(x) for x in v], i % 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = kmeans_inertia(emb, n_cells=4, n_iters=2).collect()
    inertias = [r.inertia for r in sorted(out, key=lambda r: r.iteration)]
    assert len(inertias) == 3
    assert inertias[0] >= inertias[1] >= inertias[2]  # Lloyd descends
    assert inertias[2] < inertias[0]  # and actually improves from the seed


def test_unpivot_roundtrips_pivot_with_dense_zeros(spark):
    import datetime as dt

    from xboard_spark.operators import window_ops

    rows = [
        (1, dt.datetime(2026, 1, 1), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2026, 1, 1), 1, "click", 1.0, "{}"),
        (3, dt.datetime(2026, 1, 2), 1, "view", 1.0, "{}"),
    ]
    out = window_ops.daily_type_unpivot(_mkev(spark, rows)).collect()
    # dense grid: 2 days x 5 types, zeros filled
    assert len(out) == 10
    vals = {(str(r.event_date), r.event_type): r.n_events for r in out}
    assert vals[("2026-01-01", "view")] == 1
    assert vals[("2026-01-01", "click")] == 1
    assert vals[("2026-01-02", "click")] == 0
    assert sum(vals.values()) == 3  # melt conserves the event count


def test_text_embedding_alignment_planted(spark):
    # near-dup text pair (0,1) shares an aligned embedding direction; the
    # background consecutive pairs are orthogonal -> positive lift
    base = " ".join(f"tok{i}" for i in range(40))
    docs = _mkdocs(
        spark,
        [
            (0, base, "en", "web"),
            (1, base + " tail", "en", "web"),
            (2, " ".join(f"x{i}" for i in range(40)), "en", "web"),
            (3, " ".join(f"y{i}" for i in range(40)), "en", "web"),
        ],
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [1.0, 0.1, 0.0, 0.0], 0),  # near-dup text -> close vector
            (2, [0.0, 1.0, 0.0, 0.0], 1),
            (3, [0.0, 0.0, 1.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    from xboard_spark.operators.similarity import text_embedding_alignment

    r = text_embedding_alignment(docs, emb).collect()[0]
    assert r.n_dup_pairs == 1
    assert r.avg_dup_cosine > 0.99
    assert r.n_base_pairs == 3
    assert r.lift > 0.5  # dup pair far above the mostly-orthogonal background


def test_logistic_probe_separable(spark):
    import numpy as np

    from xboard_spark.operators.ml import logistic_probe

    rng = np.random.default_rng(21)
    rows = []
    for i in range(60):
        v = rng.normal(0, 0.2, 8)
        label = 0 if i % 2 == 0 else 1
        v[0] = 1.5 if label == 0 else -1.5
        rows.append((i, [float(x) for x in v], label))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    r = logistic_probe(emb, positive_label=0).collect()[0]
    assert r.n_vecs == 60 and r.n_iters == 3
    assert r.accuracy == 1.0
    assert r.log_loss < 0.2  # Newton converges fast on separable data


def test_logistic_probe_beats_fewer_iterations(spark):
    import numpy as np

    from xboard_spark.operators.ml import logistic_probe

    rng = np.random.default_rng(22)
    rows = []
    for i in range(80):
        label = i % 2
        v = rng.normal(0, 1.0, 8)
        v[0] += 1.2 if label == 0 else -1.2  # overlapping but informative
        rows.append((i, [float(x) for x in v], label))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    l1 = logistic_probe(emb, positive_label=0, n_iters=1).collect()[0]
    l3 = logistic_probe(emb, positive_label=0, n_iters=3).collect()[0]
    assert l3.log_loss <= l1.log_loss + 1e-9  # Newton descends


def test_bootstrap_mean_ci_brackets_point_and_is_deterministic(spark):
    import datetime as dt

    from xboard_spark.operators.sampling import bootstrap_mean_ci

    orders = spark.createDataFrame(
        [
            (i, i % 7, "O", 100.0 + (i % 50), dt.datetime(2026, 1, 1), "1-URGENT")
            for i in range(400)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    a = bootstrap_mean_ci(orders).collect()[0]
    b = bootstrap_mean_ci(orders).collect()[0]
    assert a == b  # hash coins -> identical replicas on rerun
    assert a.n_rows == 400 and a.n_replicas == 32
    assert a.ci_lo <= a.point_mean <= a.ci_hi
    # interval width is sane for n=400, sd ~14.4: a few standard errors
    assert 0.1 < (a.ci_hi - a.ci_lo) < 10.0


def test_ann_recall_audit_perfect_on_separated_clusters(spark):
    import numpy as np

    from xboard_spark.operators import similarity as sim
    import xboard_spark

    xboard_spark.clear_index_caches()
    rng = np.random.default_rng(31)
    rows = []
    for i in range(80):
        v = np.zeros(64)
        v[i % 4] = 5.0  # four far-apart clusters
        v += rng.normal(0, 0.05, 64)
        rows.append((i, [float(x) for x in v], i % 4))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.method: r for r in sim.ann_recall_audit(emb, n_queries=4, k=3).collect()}
    assert set(out) == {"ivf", "lsh", "pq"}
    for r in out.values():
        assert 0.0 <= r.recall <= 1.0
        assert r.n_hits == int(r.recall * 12 + 0.5)
    # well-separated clusters: the learned IVF cells isolate them
    assert out["ivf"].recall >= 0.5
    xboard_spark.clear_index_caches()


def test_customer_entity_clusters_transitive_chain(spark):
    from xboard_spark.operators.linkage import customer_entity_clusters

    # names form a chain: AAAA ~ AAAB ~ AABB (each step edit dist 1, ends
    # dist 2) -> ONE entity of 3, which pairwise output cannot express
    cust = spark.createDataFrame(
        [
            (1, "AAAA", 0, 1.0, "B"),
            (2, "AAAB", 0, 1.0, "B"),
            (3, "AABB", 0, 1.0, "B"),
            (9, "ZZZZ", 0, 1.0, "B"),   # singleton: never clustered
            (10, "AAAA", 1, 1.0, "B"),  # same name, other nation: blocked
        ],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    out = customer_entity_clusters(cust).collect()
    assert [(r.entity_id, r.n_members, r.rep_custkey) for r in out] == [(1, 3, 1)]


def test_linkage_caches_warm_identical_and_released(spark):
    """Round-7: the verified fuzzy pair set and the entity-cluster labels
    are cached per (corpus plan, max_dist) — warm calls must return
    bit-identical rows, restore ``components_star.last_rounds``, and
    ``clear_index_caches`` must release and rebuild both."""
    import xboard_spark
    from xboard_spark.operators import linkage
    from xboard_spark.operators.dedup import components_star

    cust = spark.createDataFrame(
        [
            (1, "AAAA", 0, 1.0, "B"),
            (2, "AAAB", 0, 1.0, "B"),
            (3, "AABB", 0, 1.0, "B"),
            (9, "ZZZZ", 0, 1.0, "B"),
        ],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    xboard_spark.clear_index_caches()
    pairs_cold = linkage.fuzzy_customer_pairs(cust).collect()
    clusters_cold = linkage.customer_entity_clusters(cust).collect()
    assert linkage._FUZZY_PAIRS_CACHE and linkage._ENTITY_CLUSTERS_CACHE
    recorded = components_star.last_rounds
    components_star.last_rounds = -999  # as an unrelated run would leave it
    assert linkage.fuzzy_customer_pairs(cust).collect() == pairs_cold
    assert linkage.customer_entity_clusters(cust).collect() == clusters_cold
    assert components_star.last_rounds == recorded
    xboard_spark.clear_index_caches()
    assert not linkage._FUZZY_PAIRS_CACHE
    assert not linkage._ENTITY_CLUSTERS_CACHE
    assert linkage.fuzzy_customer_pairs(cust).collect() == pairs_cold
    assert linkage.customer_entity_clusters(cust).collect() == clusters_cold


def test_orders_mom_growth_planted(spark):
    import datetime as dt

    orders = spark.createDataFrame(
        [
            (1, 1, "O", 100.0, dt.datetime(2026, 1, 10), "1-URGENT"),
            (2, 1, "O", 100.0, dt.datetime(2026, 1, 20), "1-URGENT"),
            (3, 1, "O", 300.0, dt.datetime(2026, 2, 5), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    from xboard_spark.operators import window_ops

    out = {str(r.month): r for r in window_ops.orders_mom_growth(orders).collect()}
    jan, feb = out["2026-01-01"], out["2026-02-01"]
    assert jan.mom_growth is None and jan.revenue == 200.0
    assert abs(feb.mom_growth - 0.5) < 1e-12  # 200 -> 300


def test_seasonal_naive_error_planted(spark):
    import datetime as dt

    rows, eid = [], 0
    # hour 9 on day 1: 10 events; on day 8 (one week later): 13 events
    for day, n in [(1, 10), (8, 13)]:
        for _ in range(n):
            eid += 1
            rows.append((eid, dt.datetime(2026, 3, day, 9, 0), 1, "view", 1.0, "{}"))
    r = events.seasonal_naive_error(_mkev(spark, rows)).collect()[0]
    assert r.n_hours == 1
    assert abs(r.mae - 3.0) < 1e-12
    assert abs(r.mape - 3 / 13) < 1e-6


def test_effective_tokens_planted(spark):
    # doc 2 duplicates doc 1 (8 tokens); doc 3 shares doc 1's first
    # 4-token chunk but adds a unique second chunk
    c1, c2 = "a0 a1 a2 a3", "b0 b1 b2 b3"
    docs = _mkdocs(
        spark,
        [
            (1, f"{c1} {c2}", "en", "web"),
            (2, f"{c1} {c2}", "en", "web"),   # exact dup
            (3, f"{c1} u0 u1 u2 u3", "en", "web"),
        ],
    )
    r = curation.effective_tokens(docs, chunk_size=4).collect()[0]
    assert r.total_tokens == 24
    assert r.doc_unique_tokens == 16  # dup doc collapses
    # unique chunks: c1, c2, "u0 u1 u2 u3" -> 12 tokens
    assert r.chunk_unique_tokens == 12
    assert abs(r.doc_unique_frac - 16 / 24) < 1e-12
    assert abs(r.chunk_unique_frac - 0.5) < 1e-12


def test_native_session_window_agrees_with_gaps_and_islands(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 6, 1, 10, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        (1, m(0), 1, "view", 1.0, "{}"),
        (2, m(10), 1, "view", 1.0, "{}"),   # same session
        (3, m(50), 1, "view", 1.0, "{}"),   # 40-min gap -> new session
        (4, m(0), 2, "view", 1.0, "{}"),
    ]
    ev = _mkev(spark, rows)
    from pyspark.sql import functions as F

    native = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    ours = (
        events.sessionize(ev)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    n = {r.user_id: r.n_sessions for r in native.collect()}
    o = {r.user_id: r.n_sessions for r in ours.collect()}
    assert n == o == {1: 2, 2: 1}


def test_customer_spend_percentiles_planted(spark):
    import datetime as dt

    from xboard_spark.operators import window_ops

    cust = spark.createDataFrame(
        [(i, f"c{i}", 0, 1.0, "B") for i in range(1, 11)],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(i, i, "O", float(i * 100), dt.datetime(2026, 1, 1), "1-URGENT") for i in range(1, 11)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = window_ops.customer_spend_percentiles(cust, orders).collect()
    # 10 customers, spends 100..1000: percent_rank >= 0.9 keeps only the top
    assert [(r.c_custkey, r.pct_rank) for r in out] == [(10, 1.0)]


def test_order_fanout_profile_planted(spark):
    from xboard_spark.operators import tpch

    li = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 10), (3, 11), (3, 12)],
        "l_orderkey long, l_partkey long",
    )
    out = {r.n_lines: r.n_orders for r in tpch.order_fanout_profile(li).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_watermark_delay_profile_planted(spark):
    import datetime as dt

    t = lambda s: dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)  # noqa: E731
    # arrival order (event_id) vs event time: event 3 arrives AFTER the
    # max-so-far of t=100 but carries t=40 -> 60s late; others in order
    rows = [
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(100), 1, "view", 1.0, "{}"),
        (3, t(40), 1, "view", 1.0, "{}"),   # 60s late
        (4, t(150), 1, "view", 1.0, "{}"),
        (5, t(0), 2, "view", 1.0, "{}"),    # other user: independent clock
    ]
    r = events.watermark_delay_profile(_mkev(spark, rows)).collect()[0]
    assert r.n_events == 5 and r.n_late == 1
    assert abs(r.late_frac - 0.2) < 1e-12
    assert abs(r.max_lateness_sec - 60.0) < 1e-9


def test_supplier_panel_planted(spark):
    from xboard_spark.operators import tpch

    sup = spark.createDataFrame(
        [(1, "s1", 0, 100.0), (2, "s2", 0, -50.0), (3, "s3", 1, 10.0)],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    )
    nat = spark.createDataFrame(
        [(0, "N_A", 0), (1, "N_B", 0)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    out = {r.n_name: r for r in tpch.supplier_panel(sup, nat).collect()}
    a = out["N_A"]
    assert (a.n_suppliers, a.n_negative) == (2, 1)
    assert abs(a.total_acctbal - 50.0) < 1e-9
    assert out["N_B"].n_suppliers == 1 and out["N_B"].n_negative == 0


def test_revenue_concentration_planted(spark):
    import datetime as dt

    from xboard_spark.operators import window_ops

    # 10 customers: nine spend 100, one whale spends 900 -> whale holds
    # 50% of revenue and sits above every fence
    rows = [
        (i, i, "O", 900.0 if i == 9 else 100.0, dt.datetime(2026, 1, 1), "P")
        for i in range(10)
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    r = window_ops.revenue_concentration(orders).collect()[0]
    assert r.n_customers == 10
    assert abs(r.total_revenue - 1800.0) < 1e-9
    assert abs(r.top1_share - 0.5) < 1e-12     # only the whale clears p99
    assert r.top10_share >= r.top5_share >= r.top1_share  # Lorenz monotone


def test_cluster_size_profile_planted(spark):
    # one 3-family, one 2-family (identical texts), singletons excluded
    t3 = " ".join(f"p{i}" for i in range(30))
    t2 = " ".join(f"q{i}" for i in range(30))
    docs = _mkdocs(
        spark,
        [
            (1, t3, "en", "web"),
            (2, t3, "en", "web"),
            (3, t3, "en", "web"),
            (7, t2, "en", "web"),
            (8, t2, "en", "web"),
            (50, "lonely unique text here", "en", "web"),
        ],
    )
    out = {r.cluster_size: r.n_clusters for r in dedup.cluster_size_profile(docs).collect()}
    assert out == {2: 1, 3: 1}


def test_props_key_coverage_planted(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2026, 1, 1), 1, "view", 1.0, '{"k": 1}'),
        (2, dt.datetime(2026, 1, 1), 1, "view", 1.0, '{"x": 1}'),
        (3, dt.datetime(2026, 1, 1), 1, "click", 1.0, '{"k": 2}'),
    ]
    out = {r.event_type: r for r in events.props_key_coverage(_mkev(spark, rows)).collect()}
    assert out["view"].n_with_key == 1 and abs(out["view"].coverage - 0.5) < 1e-12
    assert out["click"].coverage == 1.0


def test_traffic_anomalies_dead_hour_is_flagged(spark):
    """The round-10 dense-grid fix: a (date, hour) bucket with ZERO events
    must (a) pull its hour-of-day baseline down as a 0, and (b) be
    flaggable itself — the sparse frame silently excluded dead hours from
    both roles."""
    import datetime as dt

    rows, eid = [], 0
    # hour 13: 10 events on days 1-4, NOTHING on day 5
    for day in range(1, 5):
        for _ in range(10):
            eid += 1
            rows.append((eid, dt.datetime(2026, 8, day, 13, 0), 1, "view", 1.0, "{}"))
    # day 5 exists in the observed range via another hour
    eid += 1
    rows.append((eid, dt.datetime(2026, 8, 5, 7, 0), 1, "view", 1.0, "{}"))
    out = events.traffic_anomalies(_mkev(spark, rows), z=2.0).collect()
    # hour 13 baseline over days 1-5 = [10,10,10,10,0]: mean 8, std 4
    # -> day-5 dead bucket z = -2.0, flagged with n_events = 0
    flagged = {(r.event_date, r.hour): r for r in out}
    dead = flagged[(dt.date(2026, 8, 5), 13)]
    assert dead.n_events == 0
    assert abs(dead.hour_mean - 8.0) < 1e-12
    assert abs(dead.hour_std - 4.0) < 1e-12
    assert abs(dead.zscore + 2.0) < 1e-12


def test_volume_gaps_exact_boundary_is_flagged(spark):
    """Inclusive bounds: a day that EXACTLY halved or EXACTLY doubled is
    flagged (the strict <0.5/>2.0 bounds let both pass)."""
    import datetime as dt

    from xboard_spark.operators.profiling import volume_gaps

    rows, eid = [], 0
    for day, n in [(1, 10), (2, 5), (3, 10)]:  # exact halve then exact double
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, dt.datetime(2026, 5, day, 12, 0), 1, "view", 1.0, "{}")
            )
    out = {r.event_date: r for r in volume_gaps(_mkev(spark, rows)).collect()}
    assert out[dt.date(2026, 5, 2)].is_anomaly == 1  # ratio exactly 0.5
    assert out[dt.date(2026, 5, 3)].is_anomaly == 1  # ratio exactly 2.0


def test_user_rollup_sketch_stays_out_of_hash_surface(spark):
    """user_rollup's approximate-distinct path is surfaced as the
    invariant boolean only: no raw engine-specific estimate column, and
    the bound holds trivially at per-user type cardinalities."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2026, 1, 1, 0, i), i % 3, t, 1.0, "{}")
        for i, t in enumerate(["view", "purchase", "cart", "view", "view", "cart"])
    ]
    out = events.user_rollup(_mkev(spark, rows))
    assert "approx_types" not in out.columns
    assert all(r.types_within_bound for r in out.collect())


def test_hourly_windows_emits_exclusive_end(spark):
    import datetime as dt

    rows = [(1, dt.datetime(2026, 3, 1, 9, 30), 1, "view", 1.0, "{}")]
    r = events.hourly_windows(_mkev(spark, rows)).collect()[0]
    assert r.window_start == dt.datetime(2026, 3, 1, 9, 0)
    assert r.window_end == dt.datetime(2026, 3, 1, 10, 0)


def test_events_value_sums_are_exact_at_extreme_magnitudes(spark):
    """The cent-sum conversion's reason to exist (round-10 sweep 7): a
    +-1e15 outlier dominating a double accumulator makes parallel and
    sequential sums differ in the last ulp, and round-on-huge-doubles
    splits engines at the cent. In exact integer cents the planted mix
    (1e15 + 0.25 + 0.25 - 1e15) sums to exactly 0.50 regardless of
    association order — and all three panels must agree with DuckDB's
    sequential evaluation of the same cent formula bit-for-bit."""
    import datetime as dt

    import duckdb

    t = dt.datetime(2026, 3, 1, 9, 30)
    rows = [
        (1, t, 1, "view", 1.0e15, "{}"),
        (2, t, 1, "view", 0.25, "{}"),
        (3, t, 1, "view", 0.25, "{}"),
        (4, t, 1, "view", -1.0e15, "{}"),
    ]
    ev = _mkev(spark, rows)
    daily = events.events_daily(ev).collect()[0]
    hourly = events.hourly_windows(ev).collect()[0]
    user = events.user_rollup(ev).collect()[0]
    assert daily.total_value == hourly.total_value == user.total_value == 0.5
    (oracle_val,) = duckdb.sql(
        "SELECT sum(CAST(round(v * 100) AS BIGINT)) / 100.0 FROM (VALUES"
        " (1.0e15), (0.25), (0.25), (-1.0e15)) t(v)"
    ).fetchone()
    assert daily.total_value == oracle_val


def test_nation_customer_ranks_running_share(spark):
    """running_share is the cumulative top-k share (the docstring's
    'running share of the nation's total balance'); balance_share stays
    the customer's own static share."""
    from xboard_spark.operators.window_ops import nation_customer_ranks

    cust = spark.createDataFrame(
        [(1, "a", 0, 50.0), (2, "b", 0, 30.0), (3, "c", 0, 15.0), (4, "d", 0, 5.0)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double",
    )
    nat = spark.createDataFrame([(0, "X")], "n_nationkey int, n_name string")
    out = {r.rnk: r for r in nation_customer_ranks(cust, nat, k=3).collect()}
    assert [out[i].balance_share for i in (1, 2, 3)] == [0.5, 0.3, 0.15]
    assert [out[i].running_share for i in (1, 2, 3)] == [0.5, 0.8, 0.95]


def test_segment_priority_chi2_empty_cell_counts_toward_statistic(spark):
    """A (segment, priority) combination no order realized is still a
    contingency cell: its (0-E)^2/E = E term must enter chi2 and it must
    count in n_cells. Planted 2x2 with one empty cell:
    S1 sees P1 x2 + P2 x2, S2 sees P1 x4 only -> observed cells 3, dense
    cells 4. Marginals: rows (4, 4), cols (6, 2), total 8; expected =
    (3, 1, 3, 1); chi2 = 1/3 + 1 + 1/3 + 1 = 8/3."""
    import datetime as dt

    from xboard_spark.operators import tpch

    cust = spark.createDataFrame(
        [(1, "a", 0, 1.0, "S1"), (2, "b", 0, 1.0, "S2")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    rows, ok = [], 0
    for ck, pri, cnt in ((1, "P1", 2), (1, "P2", 2), (2, "P1", 4)):
        for _ in range(cnt):
            ok += 1
            rows.append((ok, ck, "O", 1.0, dt.datetime(2001, 1, 1), pri))
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    r = tpch.segment_priority_chi2(cust, orders).collect()[0]
    assert (r.n_cells, r.dof) == (4, 1)
    assert abs(r.chi2 - 8.0 / 3.0) < 1e-6


def test_segment_priority_chi2_null_category_rows_excluded(spark):
    """Rows with a NULL segment or priority are out of the test
    population (ADVICE r10): the dense grid's equi-join can never match
    a NULL key, so keeping them would zero-fill their real counts while
    n_cells counted phantom NULL cells the DISTINCT-based dof excluded.
    Planted: the 2x2 fixture above plus a NULL-segment customer with 2
    orders and a NULL-priority order — the panel must equal the clean
    fixture's exactly."""
    import datetime as dt

    from xboard_spark.operators import tpch

    cust = spark.createDataFrame(
        [(1, "a", 0, 1.0, "S1"), (2, "b", 0, 1.0, "S2"),
         (3, "c", 0, 1.0, None)],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double,"
        " c_mktsegment string",
    )
    rows, ok = [], 0
    for ck, pri, cnt in (
        (1, "P1", 2), (1, "P2", 2), (2, "P1", 4),  # the clean 2x2
        (3, "P1", 2),                              # NULL-segment customer
        (1, None, 1),                              # NULL-priority order
    ):
        for _ in range(cnt):
            ok += 1
            rows.append((ok, ck, "O", 1.0, dt.datetime(2001, 1, 1), pri))
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    r = tpch.segment_priority_chi2(cust, orders).collect()[0]
    assert (r.n_cells, r.dof) == (4, 1)
    assert abs(r.chi2 - 8.0 / 3.0) < 1e-6


def test_quality_scores_mean_token_len(spark):
    """mean_token_len is sum(token chars)/n_tokens over the [a-z0-9]+
    tokens: 'Ab cdef!' -> tokens (ab, cdef), mean 3.0; a token-less doc
    divides by the greatest(n_tokens, 1) guard -> 0.0."""
    from xboard_spark.operators import text as text_ops

    docs = _mkdocs(
        spark, [(1, "Ab cdef!", "en", "s"), (2, "?!...", "en", "s")]
    )
    out = {r.doc_id: r for r in text_ops.quality_scores(docs).collect()}
    assert out[1].n_tokens == 2
    assert abs(out[1].mean_token_len - 3.0) < 1e-9
    assert out[2].n_tokens == 0
    assert out[2].mean_token_len == 0.0


def test_json_props_ops_tolerate_malformed_payloads(spark):
    """A real feed carries malformed props (round-11 sweep 9): the
    classic and variant JSON paths must degrade a bad payload to a
    missing key, never fail the query. Planted: 2 valid rows (k=1, k=3),
    plus empty-string, truncated, non-JSON, bare-null, and NULL props —
    all five count as key-less."""
    rows = [
        (1, "view", '{"k": 1}'),
        (2, "view", '{"k": 3}'),
        (3, "view", ""),
        (4, "view", '{"k": '),
        (5, "view", "not json"),
        (6, "view", "null"),
        (7, "view", None),
    ]
    ev = spark.createDataFrame(
        [(i, __import__("datetime").datetime(2026, 3, 1), 1, t, 1.0, p)
         for i, t, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    for fn in (events.events_json_props, events.events_json_variant):
        r = fn(ev).collect()[0]
        assert (r.avg_k, r.min_k, r.max_k, r.distinct_k) == (2.0, 1, 3, 2), fn


def test_json_props_wrong_type_k_degrades_to_null(spark):
    """ADVICE r11: VALID json with a wrong-TYPE k must degrade to NULL
    on every surface. Before the string-probe convention the typed
    variant probe coerced true->1 and 1.5->1 (and DuckDB's bare TRY_CAST
    rounded '1.5'->2) — three-way split on one dirty row. Planted: two
    integer ks (one as a JSON string, which every path accepts) plus
    every wrong-type shape; only the integers may count."""
    rows = [
        (1, "view", '{"k": 2}'),
        (2, "view", '{"k": "6"}'),  # numeric string: integer-literal, counts
        (3, "view", '{"k": "abc"}'),
        (4, "view", '{"k": true}'),
        (5, "view", '{"k": 1.5}'),
        (6, "view", '{"k": [1,2]}'),
        (7, "view", '{"k": {"x": 1}}'),
        (8, "view", '{"k": null}'),
        (9, "view", "{}"),
    ]
    ev = spark.createDataFrame(
        [(i, __import__("datetime").datetime(2026, 3, 1), 1, t, 1.0, p)
         for i, t, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    for fn in (events.events_json_props, events.events_json_variant):
        r = fn(ev).collect()[0]
        assert (r.avg_k, r.min_k, r.max_k, r.distinct_k) == (4.0, 2, 6, 2), fn
