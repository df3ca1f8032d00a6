"""Malformed-input handling (the reference's webhook_events.error design)
and the applyInPandas grouped-map operator."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from xboard_spark.streaming.webhook import read_webhooks_with_errors


def test_corrupt_records_quarantined_not_dropped(spark, tmp_path):
    d = tmp_path / "wh"
    os.makedirs(d)
    good = {
        "tenant_id": 1, "topic": "orders/create", "shop_domain": "a.example",
        "received_at": "2024-01-01T10:00:00Z", "delivery_hash": "h1",
        "raw_payload": "{}",
    }
    with open(d / "mixed.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write('{"tenant_id": broken JSON here\n')
        f.write(json.dumps({**good, "delivery_hash": "h2"}) + "\n")
    out = read_webhooks_with_errors(spark, str(d)).collect()
    assert len(out) == 3  # nothing vanished
    valid = [r for r in out if r.is_valid]
    bad = [r for r in out if not r.is_valid]
    assert {r.delivery_hash for r in valid} == {"h1", "h2"}
    assert len(bad) == 1
    assert "broken JSON" in bad[0].error_raw  # raw line preserved for replay


def test_user_value_trend_slope(spark):
    from xboard_spark.operators.events import user_value_trend

    import datetime as dt

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = []
    # user 1: value rises 1.0 per hour; user 2: constant
    for h in range(4):
        rows.append((h, base + dt.timedelta(hours=h), 1, float(h)))
        rows.append((10 + h, base + dt.timedelta(hours=h), 2, 5.0))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = {r.user_id: r for r in user_value_trend(events).collect()}
    assert abs(out[1].slope_per_hour - 1.0) < 1e-6
    assert abs(out[2].slope_per_hour) < 1e-9
    assert out[1].n_events == 4


def test_read_evolving_merges_added_columns(spark, tmp_path):
    """Old files (2 cols) + new files (3 cols) in one table: merged read
    exposes the union schema with NULLs where history predates the column,
    and per-file data is intact."""
    from pyspark.sql import functions as F
    from xboard_spark.io import read_evolving

    out = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, total double"
    ).write.mode("overwrite").parquet(out)
    spark.createDataFrame(
        [(3, 30.0, "USD")], "id long, total double, currency string"
    ).write.mode("append").parquet(out)

    df = read_evolving(spark, out)
    assert set(df.columns) == {"id", "total", "currency"}
    rows = {r.id: (r.total, r.currency) for r in df.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, None), 3: (30.0, "USD")}
    # old-file rows are selectable by the new column's nullness
    assert df.filter(F.col("currency").isNull()).count() == 2


def test_probes_raise_informatively_on_empty_embeddings(spark):
    """The round-10 empty-table sweep (all 173 registered queries against
    empty-but-schema'd tables) found exactly two bare crashes: both
    probes died with NoneType AttributeError reading the feature
    dimension. An empty design matrix must fail with the reason."""
    import pytest as _pytest

    from xboard_spark.operators.ml import logistic_probe, ridge_probe

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    with _pytest.raises(ValueError, match="embeddings table is empty"):
        ridge_probe(empty)
    with _pytest.raises(ValueError, match="embeddings table is empty"):
        logistic_probe(empty)


def test_null_embedding_rows_are_excluded_not_fatal(spark):
    """The round-10 NULL-heavy sweep: a NULL embedding crashed the Arrow
    bucket build with a ragged np.stack ValueError deep in the worker.
    Vector-less rows carry no geometry — they are excluded at the shared
    corpus root, and every index consumer still runs."""
    from xboard_spark import clear_index_caches
    from xboard_spark.operators.similarity import knn_bruteforce, knn_lsh

    rows = [
        (i, [float((i * 7 + d) % 5) for d in range(64)], i % 3)
        for i in range(30)
    ] + [(99, None, 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    clear_index_caches()
    try:
        lsh = knn_lsh(emb).collect()
        bf = knn_bruteforce(emb).collect()
        assert all(r.q_id != 99 and r.vec_id != 99 for r in lsh)
        assert all(r.q_id != 99 and r.vec_id != 99 for r in bf)
    finally:
        clear_index_caches()


def test_mixture_rebalance_survives_out_of_mixture_lang(spark):
    """A language OUTSIDE the target mixture (or a NULL lang group) has
    target 0; under ANSI mode the old share/target division was a hard
    DIVIDE_BY_ZERO that killed the whole rebalance. Zero-target groups
    now take rate 0.0 (downsample-only: not in the mixture -> keep
    nothing) and stay visible in the report."""
    from xboard_spark.operators.sampling import mixture_rebalance

    rows = (
        [(i, "text", "en") for i in range(10)]
        + [(100 + i, "text", "it") for i in range(5)]  # not in DEFAULT_MIX
        + [(200, "text", None)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in mixture_rebalance(docs).collect()}
    assert out["it"].rate == 0.0 and out["it"].n_kept == 0
    assert out["en"].rate == 1.0  # the only in-mixture lang keeps 100%


def test_embedding_spectrum_of_constant_corpus_is_zero(spark):
    """All-identical vectors -> zero covariance matrix. The power
    iteration's normalization and the explained-variance ratio both
    divided by zero under ANSI; the honest spectrum of a zero matrix is
    (trace 0, eig 0, frac 0), not a crash."""
    from xboard_spark.operators.similarity import embedding_spectrum

    emb = spark.createDataFrame(
        [(i, [1.0] * 64, 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    r = embedding_spectrum(emb).collect()[0]
    assert (r.trace, r.top_eigenvalue, r.explained_frac) == (0.0, 0.0, 0.0)


def test_bootstrap_survives_single_row_table(spark):
    """With one row, ~37% of Poisson replicas draw weight 0 and have no
    resample mean; they must yield NULL replica means (possibly a NULL
    CI bound), never an ANSI DIVIDE_BY_ZERO that kills the panel."""
    from xboard_spark.operators.sampling import bootstrap_mean_ci

    one = spark.createDataFrame(
        [(1, 100.0)], "o_orderkey long, o_totalprice double"
    )
    r = bootstrap_mean_ci(one).collect()[0]
    assert r.n_rows == 1 and r.point_mean == 100.0
    # NULLS FIRST is the pinned null position (round 12): the zero-weight
    # replicas rank LOW, so ci_lo is the NULL bound and ci_hi carries the
    # value — before the pin the DuckDB twin's NULLS LAST default produced
    # the MIRROR image (value, NULL) and the two engines silently diverged
    # on any corpus with an all-zero replica
    assert (r.ci_lo, r.ci_hi) == (None, 100.0)


def test_probes_exclude_unidentified_or_unlabeled_rows(spark):
    """The supervised probes train on rows with (vec_id, embedding, label)
    all present: the null-key sweep caught NULL vec_ids collapsing into
    one row in the twin's keyed design join and NULL labels reading as
    y=0.0 there vs NULL here. n_vecs must count only the complete rows."""
    from xboard_spark.operators.ml import ridge_probe

    rows = [(i, [float(i % 3)] * 64, i % 2) for i in range(12)]
    rows += [(None, [1.0] * 64, 0), (99, None, 0), (100, [1.0] * 64, None)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    assert ridge_probe(emb).collect()[0].n_vecs == 12


def test_doc_chunks_excludes_null_doc_id(spark):
    """Chunking requires a document identity: NULL doc_id rows would
    otherwise merge into one pseudo-doc whose token tie-order is
    engine-dependent (null-key sweep). No NULL group may appear."""
    from xboard_spark.operators.text import doc_chunks, doc_chunks_overlapping

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s"), (None, "x y z", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    for out in (doc_chunks(docs).collect(), doc_chunks_overlapping(docs).collect()):
        assert {r.doc_id for r in out} == {1}


def test_doc_chunks_overlapping_rejects_bad_stride(spark):
    """stride 0 would divide by zero and stride > chunk_size makes Spark's
    sequence() descend into wrong chunks: both fail with ValueError naming
    the two values before any plan is built, also under ``python -O``."""
    import pytest

    from xboard_spark.operators.text import doc_chunks_overlapping

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for stride in (0, 9):
        with pytest.raises(ValueError, match=f"stride={stride}.*chunk_size=8"):
            doc_chunks_overlapping(docs, chunk_size=8, stride=stride)


def test_effective_tokens_population_is_identified_docs_only(spark):
    """All three aggregates of the effective-size panel cover the SAME
    corpus — identified documents (ADVICE r10): the chunk path
    structurally excludes NULL doc_id (see doc_chunks), so total/doc
    figures must too, or chunk_unique_frac's denominator counts token
    mass its numerator structurally cannot. A NULL-doc_id row must not
    move any column."""
    from xboard_spark.operators.curation import effective_tokens

    clean = spark.createDataFrame(
        [(1, "a b c d", "en", "s"), (2, "a b c d", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    with_null = clean.unionByName(
        spark.createDataFrame(
            [(None, "x y z w", "en", "s")],
            "doc_id long, text string, lang string, source string",
        )
    )
    a = effective_tokens(clean, chunk_size=4).collect()[0]
    b = effective_tokens(with_null, chunk_size=4).collect()[0]
    assert a.asDict() == b.asDict()
    assert a.total_tokens == 8 and a.doc_unique_tokens == 4


def test_watermark_profile_excludes_unidentified_events(spark):
    """Arrival order is event_id: rows missing user_id or event_id have
    no position/stream key, and NULL sort keys order differently across
    engines (Spark NULLS FIRST vs DuckDB NULLS LAST — the null-key sweep
    measured divergent running-max trajectories)."""
    import datetime as dt

    from xboard_spark.operators.events import watermark_delay_profile

    rows = [
        (1, dt.datetime(2026, 1, 1, 10, 0), 1, "view", 1.0, "{}"),
        (2, dt.datetime(2026, 1, 1, 9, 0), 1, "view", 1.0, "{}"),   # late
        (None, dt.datetime(2026, 1, 1, 8, 0), 1, "view", 1.0, "{}"),
        (3, dt.datetime(2026, 1, 1, 8, 0), None, "view", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    r = watermark_delay_profile(ev).collect()[0]
    assert r.n_events == 2 and r.n_late == 1


def test_ansi_errors_stay_loud_without_the_python_call_site(spark):
    """Sessions from ``get_spark`` do not capture Python call sites: a
    runtime error still raises with its condition and the name of the
    DataFrame operation that built the failing expression."""
    import importlib.util
    import pathlib

    import pytest

    path = pathlib.Path(__file__).resolve().parent.parent / "bench.py"
    spec = importlib.util.spec_from_file_location("bench", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    df = spark.createDataFrame([(1, 0)], "n int, d int")
    with pytest.raises(Exception) as div:
        df.select(F.col("n") / F.col("d")).collect()
    with pytest.raises(Exception) as cast:
        df.select(F.lit("abc").cast("int").alias("v")).collect()
    for caught, condition, op in (
        (div, "DIVIDE_BY_ZERO", '"divide" was called from'),
        (cast, "CAST_INVALID_INPUT", '"cast" was called from'),
    ):
        assert caught.value.getCondition() == condition
        assert op in str(caught.value)
    line = bench.error_line(div.value)
    assert line.startswith("ArithmeticException: [DIVIDE_BY_ZERO]")
