"""Streaming tests (SURVEY.md §5.2 item 4): file-source streams through the
webhook pipeline — delivery-hash dedup, watermark plumbing, foreachBatch
idempotent merge, tumbling/session windows. availableNow triggers make each
run a bounded batch so tests are deterministic."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from xboard_spark.streaming import webhook, windows


def _write_jsonl(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _mk_webhooks(tmp_path, name, rows):
    d = str(tmp_path / name / "in")
    _write_jsonl(os.path.join(d, "batch0.json"), rows)
    return d


WH = [
    {
        "tenant_id": 1,
        "topic": "orders/create",
        "shop_domain": "a.example",
        "received_at": "2024-01-01T10:00:00Z",
        "delivery_hash": "h1",
        "raw_payload": json.dumps(
            {"id": 100, "total_price": "10.00", "currency": "USD",
             "created_at": "2024-01-01T09:59:00Z"}
        ),
    },
    {  # redelivery: same delivery_hash, must be dropped
        "tenant_id": 1,
        "topic": "orders/create",
        "shop_domain": "a.example",
        "received_at": "2024-01-01T10:00:05Z",
        "delivery_hash": "h1",
        "raw_payload": json.dumps(
            {"id": 100, "total_price": "10.00", "currency": "USD",
             "created_at": "2024-01-01T09:59:00Z"}
        ),
    },
    {
        "tenant_id": 1,
        "topic": "orders/update",
        "shop_domain": "a.example",
        "received_at": "2024-01-01T10:01:00Z",
        "delivery_hash": "h2",
        "raw_payload": json.dumps(
            {"id": 100, "total_price": "12.00", "currency": "USD",
             "created_at": "2024-01-01T09:59:00Z"}
        ),
    },
    {
        "tenant_id": 2,
        "topic": "customers/create",
        "shop_domain": "b.example",
        "received_at": "2024-01-01T10:02:00Z",
        "delivery_hash": "h3",
        "raw_payload": json.dumps({"id": 7, "email": "x@y.z"}),
    },
]


def test_webhook_dedup_drops_redelivery(spark, tmp_path):
    src = _mk_webhooks(tmp_path, "dedup", WH)
    stream = webhook.deduped_stream(webhook.read_webhook_stream(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("SELECT * FROM dedup_sink").collect()
    hashes = sorted(r.delivery_hash for r in out)
    assert hashes == ["h1", "h2", "h3"]  # h1 redelivery dropped


def test_bronze_to_silver_merge_upserts_order(spark, tmp_path):
    src = _mk_webhooks(tmp_path, "silver", WH)
    silver = str(tmp_path / "silver" / "orders")
    ckpt = str(tmp_path / "silver" / "ckpt")
    stream = webhook.parse_order_events(
        webhook.deduped_stream(webhook.read_webhook_stream(spark, src))
    )
    run_log: list = []
    q = webhook.start_bronze_to_silver(
        stream, silver, ckpt, keys=["tenant_id", "shopify_order_id"], run_log=run_log
    )
    q.awaitTermination(120)
    out = spark.read.parquet(silver).collect()
    # create + update arrive in one batch -> merge keeps ONE row per order
    assert len(out) == 1
    assert run_log and run_log[-1]["status"] == "ok"


def test_bronze_to_silver_idempotent_rerun(spark, tmp_path):
    src = _mk_webhooks(tmp_path, "idem", WH)
    silver = str(tmp_path / "idem" / "orders")
    stream_fn = lambda: webhook.parse_order_events(  # noqa: E731
        webhook.deduped_stream(webhook.read_webhook_stream(spark, src))
    )
    # two runs with SEPARATE checkpoints (simulates redelivery past
    # watermark / checkpoint loss) — merge backstop keeps the table stable
    for i in range(2):
        ckpt = str(tmp_path / "idem" / f"ckpt{i}")
        q = webhook.start_bronze_to_silver(
            stream_fn(), silver, ckpt, keys=["tenant_id", "shopify_order_id"]
        )
        q.awaitTermination(120)
    out = spark.read.parquet(silver).collect()
    assert len(out) == 1


def test_late_redelivery_past_watermark_hits_merge_backstop(spark, tmp_path):
    """SURVEY §7 hard part 2: a redelivery that arrives AFTER the dedup
    state for its delivery_hash has been watermark-evicted is NOT caught by
    ``dropDuplicates`` — it must fall through to the idempotent merge
    backstop. Three availableNow runs over ONE checkpoint:

    1. order h1 @10:00 lands in silver;
    2. an unrelated event @13:00 advances the watermark to 12:50, which
       evicts h1's dedup state (10:00 < 12:50);
    3. h1 is redelivered @13:05 with a changed payload — it PASSES dedup
       (state gone), reaches the sink, and the key-merge keeps one row.

    The changed total_price proves the redelivery really flowed through
    (dedup did not drop it); the single row proves the backstop absorbed it.
    """
    src = str(tmp_path / "late" / "in")
    silver = str(tmp_path / "late" / "orders")
    ckpt = str(tmp_path / "late" / "ckpt")
    order = lambda price, ts, hash_: {  # noqa: E731
        "tenant_id": 1,
        "topic": "orders/create",
        "shop_domain": "a.example",
        "received_at": ts,
        "delivery_hash": hash_,
        "raw_payload": json.dumps(
            {"id": 100, "total_price": price, "currency": "USD",
             "created_at": "2024-01-01T09:59:00Z"}
        ),
    }
    stream_fn = lambda: webhook.parse_order_events(  # noqa: E731
        webhook.deduped_stream(webhook.read_webhook_stream(spark, src))
    )

    def run_once() -> None:
        q = webhook.start_bronze_to_silver(
            stream_fn(), silver, ckpt, keys=["tenant_id", "shopify_order_id"]
        )
        q.awaitTermination(120)

    _write_jsonl(os.path.join(src, "b0.json"),
                 [order("10.00", "2024-01-01T10:00:00Z", "h1")])
    run_once()
    assert [r.total_price for r in spark.read.parquet(silver).collect()] == [
        __import__("decimal").Decimal("10.00")
    ]
    # watermark advance: unrelated hash, 3h later (>> 10-minute delay)
    _write_jsonl(os.path.join(src, "b1.json"),
                 [order("55.00", "2024-01-01T13:00:00Z", "h9") | {"topic": "other/x"}])
    run_once()
    # redelivery of h1 past its evicted state, with changed payload
    _write_jsonl(os.path.join(src, "b2.json"),
                 [order("99.00", "2024-01-01T13:05:00Z", "h1")])
    run_once()
    out = spark.read.parquet(silver).collect()
    assert len(out) == 1  # merge backstop: still one row per order key
    assert str(out[0].total_price) == "99.00"  # and the redelivery got through


def test_windows_stream_demo_merges_state_across_restart(spark, tmp_path):
    """The registered streaming_tumbling_windows face, closed-form: even
    event_ids run in batch 1, odd in batch 2 (a genuine checkpoint
    restart), and both hit the SAME day windows — the final counts are
    only right if run 2 merged into run 1's state-store partials. A lost
    state store would read odd-only counts."""
    import datetime as dt

    ev = spark.createDataFrame(
        [
            # day 1, type a: even id (batch 1) + odd id (batch 2)
            (2, dt.datetime(2024, 3, 1, 8, 0), 1, "a", 1.25, "{}"),
            (3, dt.datetime(2024, 3, 1, 9, 0), 2, "a", 2.00, "{}"),
            # day 1, type b: odd only + a NULL value (counts, no sum)
            (5, dt.datetime(2024, 3, 1, 10, 0), 1, "b", None, "{}"),
            # day 2, type a: even only
            (4, dt.datetime(2024, 3, 2, 8, 0), 1, "a", -0.50, "{}"),
            # NULL ts / NULL type: excluded on both sides
            (6, None, 1, "a", 9.0, "{}"),
            (8, dt.datetime(2024, 3, 2, 9, 0), 1, None, 9.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    rows = windows.windows_stream_demo(ev, workdir=str(tmp_path / "wsd"))
    got = [
        (r.window_start, r.event_type, r.n_events, r.revenue)
        for r in rows.collect()
    ]
    assert got == [
        (dt.datetime(2024, 3, 1), "a", 2, 3.25),   # merged across runs
        (dt.datetime(2024, 3, 1), "b", 1, None),   # NULL value: count only
        (dt.datetime(2024, 3, 2), "a", 1, -0.50),
    ]


def test_tumbling_daily_counts(spark, tmp_path):
    src = _mk_webhooks(tmp_path, "tumble", WH)
    orders = webhook.parse_order_events(webhook.read_webhook_stream(spark, src))
    agg = windows.tumbling_daily_order_counts(orders)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumble_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM tumble_sink").collect()
    assert len(rows) == 1  # one tenant, one day
    # create + redelivered create + update: no dedup on this path, 3 rows
    assert rows[0].order_count == 3
    assert float(rows[0].revenue) == 32.0


def test_session_window_stream(spark, tmp_path):
    events = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00Z", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:10:00Z", "user_id": 1, "value": 1.0},
        # 40-minute gap -> new session
        {"event_id": 3, "ts": "2024-01-01T10:50:00Z", "user_id": 1, "value": 1.0},
    ]
    d = str(tmp_path / "sess" / "in")
    _write_jsonl(os.path.join(d, "e.json"), events)
    stream = (
        spark.readStream.schema(
            "event_id long, ts string, user_id long, value double"
        )
        .json(d)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = windows.session_window_per_user(stream, gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM sess_sink ORDER BY session_start").collect()
    assert [r.n_events for r in rows] == [2, 1]


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file-source streams: purchases join views of the same user
    within the 1h horizon; views outside the horizon or by other users
    never pair. Result must equal the equivalent static join."""
    from xboard_spark.streaming import joins

    views = [
        {"user_id": 1, "event_id": 10, "ts": "2024-01-01T09:30:00Z"},
        {"user_id": 1, "event_id": 11, "ts": "2024-01-01T08:00:00Z"},  # stale
        {"user_id": 2, "event_id": 12, "ts": "2024-01-01T09:45:00Z"},  # other user
    ]
    purchases = [
        {"user_id": 1, "event_id": 20, "ts": "2024-01-01T10:00:00Z"},
        {"user_id": 3, "event_id": 21, "ts": "2024-01-01T10:00:00Z"},  # no views
    ]
    vdir = _mk_webhooks(tmp_path, "ssj_views", views)
    pdir = _mk_webhooks(tmp_path, "ssj_purch", purchases)
    schema = "user_id long, event_id long, ts timestamp"
    vs = spark.readStream.schema(schema).json(vdir)
    ps = spark.readStream.schema(schema).json(pdir)
    out = joins.purchases_with_recent_views(vs, ps, horizon="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ssj_out").collect()
    assert [(r.user_id, r.purchase_id, r.view_id) for r in rows] == [(1, 20, 10)]
    # static twin agrees
    sv = spark.read.schema(schema).json(vdir)
    sp = spark.read.schema(schema).json(pdir)
    static = joins.purchases_with_recent_views(sv, sp).collect()
    assert {(r.user_id, r.purchase_id, r.view_id) for r in static} == {(1, 20, 10)}


def test_stream_static_enrichment(spark, tmp_path):
    """Streaming events left-join a static user->tier dim (broadcast per
    micro-batch, no state store); unknown users survive as 'unknown'."""
    from xboard_spark.streaming import joins

    events = [
        {"user_id": 1, "event_id": 10, "ts": "2024-01-01T09:30:00Z"},
        {"user_id": 2, "event_id": 11, "ts": "2024-01-01T09:31:00Z"},
        {"user_id": 99, "event_id": 12, "ts": "2024-01-01T09:32:00Z"},
    ]
    edir = _mk_webhooks(tmp_path, "enrich_ev", events)
    schema = "user_id long, event_id long, ts timestamp"
    es = spark.readStream.schema(schema).json(edir)
    tiers = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    out = joins.enriched_with_user_tier(es, tiers)
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.event_id: r.tier for r in spark.sql("SELECT * FROM enrich_out").collect()}
    assert rows == {10: "gold", 11: "silver", 12: "unknown"}


def test_transform_with_state_counters_survive_restart(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: typed ValueState counters
    accumulate across micro-batches AND across a query RESTART (state
    rides the checkpoint), the arbitrary-stateful successor to
    applyInPandasWithState."""
    import json

    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip(
            "transformWithState worker needs google.protobuf (broken in "
            "this container); operator gated, runs on a real cluster"
        )

    from xboard_spark.streaming.stateful import user_counters_tws

    src = tmp_path / "tws_src"
    src.mkdir()
    ckpt = str(tmp_path / "tws_ckpt")
    schema = "user_id long, value double, ts timestamp"

    def write_batch(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows)
        )

    sink = str(tmp_path / "tws_sink")

    def run_pass():
        stream = spark.readStream.schema(schema).json(str(src))
        out = user_counters_tws(stream)
        # memory sink cannot recover from a checkpoint; foreachBatch can —
        # append each micro-batch to parquet and read the latest row per key
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        best = {}
        for r in spark.read.parquet(sink).collect():
            if r.user_id not in best or r.n_events > best[r.user_id].n_events:
                best[r.user_id] = r
        return best

    write_batch("b1.json", [
        {"user_id": 1, "value": 10.0, "ts": "2024-01-01T09:00:00Z"},
        {"user_id": 1, "value": 5.0, "ts": "2024-01-01T09:01:00Z"},
        {"user_id": 2, "value": 7.0, "ts": "2024-01-01T09:02:00Z"},
    ])
    first = run_pass()
    assert first[1].n_events == 2 and abs(first[1].total_value - 15.0) < 1e-9
    assert first[2].n_events == 1

    # NEW file, FRESH query object, SAME checkpoint -> state must resume
    write_batch("b2.json", [
        {"user_id": 1, "value": 1.0, "ts": "2024-01-01T10:00:00Z"},
    ])
    second = run_pass()
    assert second[1].n_events == 3
    assert abs(second[1].total_value - 16.0) < 1e-9


def test_apply_in_pandas_with_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState: per-user profile state accumulates across
    micro-batches AND across a query RESTART (state rides the checkpoint).
    This is the non-gated sibling of the transformWithState test above —
    the applyInPandasWithState worker path does NOT need protobuf, so the
    restart-resume property of the executor state store is PROVEN in this
    container, not skipped."""
    import json

    from xboard_spark.streaming.stateful import user_profiles_stream

    src = tmp_path / "aipws_src"
    src.mkdir()
    ckpt = str(tmp_path / "aipws_ckpt")
    schema = "user_id long, value double, ts timestamp"

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    sink = str(tmp_path / "aipws_sink")

    def run_pass():
        stream = spark.readStream.schema(schema).json(str(src))
        # 1h idle timeout: the default 30s can fire between availableNow
        # micro-batches on a loaded host and close the state mid-test
        out = user_profiles_stream(stream, timeout_ms=3_600_000)
        # memory sink cannot recover from a checkpoint; foreachBatch can —
        # append each micro-batch to parquet and read the latest row per key
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        best = {}
        for r in spark.read.parquet(sink).collect():
            if r.user_id not in best or r.n_events > best[r.user_id].n_events:
                best[r.user_id] = r
        return best

    write_batch("b1.json", [
        {"user_id": 1, "value": 10.0, "ts": "2024-01-01T09:00:00Z"},
        {"user_id": 1, "value": 5.0, "ts": "2024-01-01T09:01:00Z"},
        {"user_id": 2, "value": 7.0, "ts": "2024-01-01T09:02:00Z"},
    ])
    first = run_pass()
    assert first[1].n_events == 2 and abs(first[1].total_value - 15.0) < 1e-9
    assert first[2].n_events == 1
    assert not first[1].closed_by_timeout

    # NEW file, FRESH query object, SAME checkpoint -> state must resume
    write_batch("b2.json", [
        {"user_id": 1, "value": 1.0, "ts": "2024-01-01T10:00:00Z"},
    ])
    second = run_pass()
    assert second[1].n_events == 3
    assert abs(second[1].total_value - 16.0) < 1e-9


def test_silver_merge_demo_panel(spark):
    """The registered batch-equivalence query (streaming_silver_merge):
    planted purchases -> the panel must show redeliveries deduped (each
    order counted once) and batch-2 price updates winning the merge."""
    import datetime as dt

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        # user_id 0 -> tenant 1; values chosen so updates are visible
        (3, dt.datetime(2026, 1, 1, 9, 0), 0, "purchase", 10.25, "{}"),   # %3==0 -> updated to 20.50
        (7, dt.datetime(2026, 1, 1, 9, 5), 0, "purchase", 20.0, "{}"),    # %7==0 -> redelivered
        (8, dt.datetime(2026, 1, 1, 9, 6), 0, "purchase", 40.0, "{}"),
        (21, dt.datetime(2026, 1, 1, 9, 7), 5, "purchase", 100.05, "{}"), # tenant 1; %3 AND %7
        (4, dt.datetime(2026, 1, 1, 9, 8), 1, "purchase", 7.0, "{}"),     # tenant 2
        (5, dt.datetime(2026, 1, 1, 9, 9), 1, "view", 999.0, "{}"),       # not a purchase
        (6, dt.datetime(2026, 1, 1, 9, 10), 1, "purchase", None, "{}"),   # null value excluded
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r.tenant_id: r for r in webhook.silver_merge_demo(ev).collect()}
    assert set(out) == {1, 2}
    # tenant 1: orders 3,7,8,21 each ONCE (7 and 21 were redelivered);
    # 3 and 21 updated x2 -> 20.50 + 20.0 + 40.0 + 200.10
    assert out[1].n_orders == 4
    assert abs(out[1].revenue - 280.60) < 1e-9
    # tenant 2: order 4 untouched; the view and the null-value purchase
    # never enter the fixture
    assert out[2].n_orders == 1
    assert abs(out[2].revenue - 7.0) < 1e-9


def test_silver_swap_recovers_both_crash_windows(spark, tmp_path):
    """The stage-then-swap must survive a driver death at either point
    between its renames (the old rmtree-then-rename had a window where
    the WHOLE silver table vanished and the replayed batch rebuilt it
    from itself alone)."""
    silver = str(tmp_path / "swap" / "orders")
    backup = silver + "._backup"
    os.makedirs(os.path.dirname(silver), exist_ok=True)
    # full silver schema (the parse_order_events projection) so the
    # end-to-end merge below can union against the recovered table
    prior = spark.createDataFrame(
        [(1, 100, "10.00"), (1, 101, "20.00")],
        "tenant_id long, shopify_order_id long, total_price string",
    ).selectExpr(
        "tenant_id",
        "shopify_order_id",
        "CAST(total_price AS DECIMAL(18,2)) AS total_price",
        "'USD' AS currency",
        "TIMESTAMP '2023-12-31 00:00:00' AS created_at",
        "'{}' AS raw",
        "TIMESTAMP '2023-12-31 00:00:00' AS created_recorded_at",
    )

    # window 1: died between demote and promote -> live missing, backup
    # holds every prior batch; recovery must restore it
    prior.write.parquet(backup)
    webhook._recover_silver_swap(silver)
    assert not os.path.exists(backup)
    assert {r.shopify_order_id for r in spark.read.parquet(silver).collect()} == {100, 101}

    # window 2: died after promote, before cleanup -> both exist; the
    # promoted table must win and the stale backup must go
    prior.limit(1).write.parquet(backup)
    webhook._recover_silver_swap(silver)
    assert not os.path.exists(backup)
    assert spark.read.parquet(silver).count() == 2

    # end-to-end: a batch arriving after window 1 must merge against the
    # RECOVERED table, not start from scratch
    os.rename(silver, backup)  # simulate the crash again
    src = _mk_webhooks(tmp_path, "swaprec", WH)
    stream = webhook.parse_order_events(
        webhook.deduped_stream(webhook.read_webhook_stream(spark, src))
    )
    q = webhook.start_bronze_to_silver(
        stream, silver, str(tmp_path / "swap" / "ckpt"),
        keys=["tenant_id", "shopify_order_id"],
    )
    q.awaitTermination(120)
    got = {r.shopify_order_id for r in spark.read.parquet(silver).collect()}
    assert {100, 101} <= got  # prior batches survived the crash


def test_quarantine_projection_is_queryable(spark, tmp_path):
    """The documented quarantine routing — filter on is_valid, project
    only error_raw — must actually run: a schema'd read.json intake
    throws UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN when the
    plan prunes to the corrupt column alone (the text+from_json intake
    has no such restriction)."""
    d = tmp_path / "quarantine"
    os.makedirs(d)
    with open(d / "mixed.json", "w") as f:
        f.write(json.dumps(WH[0]) + "\n")
        f.write("not json at all\n")
    df = webhook.read_webhooks_with_errors(spark, str(d))
    bad = df.filter(~F.col("is_valid")).select("error_raw").collect()
    assert [r.error_raw for r in bad] == ["not json at all"]
    good = df.filter(F.col("is_valid")).select("delivery_hash").collect()
    assert {r.delivery_hash for r in good} == {WH[0]["delivery_hash"]}


def test_blank_lines_do_not_become_valid_null_rows(spark, tmp_path):
    """The text source emits an empty-string row per blank line and
    from_json('') parses to a NULL struct (NOT a corrupt record), so an
    unfiltered blank line would surface as is_valid=true with every field
    — including the silver merge key — NULL. read.json silently skipped
    blank lines; the text+from_json intake must too."""
    d = tmp_path / "blanks"
    os.makedirs(d)
    with open(d / "mixed.json", "w") as f:
        f.write(json.dumps(WH[0]) + "\n")
        f.write("\n")          # blank line
        f.write("   \t \n")    # whitespace-only line
        f.write("not json\n")
    df = webhook.read_webhooks_with_errors(spark, str(d))
    rows = df.collect()
    assert len(rows) == 2  # one valid + one quarantined; blanks vanish
    valid = [r for r in rows if r.is_valid]
    assert len(valid) == 1 and valid[0].delivery_hash == WH[0]["delivery_hash"]
    assert all(r.delivery_hash is not None for r in valid)


# -- round-13 optimization: empty micro-batches skip the silver rewrite --

_SILVER_SCHEMA = (
    "tenant_id long, shopify_order_id long, total_price decimal(18,2), "
    "currency string, created_at timestamp, raw string, "
    "created_recorded_at timestamp"
)


def _silver_batch(spark, rows):
    return spark.createDataFrame(rows, _SILVER_SCHEMA)


def test_empty_batch_leaves_silver_files_untouched(spark, tmp_path):
    """An empty (watermark-advance) micro-batch must not pay the
    read-merge-rewrite-swap: the silver table's files stay byte-for-byte
    in place, while the run log still records the batch (ST5)."""
    import datetime as dt

    silver = str(tmp_path / "skip" / "orders")
    run_log: list = []
    process = webhook._make_batch_processor(
        silver, keys=["tenant_id", "shopify_order_id"], run_log=run_log
    )
    ts = dt.datetime(2024, 1, 1, 10, 0)
    from decimal import Decimal

    process(
        _silver_batch(
            spark, [(1, 100, Decimal("10.00"), "USD", ts, "{}", ts)]
        ),
        0,
    )
    files_before = {
        f: os.stat(os.path.join(silver, f)).st_mtime_ns
        for f in os.listdir(silver)
    }
    process(_silver_batch(spark, []), 1)
    files_after = {
        f: os.stat(os.path.join(silver, f)).st_mtime_ns
        for f in os.listdir(silver)
    }
    assert files_after == files_before  # no rewrite happened
    assert run_log[-1] == {"batch_id": 1, "n_rows": 0, "status": "ok"}


def test_first_batch_collapses_within_batch_duplicate_keys(spark, tmp_path):
    """The first batch goes through the same keyed merge as every later
    one, so within-batch key duplicates collapse immediately — silver is
    key-unique by construction (previously the trailing watermark-advance
    batch's full merge did this cleanup incidentally)."""
    import datetime as dt
    from decimal import Decimal

    silver = str(tmp_path / "firstdup" / "orders")
    process = webhook._make_batch_processor(
        silver, keys=["tenant_id", "shopify_order_id"], run_log=None
    )
    ts = dt.datetime(2024, 1, 1, 10, 0)
    process(
        _silver_batch(
            spark,
            [
                (1, 100, Decimal("10.00"), "USD", ts, "{}", ts),
                (1, 100, Decimal("12.00"), "USD", ts, "{}", ts),
                (2, 200, Decimal("5.00"), "USD", ts, "{}", ts),
            ],
        ),
        0,
    )
    out = spark.read.parquet(silver).collect()
    assert len(out) == 2  # one row per (tenant_id, shopify_order_id)
    assert {(r.tenant_id, r.shopify_order_id) for r in out} == {
        (1, 100),
        (2, 200),
    }


def test_stream_shuffle_partitions_scope(spark, monkeypatch):
    """The streaming-partition knob must apply inside the block (env
    override winning over the default) and restore the session value on
    exit, including on error."""
    from xboard_spark.streaming.conf import (
        STREAM_SHUFFLE_PARTITIONS_ENV,
        stream_shuffle_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_shuffle_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    monkeypatch.setenv(STREAM_SHUFFLE_PARTITIONS_ENV, "13")
    try:
        with stream_shuffle_partitions(spark):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_shuffle_partitions_validation(spark, monkeypatch):
    """A bad env value must fail loudly AT the boundary (naming the env
    var) and leave the session conf untouched — not surface later as an
    opaque query-start failure (ADVICE r13). An explicit default=0 must
    not silently map to the package default, and its error names the
    ``default`` argument, not the env var."""
    import pytest

    from xboard_spark.streaming.conf import (
        STREAM_SHUFFLE_PARTITIONS_ENV,
        stream_shuffle_partitions,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    for bad in ("banana", "0", "-4"):
        monkeypatch.setenv(STREAM_SHUFFLE_PARTITIONS_ENV, bad)
        with pytest.raises(ValueError, match=STREAM_SHUFFLE_PARTITIONS_ENV):
            with stream_shuffle_partitions(spark):
                pass  # pragma: no cover — must not be reached
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    monkeypatch.delenv(STREAM_SHUFFLE_PARTITIONS_ENV)
    with pytest.raises(ValueError, match="positive") as bad_default:
        with stream_shuffle_partitions(spark, default=0):
            pass  # pragma: no cover
    # the bad value came from the argument, not the environment
    msg = str(bad_default.value)
    assert msg.startswith("default ")
    assert STREAM_SHUFFLE_PARTITIONS_ENV not in msg
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
