"""The ingest workload's generated store and webhook feed."""

import json
import os

from xboard_spark.sources.rest import fetch_entity_pages

from perfbench.datagen import ShopifyStore, WebhookFeed


def test_paged_capture_reserves_boundary_rows_and_covers_the_listing(tmp_path):
    store = ShopifyStore(1, 2, {"customers": 600, "orders": 10, "products": 10}, 0.1, 0.02)
    paths = fetch_entity_pages(
        "https://t1.example/admin", "customers.json", "tok", str(tmp_path / "c"),
        "customers", transport=store.transport_for(1),
    )
    pages = [json.load(open(p))["customers"] for p in paths]
    assert len(pages) == 3  # 600 rows at 250 per page
    assert pages[1][0] == pages[0][-1]  # the cursor re-serves the boundary row
    ids = {row["id"] for page in pages for row in page}
    assert ids == {row["id"] for row in store.listing("customers", 1)}


def test_advance_changes_a_share_and_adds_rows():
    store = ShopifyStore(1, 1, {"customers": 100, "orders": 100, "products": 100}, 0.1, 0.02)
    before = {k: dict(v) for k, v in store.state["customers"].items()}
    changed = store.advance(1)
    after = store.state["customers"]
    assert changed == 3 * (10 + 2)
    assert sum(1 for k in before if after[k] != before[k]) == 10
    assert len(after) == 102


def test_webhook_feed_redelivers_and_keeps_the_latest_version():
    feed = WebhookFeed(1, 3, 100, 0.3, 0.15)
    lines1, n1 = feed.next_batch()
    assert n1 == 100 and len(lines1) == 115  # 15% redelivered
    assert len({json.loads(x)["delivery_hash"] for x in lines1}) == 100
    lines2, _ = feed.next_batch()
    latest = {}
    for line in lines1 + lines2:
        w = json.loads(line)
        p = json.loads(w["raw_payload"])
        latest[(w["tenant_id"], p["id"])] = (p["total_price"], p["currency"], p["created_at"])
    assert latest == feed.state
    assert len(feed.state) == 170  # 30 of batch 2 update batch-1 orders
