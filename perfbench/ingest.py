"""``ingest``: the write path — REST backfill, webhook stream, read-back.

The plan cycles over the tenants of a seeded Shopify store, three
operations per tenant:

1. ``sync``: the store applies a seeded share of changes, then
   ``sources.rest.capture_tenant`` walks every entity's 250-row pages
   through an in-process transport, ``ingest.ingest_tenant_capture`` reads
   them, ``ingest.merge_upsert`` merges them into each entity's silver
   table and ``io.write_silver`` rewrites the whole table (staged, then
   swapped in). Silver grows as tenants sync.
2. ``webhook``: one JSONL delivery file with a share of redelivered lines
   goes through one ``availableNow`` run of ``streaming.webhook``
   (``read_webhook_stream`` -> ``deduped_stream`` -> ``parse_order_events``
   -> ``start_bronze_to_silver``) on a checkpoint shared by the whole run.
3. ``check``: reads the tenant's silver orders back through
   ``io.read_table``, whose cached table handle must miss after the
   rewrite.

After every operation the silver tables are compared, through pyarrow, with
the generator's expected state: the store's rows as of each tenant's last
sync, and for webhooks the latest version of each order with redeliveries
collapsed. Work is counted as entity rows landed in silver.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq

from perfbench.datagen import ShopifyStore, WebhookFeed
from perfbench.harness import Op
from perfbench.workload import Workload

N_TENANTS = 3
SIZES = {"customers": 600, "orders": 900, "products": 300}
# The shares below are assumptions, not measured traffic: the repository
# records no sync or webhook statistics. They are set so that every sync both
# rewrites and adds rows, and every webhook batch both updates orders and
# carries redeliveries.
CHANGE_SHARE = 0.10
NEW_SHARE = 0.02
WEBHOOK_ORDERS = 300
UPDATE_SHARE = 0.30
REDELIVERY_SHARE = 0.15
PLAN_CYCLES = 20
# entity -> (silver key column, compared columns)
SILVER = {
    "customers": ("shopify_customer_id", ("email", "name")),
    "orders": ("shopify_order_id", ("total_price", "currency", "customer_shopify_id")),
    "products": ("shopify_product_id", ("title", "vendor", "product_type", "handle")),
}
WEBHOOK_TABLE = "webhook_orders"


def expected_row(entity: str, e: dict) -> tuple:
    """The compared silver columns the normalizers derive from a payload."""
    if entity == "customers":
        return (e["email"], " ".join(x for x in (e["first_name"], e["last_name"]) if x).strip())
    if entity == "orders":
        return (e["total_price"], e["currency"], e["customer"]["id"])
    return (e["title"], e["vendor"], e["product_type"], e["handle"])


def _cell(v):
    return f"{v:.2f}" if hasattr(v, "quantize") else v


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


class Ingest(Workload):
    name = "ingest"
    work_unit = "rows"
    ops_per_second = 0.5

    def __init__(self, seed, workdir, tracer):
        super().__init__(seed, workdir, tracer)
        self.root = os.path.join(workdir, "ingest")
        self.silver = os.path.join(self.root, "silver")
        self.inbox = os.path.join(self.root, "webhooks")
        self._plan = self.make_plan()
        self._groups: set[str] = set()
        self.c = {"rows_changed": 0, "lines": 0, "landed": 0}
        self.progress: list[dict] = []

    @staticmethod
    def make_plan() -> list[Op]:
        plan = []
        for _ in range(PLAN_CYCLES):
            for t in range(1, N_TENANTS + 1):
                plan += [Op("sync", (t,)), Op("webhook", (t,)), Op("check", (t,))]
        return plan

    def plan(self) -> list[Op]:
        return self._plan

    def setup(self, spark) -> None:
        self.attach(spark)
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.inbox)
        self.store = ShopifyStore(self.seed, N_TENANTS, SIZES, CHANGE_SHARE, NEW_SHARE)
        self.feed = WebhookFeed(self.seed, N_TENANTS, WEBHOOK_ORDERS, UPDATE_SHARE, REDELIVERY_SHARE)
        self.synced: dict[str, dict[int, dict]] = {e: {} for e in SILVER}
        for op in self._plan[:3]:
            self.prepare(op)
            self.execute(op)
        # the window counts from here
        self.c = dict.fromkeys(self.c, 0)
        self.progress = []
        self._seen = self._silver_files()

    # -- operations ----------------------------------------------------
    def prepare(self, op: Op) -> None:
        """The world changes before the operation: the store advances, or
        the next webhook delivery file lands in the inbox."""
        t = op.args[0]
        if op.kind == "sync":
            self.changed = self.store.advance(t)
            for e in SILVER:
                self.synced[e][t] = {r["id"]: expected_row(e, r) for r in self.store.listing(e, t)}
        elif op.kind == "webhook":
            lines, self.distinct = self.feed.next_batch()
            self.lines = len(lines)
            path = os.path.join(self.inbox, f"batch-{self.feed.batches:05d}.json")
            with open(path + ".tmp", "w") as f:
                f.write("\n".join(lines) + "\n")
            os.rename(path + ".tmp", path)  # the file source sees whole files only

    def execute(self, op: Op):
        if op.kind == "sync":
            return self._sync(op.args[0])
        if op.kind == "webhook":
            return self._webhook()
        return 0, self._read_back(op.args[0])

    def _sync(self, tenant: int):
        from xboard_spark import ingest
        from xboard_spark.io import read_silver, write_silver
        from xboard_spark.sources.rest import capture_tenant

        s = self.store
        pages0, bytes0, rows0 = s.pages_served, s.bytes_served, s.rows_served
        with self.tracer.span("sources.rest.capture"):
            dirs = capture_tenant(
                f"t{tenant}.myshopify.example", "token",
                os.path.join(self.root, "capture", str(tenant)),
                transport=s.transport_for(tenant),
            )
        self.tracer.count("sources.rest.pages", s.pages_served - pages0)
        self.tracer.count("sources.rest.bytes", s.bytes_served - bytes0)
        self.tracer.count("ingest.rows_in", s.rows_served - rows0)
        with self.tracer.span("ingest.read"):
            frames = ingest.ingest_tenant_capture(self.spark, tenant, dirs)
        landed = 0
        for entity, (key, _) in SILVER.items():
            path = os.path.join(self.silver, f"{entity}.parquet")
            new = frames[entity]
            with self.tracer.span("ingest.merge"):
                current = (
                    read_silver(self.spark, path)
                    if os.path.exists(path)
                    else self.spark.createDataFrame([], new.schema)
                )
                merged = ingest.merge_upsert(current, new, keys=["tenant_id", key])
            staging = path + "._staging"
            with self.tracer.span("io.write_silver"):
                write_silver(merged, staging)
            self._swap(staging, path)
            landed += len(self.synced[entity][tenant])
        self.c["rows_changed"] += self.changed
        return landed, None

    @staticmethod
    def _swap(staging: str, path: str) -> None:
        """Promote a staged table over the live one (the stage-then-swap
        ``streaming.webhook`` uses for its silver)."""
        backup = path + "._backup"
        if os.path.exists(path):
            os.rename(path, backup)
        os.rename(staging, path)
        shutil.rmtree(backup, ignore_errors=True)

    def _webhook(self):
        from xboard_spark.streaming.conf import stream_shuffle_partitions
        from xboard_spark.streaming.webhook import (
            deduped_stream,
            parse_order_events,
            read_webhook_stream,
            start_bronze_to_silver,
        )

        with stream_shuffle_partitions(self.spark):
            with self.tracer.span("streaming.build"):
                stream = parse_order_events(deduped_stream(read_webhook_stream(self.spark, self.inbox)))
            with self.tracer.span("streaming.start"):
                q = start_bronze_to_silver(
                    stream,
                    os.path.join(self.silver, f"{WEBHOOK_TABLE}.parquet"),
                    os.path.join(self.root, "checkpoint"),
                    keys=["tenant_id", "shopify_order_id"],
                )
            with self.tracer.span("streaming.batch"):
                q.awaitTermination()
        if self.tracer.enabled:
            self._groups.add(str(q.runId))
            self.progress += [json.loads(p.json) for p in q.recentProgress]
        self.c["lines"] += self.lines
        self.c["landed"] += self.distinct
        self.c["rows_changed"] += self.distinct
        return self.distinct, None

    def _read_back(self, tenant: int):
        from pyspark.sql import functions as F

        orders = self.read_table(self.silver, "orders")
        df = orders.filter(F.col("tenant_id") == tenant).select("shopify_order_id", *SILVER["orders"][1])
        return self.collect(df)

    # -- checks --------------------------------------------------------
    def check(self, op: Op, result) -> bool:
        with self.tracer.span("bench.check"):
            ok = all(self._silver_matches(e) for e in SILVER) and self._webhook_matches()
            if op.kind == "check":
                want = self.synced["orders"][op.args[0]]
                got = {r[0]: tuple(_cell(v) for v in r[1:]) for r in result}
                ok = ok and len(result) == len(want) and got == want
        return ok

    def _silver_matches(self, entity: str) -> bool:
        key, cols = SILVER[entity]
        path = os.path.join(self.silver, f"{entity}.parquet")
        want = {(t, k): v for t, rows in self.synced[entity].items() for k, v in rows.items()}
        if not os.path.exists(path):
            return not want
        tbl = pq.read_table(path, columns=["tenant_id", key, *cols]).to_pydict()
        got = {
            (int(t), k): tuple(_cell(tbl[c][i]) for c in cols)
            for i, (t, k) in enumerate(zip(tbl["tenant_id"], tbl[key]))
        }
        return len(tbl[key]) == len(want) and got == want

    def _webhook_matches(self) -> bool:
        path = os.path.join(self.silver, f"{WEBHOOK_TABLE}.parquet")
        want = self.feed.state
        if not os.path.exists(path):
            return not want
        tbl = pq.read_table(path, columns=["tenant_id", "shopify_order_id", "total_price", "currency", "created_at"]).to_pydict()
        got = {
            (t, k): (_cell(p), c, ts.strftime("%Y-%m-%d %H:%M:%S"))
            for t, k, p, c, ts in zip(*tbl.values())
        }
        return len(tbl["shopify_order_id"]) == len(want) and got == want

    # -- per-layer -----------------------------------------------------
    def extra_groups(self) -> set[str]:
        return self._groups

    def _silver_files(self) -> dict[str, tuple[int, int]]:
        files = {}
        for name in (*SILVER, WEBHOOK_TABLE):
            files.update(_files(os.path.join(self.silver, f"{name}.parquet")))
        return files

    def observe(self, op: Op, latency: float) -> None:
        """Files the operation wrote: silver files new or rewritten since
        the previous operation."""
        if self.tracer.enabled:
            files = self._silver_files()
            new = [f for f, v in files.items() if self._seen.get(f) != v]
            self._seen = files
            self.tracer.count("io.files_written", len(new))
            self.tracer.count("io.bytes_written", sum(files[f][0] for f in new))
            self.tracer.count("io.rows_written", sum(pq.ParquetFile(f).metadata.num_rows for f in new))
            self.tracer.count("ingest.rows_out", sum(pq.ParquetFile(f).metadata.num_rows for f in files))

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        c = self.tracer.counts
        dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in self.progress)  # noqa: E731
        state = [op.get("numRowsTotal", 0) for p in self.progress for op in p.get("stateOperators", [])]
        return {
            "sources.rest.pages": c["sources.rest.pages"] / n_ops,
            "sources.rest.bytes": c["sources.rest.bytes"] / n_ops,
            "ingest.rows_in": c["ingest.rows_in"] / n_ops,
            "ingest.rows_out": c["ingest.rows_out"] / n_ops,
            "io.files_written": c["io.files_written"] / n_ops,
            "io.bytes_written": c["io.bytes_written"] / n_ops,
            "io.write_amplification": c["io.rows_written"] / max(self.c["rows_changed"], 1),
            "streaming.add_batch_ms": dur("addBatch") / n_ops,
            "streaming.query_planning_ms": dur("queryPlanning") / n_ops,
            "streaming.wal_commit_ms": dur("walCommit") / n_ops,
            "streaming.latest_offset_ms": dur("latestOffset") / n_ops,
            "streaming.commit_offsets_ms": dur("commitOffsets") / n_ops,
            "streaming.input_rows": sum(p.get("numInputRows", 0) for p in self.progress) / n_ops,
            "streaming.state_rows_total": state[-1] if state else 0,
            "streaming.dedup_useful_ratio": self.c["landed"] / max(self.c["lines"], 1),
        }
