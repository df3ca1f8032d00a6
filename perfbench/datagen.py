"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` (numpy ``default_rng``), so the
same seed writes byte-identical parquet files and serves identical REST pages
and webhook deliveries. The program under test only ever sees the generated
files; it never sees the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-shaped dimensions at sf0.1 (the scale ROADMAP's fixed-overhead figure
# was measured at).
N_CUSTOMERS = 15_000
N_ORDERS = 150_000
N_NATIONS = 25
N_REGIONS = 5
GUEST_KEYS = 150  # order custkeys with no customer row ("Guest Customer")

ORDER_DAYS = 2_405  # 1992-01-01 .. 1998-08-02, the TPC-H order date span

WORDS = (
    "a the data spark table query join sort hash key value row column batch "
    "stream window merge filter group agg scan part line order customer "
    "vector fast slow big small index shard cache plan stage task shuffle"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def write_parquet(path: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), path)


def tpch_tables(seed: int, out_dir: str) -> dict[str, str]:
    """customer / orders / nation / region at sf0.1, as ``{name}.parquet``
    under ``out_dir`` (the layout ``xboard_spark.io.read_table`` reads).
    Money is whole cents / 100 and order dates are midnights, so every
    result the dashboard checks is exact in both engines."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    write_parquet(
        os.path.join(out_dir, "region.parquet"),
        {
            "r_regionkey": pa.array(np.arange(N_REGIONS, dtype=np.int32)),
            "r_name": pa.array([f"REGION_{i}" for i in range(N_REGIONS)]),
        },
    )
    write_parquet(
        os.path.join(out_dir, "nation.parquet"),
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i:02d}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array(
                (np.arange(N_NATIONS) % N_REGIONS).astype(np.int32)
            ),
        },
    )
    custkeys = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    write_parquet(
        os.path.join(out_dir, "customer.parquet"),
        {
            "c_custkey": pa.array(custkeys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in custkeys]),
            "c_nationkey": pa.array(
                rng.integers(0, N_NATIONS, N_CUSTOMERS).astype(np.int32)
            ),
            "c_acctbal": pa.array(
                rng.integers(-99_999, 999_999, N_CUSTOMERS) / 100.0
            ),
            "c_mktsegment": pa.array(
                rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    N_CUSTOMERS,
                )
            ),
        },
    )
    days = rng.integers(0, ORDER_DAYS, N_ORDERS)
    dates = np.datetime64("1992-01-01", "us") + days.astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    write_parquet(
        os.path.join(out_dir, "orders.parquet"),
        {
            "o_orderkey": pa.array(np.arange(1, N_ORDERS + 1, dtype=np.int64) * 4),
            "o_custkey": pa.array(
                rng.integers(1, N_CUSTOMERS + GUEST_KEYS + 1, N_ORDERS).astype(
                    np.int64
                )
            ),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS)),
            "o_totalprice": pa.array(
                rng.integers(85_000, 50_000_000, N_ORDERS) / 100.0
            ),
            "o_orderdate": pa.array(dates, type=pa.timestamp("us")),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)
            ),
        },
    )
    return {t: os.path.join(out_dir, f"{t}.parquet") for t in ("customer", "orders", "nation", "region")}


def documents_table(seed: int, out_dir: str, n_docs: int) -> str:
    """``documents.parquet`` in the testdata schema (doc_id, text, lang,
    source, n_chars) over a small vocabulary, with planted near-duplicates
    (an earlier doc with 1-3 words swapped) and exact duplicates, so every
    dedup consumer returns non-empty results.

    The corpus *shape* — document lengths, which document copies which,
    word positions — comes from a fixed generator; the seed permutes the
    vocabulary. So every seed gets different text, shingles and hashes,
    but the same shingle frequencies and duplicate structure, and hence
    the same amount of index and pair work."""
    shape = np.random.default_rng(20_240_101)
    vocab = [WORDS[i] for i in np.random.default_rng([seed, 2]).permutation(len(WORDS))]
    seqs: list[list[int]] = []
    for i in range(n_docs):
        r = shape.random()
        if i > 10 and r < 0.15:
            words = list(seqs[int(shape.integers(0, i))])
            for _ in range(int(shape.integers(1, 4))):
                words[int(shape.integers(0, len(words)))] = int(shape.integers(0, len(WORDS)))
            seqs.append(words)
        elif i > 10 and r < 0.18:
            seqs.append(seqs[int(shape.integers(0, i))])
        else:
            seqs.append([int(j) for j in shape.integers(0, len(WORDS), int(shape.integers(8, 70)))])
    texts = [" ".join(vocab[j] for j in seq) for seq in seqs]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    write_parquet(
        path,
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(shape.choice(LANGS, n_docs, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )
    return path


# rows per page when a request names no ``limit``: the Admin REST maximum the
# reference requests (``shopifyApi.js:35-45``)
PAGE_LIMIT = 250


class ShopifyStore:
    """A seeded multi-tenant Shopify store behind an in-process transport.

    Each tenant owns customers, orders and products. ``advance(tenant)``
    applies the changes since the last sync: a seeded share of entities gets
    a new version and a few new entities appear. ``transport`` serves the
    Admin REST listing with ``limit`` rows per page, ``Link: rel="next"``
    cursors, and the cursor re-serve overlap of real pagination (each page
    after the first repeats the previous page's last row), which
    ``ingest.ingest_entity_pages`` must collapse.

    ``state[entity][(tenant, id)]`` is the store's current truth: after a
    sync of ``tenant`` its silver rows must equal the tenant's slice of it.
    """

    ENTITIES = ("customers", "orders", "products")

    def __init__(self, seed: int, n_tenants: int, sizes: dict[str, int],
                 change_share: float, new_share: float):
        self.rng = np.random.default_rng([seed, 3])
        self.n_tenants = n_tenants
        self.change_share = change_share
        self.new_share = new_share
        self.version = 0
        self.state: dict[str, dict[tuple[int, int], dict]] = {e: {} for e in self.ENTITIES}
        self.next_id = {e: 1 for e in self.ENTITIES}
        self.pages_served = 0
        self.bytes_served = 0
        self.rows_served = 0
        for t in range(1, n_tenants + 1):
            for e in self.ENTITIES:
                for _ in range(sizes[e]):
                    self._new(e, t)

    def _new(self, entity: str, tenant: int) -> None:
        eid = self.next_id[entity]
        self.next_id[entity] += 1
        self.state[entity][(tenant, eid)] = self._render(entity, eid)

    def _render(self, entity: str, eid: int) -> dict:
        v = self.version
        r = self.rng
        if entity == "customers":
            return {
                "id": eid,
                "email": f"c{eid}.v{v}@shop.example",
                "first_name": WORDS[int(r.integers(0, len(WORDS)))],
                "last_name": f"L{int(r.integers(0, 10_000))}",
                "created_at": "2024-01-02T03:04:05Z",
            }
        if entity == "orders":
            return {
                "id": eid,
                "total_price": f"{int(r.integers(100, 1_000_000)) / 100:.2f}",
                "currency": "USD" if r.random() < 0.8 else "EUR",
                "created_at": f"2024-{int(r.integers(1, 13)):02d}-{int(r.integers(1, 29)):02d}T10:00:00Z",
                "customer": {"id": int(r.integers(1, 1_000))},
            }
        return {
            "id": eid,
            "title": f"Product {eid} v{v}",
            "body_html": "<p>" + " ".join(WORDS[j] for j in r.integers(0, len(WORDS), 6)) + "</p>",
            "vendor": f"vendor{int(r.integers(0, 20))}",
            "product_type": WORDS[int(r.integers(0, len(WORDS)))],
            "handle": f"product-{eid}",
        }

    def advance(self, tenant: int) -> int:
        """Apply one sync interval of changes to ``tenant``; returns the
        number of entities new or changed since its last sync."""
        self.version += 1
        changed = 0
        for e in self.ENTITIES:
            keys = sorted(k for k in self.state[e] if k[0] == tenant)
            n_change = int(round(len(keys) * self.change_share))
            for i in self.rng.choice(len(keys), n_change, replace=False):
                self.state[e][keys[i]] = self._render(e, keys[i][1])
            n_new = max(1, int(round(len(keys) * self.new_share)))
            for _ in range(n_new):
                self._new(e, tenant)
            changed += n_change + n_new
        return changed

    def listing(self, entity: str, tenant: int) -> list[dict]:
        return [v for k, v in sorted(self.state[entity].items()) if k[0] == tenant]

    def transport_for(self, tenant: int):
        """A ``sources.rest`` transport serving ``tenant``'s listings."""
        from urllib.parse import parse_qs, urlparse

        def transport(url: str, headers: dict[str, str]) -> tuple[bytes, dict]:
            u = urlparse(url)
            q = parse_qs(u.query)
            entity = os.path.basename(u.path).removesuffix(".json")
            limit = int(q.get("limit", [PAGE_LIMIT])[0])
            page = int(q.get("page_info", ["0"])[0])
            rows = self.listing(entity, tenant)
            start = page * limit
            # cursor re-serve: a later page repeats the previous last row
            chunk = rows[max(0, start - 1) if page else 0: start + limit]
            body = json.dumps({entity: chunk}).encode()
            resp: dict[str, str] = {}
            if start + limit < len(rows):
                nxt = f"{u.scheme}://{u.netloc}{u.path}?limit={limit}&page_info={page + 1}"
                resp["Link"] = f'<{nxt}>; rel="next"'
            self.pages_served += 1
            self.bytes_served += len(body)
            self.rows_served += len(chunk)
            return body, resp

        return transport


class WebhookFeed:
    """Seeded order webhooks: each batch is one JSONL delivery file of new
    and updated orders across tenants, with a share of lines redelivered
    (identical line, same ``delivery_hash``). Batches arrive an hour apart
    in event time, so the 10-minute dedup watermark never drops a batch.

    ``state[(tenant, order_id)]`` is the expected silver after every batch
    processed so far: latest version wins, redeliveries collapse."""

    def __init__(self, seed: int, n_tenants: int, batch_orders: int,
                 update_share: float, redelivery_share: float):
        self.rng = np.random.default_rng([seed, 4])
        self.n_tenants = n_tenants
        self.batch_orders = batch_orders
        self.update_share = update_share
        self.redelivery_share = redelivery_share
        self.batches = 0
        self.next_id = 1_000_000
        self.state: dict[tuple[int, int], tuple[str, str, str]] = {}

    def next_batch(self) -> tuple[list[str], int]:
        """(lines, distinct orders) for the next delivery file."""
        r = self.rng
        self.batches += 1
        received = (dt.datetime(2025, 1, 1) + dt.timedelta(hours=self.batches)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        known = sorted(self.state)
        n_upd = min(len(known), int(self.batch_orders * self.update_share))
        keys = [known[i] for i in r.choice(len(known), n_upd, replace=False)] if n_upd else []
        while len(keys) < self.batch_orders:
            keys.append((int(r.integers(1, self.n_tenants + 1)), self.next_id))
            self.next_id += 1
        lines = []
        for tenant, oid in keys:
            price = f"{int(r.integers(100, 1_000_000)) / 100:.2f}"
            currency = "USD" if r.random() < 0.8 else "EUR"
            created = f"2024-{int(r.integers(1, 13)):02d}-{int(r.integers(1, 29)):02d} 10:00:00"
            self.state[(tenant, oid)] = (price, currency, created)
            payload = json.dumps(
                {"id": oid, "total_price": price, "currency": currency, "created_at": created}
            )
            lines.append(
                json.dumps(
                    {
                        "tenant_id": tenant,
                        "topic": "orders/updated",
                        "shop_domain": f"t{tenant}.myshopify.example",
                        "received_at": received,
                        "delivery_hash": f"b{self.batches}-{tenant}-{oid}",
                        "raw_payload": payload,
                    }
                )
            )
        n_redeliver = int(len(lines) * self.redelivery_share)
        lines += [lines[i] for i in r.choice(len(lines), n_redeliver, replace=False)]
        order = r.permutation(len(lines))
        return [lines[i] for i in order], len(keys)
