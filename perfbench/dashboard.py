"""``dashboard``: the read-only XBoard analytics endpoints.

A seeded sequence of dashboard views, each calling the six
``operators.analytics`` requests once in seeded order, each resolving its
tables through ``io.read_table`` as a request handler does and collecting a
tiny result over sf0.1 (150k orders, 15k customers). Almost all of a request
is per-query fixed cost: table resolution, DataFrame build, Catalyst, job
scheduling and codegen. No index cache, no writes, no streaming.

One pass is the first two views (12 requests); the window makes three
and the first set-up two more as JIT warm-in (see ``harness``).

Every distinct request's expected rows come from DuckDB over the same
parquet files, computed before set-up.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

from perfbench import datagen
from perfbench.harness import Op
from perfbench.workload import Workload, norm_rows

# The repository records no request counts per endpoint, so the mix is an
# assumption: one block is one dashboard view, which calls each endpoint
# once. The seed orders each block and draws the date range, the customer
# looked up and the tenant; top_customers and recent_orders use the
# reference's fixed sizes.
BLOCK = (
    "overview",
    "orders_by_date",
    "top_customers",
    "recent_orders",
    "customer_lookup",
    "tenant_orders_overview",
)
TOP_K = 5  # LIMIT 5, routes/analytics.js:95-96
RECENT_LIMIT = 10  # default limit, routes/analytics.js:109
PLAN_BLOCKS = 30
RANGE_DAYS = 180
CENTS = "sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT::DOUBLE / 100.0"


def _oracle_sql(op: Op) -> str:
    a = op.args
    if op.kind == "overview":
        return (
            "SELECT (SELECT count(*) FROM customer), count(*), "
            f"coalesce({CENTS}, 0.0), min(o_orderstatus) FROM orders"
        )
    if op.kind == "orders_by_date":
        return (
            f"SELECT CAST(o_orderdate AS DATE) AS d, count(*), {CENTS} FROM orders "
            f"WHERE o_orderdate >= TIMESTAMP '{a[0]}' AND o_orderdate <= TIMESTAMP '{a[1]}' "
            "GROUP BY 1 ORDER BY 1 DESC"
        )
    if op.kind == "top_customers":
        return (
            "SELECT coalesce(c_custkey, -1) AS id, coalesce(c_name, 'Guest Customer'), "
            f"count(o_orderkey), {CENTS} AS spent "
            "FROM orders LEFT JOIN customer ON o_custkey = c_custkey "
            f"GROUP BY 1, 2 ORDER BY spent DESC, id ASC LIMIT {a[0]}"
        )
    if op.kind == "recent_orders":
        return (
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, o_orderdate "
            f"FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT {a[0]}"
        )
    if op.kind == "customer_lookup":
        return (
            "SELECT c_custkey, c_name, n_name, r_name, round(c_acctbal, 2) FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
            f"WHERE c_custkey = {a[0]}"
        )
    if op.kind == "tenant_orders_overview":
        return (
            f"SELECT o_orderstatus, count(*), {CENTS}, count(DISTINCT o_custkey) "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE c_nationkey = {a[0]} GROUP BY 1 ORDER BY 1"
        )
    raise ValueError(f"unknown dashboard request {op.kind!r}")


class Dashboard(Workload):
    name = "dashboard"
    work_unit = "requests"
    ops_per_second = 1.8  # at 20 s: 3 passes over two whole blocks (12 requests)
    passes = 3
    warm_in_passes = 2

    def __init__(self, seed, workdir, tracer):
        super().__init__(seed, workdir, tracer)
        self.data_dir = os.path.join(workdir, "tpch")
        self._plan = self.make_plan(seed)
        self.expected: dict[Op, list[tuple]] = {}

    @staticmethod
    def make_plan(seed: int) -> list[Op]:
        rng = np.random.default_rng([seed, 10])
        day0 = dt.date(1992, 1, 1)
        ranges = []
        for _ in range(12):  # same length, so every range costs the same
            start = day0 + dt.timedelta(days=int(rng.integers(0, datagen.ORDER_DAYS - RANGE_DAYS)))
            end = start + dt.timedelta(days=RANGE_DAYS)
            ranges.append((f"{start} 00:00:00", f"{end} 00:00:00"))
        params = {
            "overview": [()],
            "orders_by_date": ranges,
            "top_customers": [(TOP_K,)],
            "recent_orders": [(RECENT_LIMIT,)],
            "customer_lookup": [(int(k),) for k in rng.integers(1, datagen.N_CUSTOMERS + 1, 24)],
            "tenant_orders_overview": [(int(k),) for k in range(datagen.N_NATIONS)],
        }
        plan = []
        for _ in range(PLAN_BLOCKS):
            block = [Op(kind, params[kind][int(rng.integers(0, len(params[kind])))]) for kind in BLOCK]
            plan += [block[i] for i in rng.permutation(len(block))]
        return plan

    def plan(self) -> list[Op]:
        return self._plan

    def generate(self, ops: list[Op]) -> None:
        import duckdb

        paths = datagen.tpch_tables(self.seed, self.data_dir)
        con = duckdb.connect()
        try:
            for t, p in paths.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for op in set(ops):
                self.expected[op] = norm_rows(con.execute(_oracle_sql(op)).fetchall())
        finally:
            con.close()

    def setup(self, spark) -> None:
        self.attach(spark)
        seen = []
        for op in self._plan:  # warm-up: the first request of each kind
            if op.kind not in seen:
                seen.append(op.kind)
                self.execute(op)

    def execute(self, op: Op):
        from xboard_spark.operators import analytics as A

        t = lambda name: self.read_table(self.data_dir, name)  # noqa: E731
        a = op.args
        if op.kind == "overview":
            df = self.build(A.overview, t("customer"), t("orders"))
        elif op.kind == "orders_by_date":
            df = self.build(A.orders_by_date, t("orders"), a[0][:10], a[1][:10])
        elif op.kind == "top_customers":
            df = self.build(A.top_customers, t("orders"), t("customer"), a[0])
        elif op.kind == "recent_orders":
            df = self.build(A.recent_orders, t("orders"), a[0])
        elif op.kind == "customer_lookup":
            df = self.build(A.customer_lookup, t("customer"), t("nation"), t("region"), a[0])
        else:
            df = self.build(A.tenant_orders_overview, t("customer"), t("orders"), t("nation"), a[0])
        return 1, self.collect(df)

    def check(self, op: Op, result) -> bool:
        with self.tracer.span("bench.check"):
            return norm_rows(result) == self.expected[op]
