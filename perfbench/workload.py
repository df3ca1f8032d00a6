"""Shared plumbing of the three workloads: traced calls into the library's
layers and result normalisation for the checks."""

from __future__ import annotations

import datetime as dt
import decimal
import math

from perfbench.tracing import SparkProbe, Tracer


class Workload:
    """Base class. A workload generates its inputs from ``seed`` into
    ``workdir``, sets up against a live session, exposes a fixed operation
    ``plan()`` whose first operations the closed loop runs ``passes`` times,
    executes and checks one operation at a time, and reports its own
    per-layer numbers."""

    name = ""
    work_unit = "ops"
    # operations per second of --seconds: sizes the window's fixed work
    ops_per_second = 1.0
    # passes over the same operations; a workload whose operations change
    # the world for good (``ingest``) makes one
    passes = 1
    # passes over the window's operations that the first set-up runs to
    # warm up the fresh JVM (see ``harness``)
    warm_in_passes = 0

    def __init__(self, seed: int, workdir: str, tracer: Tracer):
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.probe: SparkProbe | None = None
        self.group: str | None = None
        self._handles: dict[tuple, object] = {}

    # -- lifecycle -----------------------------------------------------
    def generate(self, ops: list) -> None:
        """Write inputs and compute the expected results of ``ops``, the
        operations the window will run (not part of set-up)."""

    def setup(self, spark) -> None:
        """Open tables or fixtures and run the warm-up operations."""
        raise NotImplementedError

    def plan(self) -> list:
        raise NotImplementedError

    def reset(self) -> None:
        """Before each pass: undo what the last pass left behind, so every
        pass does the same work (untimed)."""

    def prepare(self, op) -> None:
        """Change the world the operation runs against (untimed)."""

    def execute(self, op) -> tuple[int, object]:
        """Run ``op``; return (units of work completed, result to check)."""
        raise NotImplementedError

    def check(self, op, result) -> bool:
        raise NotImplementedError

    def observe(self, op, latency: float) -> None:
        """Called with each operation's latency in the window."""

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        return {}

    def extra_groups(self) -> set[str]:
        """Job groups other than the operation's own that ran its jobs."""
        return set()

    # -- traced calls into the library --------------------------------
    def attach(self, spark) -> None:
        self.spark = spark
        self.probe = SparkProbe(spark) if self.tracer.enabled else None

    def read_table(self, sf_dir: str, name: str):
        from xboard_spark.io import read_table

        with self.tracer.span("io.read_table"):
            df = read_table(self.spark, sf_dir, name)
        key = (sf_dir, name)
        self.tracer.count("io.read_table_calls")
        if self._handles.get(key) is df:
            self.tracer.count("io.table_handle_hits")
        self._handles[key] = df
        return df

    def build(self, fn, *args, **kwargs):
        """Call an operator up to the DataFrame it returns, counting the
        jobs it launched eagerly on the way."""
        jobs0 = self._jobs()
        with self.tracer.span("operators.build"):
            df = fn(*args, **kwargs)
        if self.probe is not None:
            self.tracer.count("operators.build_jobs", self._jobs() - jobs0)
        return df

    def collect(self, df) -> list:
        with self.tracer.span("spark.exec"):
            rows = df.collect()
        if self.probe is not None:
            with self.tracer.bookkeeping():
                for phase, ms in self.probe.phases_ms(df).items():
                    self.tracer.count(f"spark.{phase}_ms", ms)
        return rows

    def _jobs(self) -> int:
        """Jobs launched so far under the current operation's job group."""
        if self.probe is None or self.group is None:
            return 0
        with self.tracer.bookkeeping():
            return self.probe.group_shape(self.group)[0]


def norm_value(v):
    """A cell in a form both engines agree on: floats to 6 decimals,
    decimals through float, timestamps and dates as ISO text."""
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6) + 0.0
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def norm_rows(rows, ordered: bool = True) -> list[tuple]:
    out = [tuple(norm_value(v) for v in r) for r in rows]
    return out if ordered else sorted(out, key=repr)
