"""A planted wrong answer is caught and counted."""

import os
import types

import duckdb

from perfbench import harness
from perfbench.corpus import KINDS, Corpus
from perfbench.dashboard import Dashboard, _oracle_sql
from perfbench.harness import Op
from perfbench.tracing import Tracer


def test_dashboard_catches_planted_wrong_rows(tmp_path):
    d = Dashboard(3, str(tmp_path), Tracer(False))
    d.generate(d.plan())
    con = duckdb.connect()
    for t in ("customer", "orders", "nation", "region"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d.data_dir}/{t}.parquet')")
    for op in {op.kind: op for op in d.plan()}.values():
        rows = con.execute(_oracle_sql(op)).fetchall()
        assert d.check(op, rows), op
        assert not d.check(op, rows[:-1]), op  # a row missing
        bad = [list(r) for r in rows]
        bad[0][1] = -1 if isinstance(bad[0][1], int) else "planted"
        assert not d.check(op, [tuple(r) for r in bad]), op  # a wrong value


def test_corpus_checks_every_call_against_its_corpus_twin():
    c = Corpus(1, "/unused", Tracer(False))
    c.oracle[Op("similar_docs", (0,))] = [(1, 2, 3, 0.5)]
    c.oracle[Op("similar_docs", (1,))] = [(1, 2, 3, 0.4)]
    assert c.check(Op("similar_docs", (0,)), [(1, 2, 3, 0.5)])
    assert c.check(Op("similar_docs", (1,)), [(1, 2, 3, 0.4)])
    assert not c.check(Op("similar_docs", (1,)), [(1, 2, 3, 0.6)])  # a wrong value
    assert not c.check(Op("similar_docs", (1,)), [(1, 2, 3, 0.5)])  # another corpus's answer


def test_corpus_expects_each_corpus_its_own_rows(tmp_path):
    """A call served another corpus's index or pairs fails its check."""
    c = Corpus(1, str(tmp_path), Tracer(False))
    c.generate([Op(kind, (label,)) for kind in KINDS for label in (0, 1)])
    for kind in KINDS:
        full, sub = c.oracle[Op(kind, (0,))], c.oracle[Op(kind, (1,))]
        assert full != sub, kind
        assert not c.check(Op(kind, (1,)), full), kind


class Planted:
    """A workload whose every third answer is wrong."""

    name = "planted"
    work_unit = "ops"

    passes = 2

    def __init__(self):
        self.tracer = Tracer(False)
        self.probe = None
        self.n = 0
        self.resets = 0

    def reset(self):
        self.resets += 1

    def plan(self):
        return [Op("a"), Op("b"), Op("c")]

    def prepare(self, op):
        pass

    def execute(self, op):
        self.n += 1
        return 1, "wrong" if op.kind == "c" else "right"

    def observe(self, op, latency):
        pass

    def check(self, op, result):
        return result == "right"


def test_window_counts_wrong_answers_as_failures():
    session = types.SimpleNamespace(jvm_proc=types.SimpleNamespace(pid=os.getpid()))
    w = Planted()
    r = harness._window(w, types.SimpleNamespace(sparkContext=None), w.plan() * 2, 60.0, session)
    assert [len(lat) for lat in r["latencies"]] == [6, 6]
    assert len(r["kinds"]) == w.n == 12 and w.resets == 2
    assert r["failed"] == 4
    assert [p["work"] for p in r["passes"]] == [4, 4]


class Raising(Planted):
    """Every ``b`` operation raises."""

    def execute(self, op):
        if op.kind == "b":
            raise RuntimeError("planted failure")
        return super().execute(op)


def test_window_counts_raising_operations_as_failures():
    session = types.SimpleNamespace(jvm_proc=types.SimpleNamespace(pid=os.getpid()))
    w = Raising()
    r = harness._window(w, types.SimpleNamespace(sparkContext=None), w.plan() * 2, 60.0, session)
    assert len(r["kinds"]) == 12
    assert r["failed"] == 8  # four raised, four wrong
    assert sum(p["work"] for p in r["passes"]) == 4
