"""One seed gives one operation sequence; seeds change inputs, not the
plan's shape."""

from perfbench.corpus import DROPPED, KINDS, PASS, Corpus
from perfbench.tracing import Tracer
from perfbench.dashboard import BLOCK, Dashboard


def test_dashboard_plan_is_a_function_of_the_seed():
    a, b = Dashboard.make_plan(7), Dashboard.make_plan(7)
    assert len(a) == len(b) and a == b
    assert Dashboard.make_plan(8) != a


def test_dashboard_block_calls_every_endpoint_once():
    for seed in (1, 2, 3):
        plan = Dashboard.make_plan(seed)
        for start in range(0, len(plan), len(BLOCK)):
            assert sorted(op.kind for op in plan[start:start + len(BLOCK)]) == sorted(BLOCK)


def test_corpus_plan_is_the_same_for_every_seed():
    a = Corpus(7, "/unused", Tracer(False)).plan()
    assert Corpus(8, "/unused", Tracer(False)).plan() == a
    assert {op.args[0] for op in a} == set(range(len(DROPPED)))


def test_corpus_pass_holds_every_consumer_once_per_four_calls():
    for start in range(0, len(PASS), len(KINDS)):
        assert sorted(kind for kind, _ in PASS[start:start + len(KINDS)]) == sorted(KINDS)


def test_corpus_pass_has_cold_builds_and_hits():
    """From empty caches (each pass starts so), the first call on a corpus
    builds its index, and the first minhash call on it builds its pairs."""
    index, pairs, cold = set(), set(), []
    for kind, corpus in PASS:
        misses = corpus not in index or (kind == "minhash_dedup_pairs" and corpus not in pairs)
        cold.append(misses)
        index.add(corpus)
        if kind == "minhash_dedup_pairs":
            pairs.add(corpus)
    assert sum(cold) == 3 and len(PASS) - sum(cold) == 5
    assert round(20 * Corpus.ops_per_second / Corpus.passes) == len(PASS)


def test_documents_differ_by_seed_but_keep_their_shape(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.datagen import documents_table

    a = pq.read_table(documents_table(1, str(tmp_path / "a"), 200)).to_pydict()
    b = pq.read_table(documents_table(2, str(tmp_path / "b"), 200)).to_pydict()
    assert a["text"] != b["text"]
    assert [len(t.split()) for t in a["text"]] == [len(t.split()) for t in b["text"]]


def test_dashboard_window_is_whole_blocks():
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    assert round(seconds * Dashboard.ops_per_second / Dashboard.passes) % len(BLOCK) == 0
