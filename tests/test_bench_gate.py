"""bench.py's gate and suspect re-measure are pure, shared code: the gate
reproduces the recorded runs' ratios and verdicts from BASELINE_BENCH.json,
flags a planted regression in the recorded message format, and a retry
that crashes never discards the original measurement. The driver-heap
default follows the host's RAM."""

from __future__ import annotations

import importlib.util
import json
import pathlib

import pytest

_REPO = pathlib.Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("bench", _REPO / "bench.py")
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

BASELINE = json.loads((_REPO / "BASELINE_BENCH.json").read_text())


def _gate_extended(run: dict) -> tuple[dict, list]:
    """The extended gate as bench.main composes it: wall times, except
    streaming_dedup_pairs, which gates on its steady number."""
    steady = {bench.STREAM: run["streaming_dedup_split"]["steady_sec"]}
    wall = {n: dt for n, dt in run["extended"].items() if n not in steady}
    ratios, regressions = bench.gate(
        wall, BASELINE["extended"], BASELINE["extended_rebaselined"]
    )
    s_ratios, s_regressions = bench.gate(
        steady, BASELINE["extended_steady"], {}, label="steady "
    )
    return {**ratios, **s_ratios}, regressions + s_regressions


@pytest.mark.parametrize(
    "recorded, stream_ratio",
    [("BENCH_r14.json", 0.64), ("BENCH_r14_c8.json", 0.76)],
)
def test_gate_reproduces_recorded_runs(recorded, stream_ratio):
    run = json.loads((_REPO / recorded).read_text())["parsed"]
    assert run["sf"] == BASELINE["sf"]

    ratios, regressions = bench.gate(
        run["queries"], BASELINE["queries"], BASELINE["rebaselined"]
    )
    assert ratios == run["vs_baseline"]
    assert regressions == run["regressions"] == []

    ext_ratios, ext_regressions = _gate_extended(run)
    assert len(ext_ratios) == 103
    assert ext_ratios == run["extended_vs_baseline"]
    assert ext_ratios[bench.STREAM] == stream_ratio
    assert ext_regressions == run["extended_regressions"] == []


def test_planted_regression_is_flagged_in_the_recorded_format():
    run = json.loads((_REPO / "BENCH_r14.json").read_text())["parsed"]
    timings = dict(run["queries"])
    timings["knn_ivf"] = 3.48  # 3x its rebaselined 1.16s
    timings["doc_stats"] = 1.3  # 2.5x its 0.52s, but <1s above it
    ratios, regressions = bench.gate(
        timings, BASELINE["queries"], BASELINE["rebaselined"]
    )
    assert (ratios["knn_ivf"], ratios["doc_stats"]) == (3.0, 2.5)
    assert regressions == ["knn_ivf: 3.48s vs baseline 1.16s (3.0x)"]

    run["streaming_dedup_split"] = {"steady_sec": 34.032}  # 3x 11.344s
    _, ext_regressions = _gate_extended(run)
    assert ext_regressions == [
        "streaming_dedup_pairs: steady 34.032s vs baseline 11.344s (3.0x)"
    ]


def _measure(values):
    calls = []

    def measure():
        calls.append(1)
        v = values[len(calls) - 1]
        if isinstance(v, Exception):
            raise v
        return v

    return measure, calls


def test_remeasure_retry_crash_keeps_the_original_time():
    measure, calls = _measure([RuntimeError("executor lost\n  at stack frame")])
    retry_errors: dict[str, str] = {}
    assert bench.remeasure("knn_ivf", measure, 5.0, 1.0, retry_errors) == 5.0
    assert len(calls) == 1
    assert retry_errors == {"knn_ivf": "RuntimeError: executor lost"}


@pytest.mark.parametrize(
    "dt, values, expect, n_calls",
    [
        (1.5, [9.0], 1.5, 0),  # not a suspect: never re-measured
        (5.0, [1.2, 9.0], 1.2, 1),  # first retry clears: stop there
        (5.0, [4.0, 1.5, 0.1], 1.5, 2),  # second retry clears
        (5.0, [9.0, 6.0, 0.1], 5.0, 2),  # at most two retries; min stands
    ],
)
def test_remeasure_retries_suspects_at_most_twice(dt, values, expect, n_calls):
    measure, calls = _measure(values)
    retry_errors: dict[str, str] = {}
    assert bench.remeasure("q", measure, dt, 1.0, retry_errors) == expect
    assert len(calls) == n_calls
    assert retry_errors == {}


@pytest.mark.parametrize(
    "ram_gib, expect", [(15, "7680m"), (32, "16384m"), (128, "16384m")]
)
def test_driver_mem_default_is_half_of_ram_capped_at_16g(monkeypatch, ram_gib, expect):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_gib * 2**30 // 4096}
    monkeypatch.setattr(bench.os, "sysconf", pages.__getitem__)
    assert bench.default_driver_mem() == expect


def test_error_line_keeps_the_python_worker_cause(spark):
    """A UDF failure reaches the driver as a PythonException whose message
    opens with a blank line; the record must keep the worker's error."""
    from pyspark.sql import functions as F

    @F.udf("long")
    def boom(x):
        raise ValueError("boom-xyz")

    with pytest.raises(Exception) as caught:
        spark.range(1).select(boom("id")).collect()
    assert bench.error_line(caught.value) == "PythonException: ValueError: boom-xyz"
    assert bench.error_line(RuntimeError("first\nsecond")) == "RuntimeError: first"
