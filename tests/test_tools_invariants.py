"""Measurement and fixture tools keep the invariants their docstrings
claim: solo_bench's per-attempt reset really empties the index caches and
each attempt records its build time and Spark job count, the
scaling-probe generator refuses keys that would collide across copies,
and check_oracle — like anything that builds its session with
``get_spark`` — runs UDF queries from any working directory."""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib
import subprocess
import sys

import pyarrow as pa
import pytest

from xboard_spark.io import read_table
from xboard_spark.operators import dedup

_TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"


def _tool(name):
    spec = importlib.util.spec_from_file_location(name, _TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_solo_bench_reset_empties_index_caches(spark, sf_dir):
    solo_bench = _tool("solo_bench")
    dedup.cached_filtered_index(read_table(spark, sf_dir, "documents"), 5, 50)
    assert len(dedup._INDEX_CACHE) > 0
    solo_bench.reset(spark)
    assert len(dedup._INDEX_CACHE) == 0


def test_solo_bench_reports_build_time_per_attempt(spark, sf_dir, monkeypatch, capsys):
    # build: seconds until the query function returned its DataFrame, one
    # per attempt, never more than the attempt's total
    solo_bench = _tool("solo_bench")
    monkeypatch.setattr(sys, "argv", ["solo_bench", "minhash_dedup", "2", sf_dir])
    solo_bench.main()
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rec["build"]) == len(rec["attempts"]) == 2
    assert all(0 <= b <= t for b, t in zip(rec["build"], rec["attempts"]))
    assert set(rec) >= {"query", "attempts", "cold", "min", "misses"}
    # jobs: the Spark jobs launched under each attempt's own job group
    assert len(rec["jobs"]) == 2 and all(j > 0 for j in rec["jobs"])


def test_scale_probe_rejects_keys_that_would_collide():
    probe = _tool("scale_probe_data")
    ok = pa.table({"o_orderkey": [1, probe.SHIFT - 1], "o_custkey": [0, 5]})
    probe._check_shift(ok, "orders.parquet", {"o_orderkey", "o_custkey"})
    for bad in (probe.SHIFT, -1):
        t = pa.table({"o_orderkey": [1, 2], "o_custkey": [3, bad]})
        with pytest.raises(ValueError, match=r"orders\.parquet: key column o_custkey"):
            probe._check_shift(t, "orders.parquet", {"o_orderkey", "o_custkey"})


def test_check_oracle_runs_udf_queries_outside_the_repo(sf_dir, tmp_path):
    # no PYTHONPATH and a cwd outside the repo: the Python UDF workers can
    # only import xboard_spark if get_spark exports the repo path itself
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    run = subprocess.run(
        [sys.executable, str(_TOOLS / "check_oracle.py"), sf_dir, "char_lm_fluency"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.stdout.strip().splitlines()[-1] == "0 failures", run.stdout[-2000:]


def test_get_spark_exports_the_package_to_udf_workers(tmp_path):
    """A Python UDF whose worker imports xboard_spark, run through
    ``get_spark`` from a cwd outside the repo with no PYTHONPATH."""
    script = f"""
import sys
sys.path.insert(0, {str(_TOOLS.parent)!r})
from pyspark.sql import functions as F
from xboard_spark.session import get_spark

def probe(x):
    import xboard_spark
    return len(xboard_spark.__version__)

spark = get_spark("udf-path-probe", master="local[1]", shuffle_partitions=1)
print(spark.range(1).select(F.udf(probe, "long")("id")).first()[0])
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.strip().splitlines()[-1] == "5"
