"""tools/sweep.py builds every hostile fixture with pyarrow alone: schemas
(physical types included) survive, each transform really plants rows,
every fixture carries a recorded oracle-failure set of registered queries,
and the tool exits 0 only when the oracle fails exactly that set."""

from __future__ import annotations

import importlib.util
import os
import pathlib
import sys

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod

_TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"
_spec = importlib.util.spec_from_file_location("sweep", _TOOLS / "sweep.py")
sweep = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sweep)


def _rows(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


@pytest.mark.parametrize("name", sorted(sweep.FIXTURES))
def test_fixture_keeps_schemas_and_plants_rows(name, sf_dir, tmp_path):
    out = str(tmp_path / name)
    planted = sweep.build(name, sf_dir, out)

    tables = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    assert sorted(os.listdir(out)) == tables
    for f in tables:
        src = pq.ParquetFile(os.path.join(sf_dir, f))
        dst = pq.ParquetFile(os.path.join(out, f))
        assert dst.schema_arrow.equals(src.schema_arrow), f
        assert dst.schema.equals(src.schema), f  # parquet physical types

    assert planted and all(n > 0 for n in planted.values()), planted
    assert sweep.FIXTURES[name].expected <= set(entrymod.queries())


def test_empty_fixture_has_no_rows(sf_dir, tmp_path):
    out = str(tmp_path / "empty")
    sweep.build("empty", sf_dir, out)
    for f in os.listdir(out):
        assert _rows(out, f[: -len(".parquet")]) == 0, f


def test_onerow_fixture_keeps_one_corpus_row_and_full_dimensions(sf_dir, tmp_path):
    out = str(tmp_path / "onerow")
    sweep.build("onerow", sf_dir, out)
    for f in os.listdir(out):
        table = f[: -len(".parquet")]
        want = 1 if table in sweep.CORPUS else _rows(sf_dir, table)
        assert _rows(out, table) == want, table
    assert set(sweep.CORPUS) == {"lineitem", "events", "documents", "embeddings"}


@pytest.mark.parametrize(
    "failed, rc",
    [
        (["streaming_silver_merge"], 0),
        ([], 1),  # a recorded failure that stopped failing
        (["streaming_silver_merge", "knn_ivf"], 1),  # a new failure
    ],
)
def test_sweep_exits_zero_only_on_the_recorded_failing_set(
    failed, rc, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.syspath_prepend(str(_TOOLS))
    import check_oracle

    monkeypatch.setattr(check_oracle, "run", lambda out: failed)
    monkeypatch.setattr(sys, "argv", ["sweep.py", "onerow", sf_dir, str(tmp_path / "o")])
    assert sweep.main() == rc
