"""Plan construction stays cheap in py4j gateway commands: sessions built by
``get_spark`` skip PySpark's per-call call-site capture, and the MinHash
signature and band expressions are built as SQL text. Each test counts the
commands the Python side sends to the JVM."""

from __future__ import annotations

import contextlib

import duckdb
import pytest
from py4j import protocol as proto
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from xboard_spark.functions.portable_hash import (
    MINHASH_P,
    _X_MASK,
    duck_fingerprint64,
    fingerprint64,
    fingerprint64_sql,
    minhash_params,
)
from xboard_spark.io import read_table
from xboard_spark.operators import dedup


# py4j releases a Java object once its Python proxy is garbage collected,
# whenever that happens; those commands are left out of the count
_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


@contextlib.contextmanager
def gateway_commands(monkeypatch):
    """Yield a one-item list holding the number of gateway commands sent
    inside the block, not counting object releases."""
    sent = [0]
    send = GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        sent[0] += not command.startswith(_RELEASE)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", counting)
        yield sent


@pytest.fixture(scope="module")
def inv(spark, sf_dir):
    return dedup.cached_filtered_index(read_table(spark, sf_dir, "documents"), 3, 100)


def test_session_skips_call_site_capture(spark, monkeypatch):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    x = F.col("x")
    with gateway_commands(monkeypatch) as sent:
        x * 5
    assert sent[0] == 1  # 11 with the capture on


def test_minhash_build_is_a_few_hundred_commands(inv, monkeypatch):
    with gateway_commands(monkeypatch) as sent:
        dedup.band_hashes(dedup.minhash_signatures(inv))
    # Column-built expressions: 3298 with the capture on, 1068 with it off
    assert sent[0] < 300, sent[0]


def _column_signatures(inv):
    x = F.col("shfp").bitwiseAND(F.lit(_X_MASK))
    return inv.groupBy("doc_id").agg(
        *[
            F.min((x * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig_{i}")
            for i, (a, b) in enumerate(minhash_params(dedup.N_PERMS))
        ]
    )


def _column_bands(sigs):
    rows_per_band = dedup.N_PERMS // dedup.N_BANDS
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            fingerprint64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"sig_{bi * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bh"),
        )
        for bi in range(dedup.N_BANDS)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def test_sql_text_matches_column_expressions(spark, inv):
    sigs, ref_sigs = dedup.minhash_signatures(inv), _column_signatures(inv)
    assert sigs.dtypes == ref_sigs.dtypes
    assert sorted(sigs.collect()) == sorted(ref_sigs.collect())
    bands, ref_bands = dedup.band_hashes(sigs), _column_bands(ref_sigs)
    assert bands.dtypes == ref_bands.dtypes == [
        ("doc_id", "bigint"), ("band", "int"), ("bh", "bigint")
    ]
    got = sorted(bands.collect())
    assert got and got == sorted(ref_bands.collect())

    texts = ["", "naïve café — 東京 😀", "x" * 10_000]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, s string")
    rows = df.orderBy("i").select(
        fingerprint64(F.col("s")).alias("col"),
        F.expr(fingerprint64_sql("s")).alias("sql"),
    ).collect()
    duck = [
        duckdb.execute(f"SELECT {duck_fingerprint64('$1')}", [t]).fetchone()[0]
        for t in texts
    ]
    assert [r.col for r in rows] == [r.sql for r in rows] == duck
