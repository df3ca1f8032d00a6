"""Streaming-query partitioning knob.

Structured Streaming cannot use AQE (Spark disables it per query with a
warning), so every stateful operator gets exactly
``spark.sql.shuffle.partitions`` state-store partitions and every
micro-batch shuffle keeps that width with no runtime coalescing. The
batch side of this engine leans on AQE to right-size partitions from
data; streaming needs the width chosen up front.

Each HDFS-backed state-store partition pays fixed per-micro-batch costs
(provider init, delta/snapshot file, checksum file, commit), so when the
state key space is far smaller than the partition count the overhead
dominates: the round-13 measurement on the tumbling-window demo read
min-of-3 6.20 s at the session default 32 vs 3.16 s at 8 (identical
results; 4 bought only 0.3 s more). The demos' state spaces are bounded
by construction — (day x event_type) window panels, delivery-hash dedup
within a bounded watermark — so a small default is the right shape, not
a local tuning trick.

``XBOARD_STREAM_SHUFFLE_PARTITIONS`` overrides the default for real
deployments: at production volume state partitioning should scale with
state size (keys x bytes), e.g. hundreds of partitions for a
billion-key dedup state, exactly like choosing shuffle partitions for a
batch job without AQE (guide §2.2: 100 MB-1 GB per partition). The knob
is deliberately independent of the core count so the driver's
scaling-vs-cores bench keeps measuring the same per-query work.
"""

from __future__ import annotations

import contextlib
import os

STREAM_SHUFFLE_PARTITIONS_ENV = "XBOARD_STREAM_SHUFFLE_PARTITIONS"
DEFAULT_STREAM_SHUFFLE_PARTITIONS = 8


@contextlib.contextmanager
def stream_shuffle_partitions(spark, default: int | None = None):
    """Temporarily set ``spark.sql.shuffle.partitions`` for a streaming
    run, restoring the session value afterwards. State partition counts
    are pinned into each checkpoint at first run, so wrap the WHOLE
    demo (all runs sharing a checkpoint) in one ``with`` block."""
    n = os.environ.get(STREAM_SHUFFLE_PARTITIONS_ENV)
    # validate at the boundary, naming where the bad value came from: a
    # bad value written into spark.sql.shuffle.partitions only surfaces
    # later as an opaque query-start failure deep inside the stream
    # (ADVICE r13)
    source = STREAM_SHUFFLE_PARTITIONS_ENV
    if n is None:
        n = str(DEFAULT_STREAM_SHUFFLE_PARTITIONS if default is None else default)
        source = "default"
    try:
        n_int = int(n)
    except ValueError:
        raise ValueError(f"{source}={n!r} is not an integer") from None
    if n_int <= 0:
        raise ValueError(f"{source} must be a positive integer, got {n!r}")
    n = str(n_int)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
