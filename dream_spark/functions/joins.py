"""Size-gated physical-join hints.

The reference engine picks build/probe sides from its statistics cache
(QueryPlanner.c cost model); the Spark analog is the broadcast-vs-shuffle
decision.  An *unconditional* ``F.broadcast`` of a table that grows with the
corpus is a scale bug: correct at sf0.1, an executor/driver OOM at 100 TB.
Every broadcast of a non-constant-size table in this package goes through
``broadcast_if_small`` instead: hint only when the build side is provably
under a row threshold, otherwise return the frame unhinted and let
Catalyst/AQE pick a shuffle join (AQE can still upgrade to broadcast at
runtime from *measured* sizes — the right direction to be wrong in).

Tables that are small by construction (a fixed query set, IVF centroids,
band constants) keep their unconditional hint — gating them would only add
a count job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Conf knobs (settable at runtime on any session; defaults documented here).
# Rows, not bytes: callers hold arrays of known width, so a row bound is a
# byte bound.  1M rows × ~0.5 KB/row ≈ 512 MB — comfortably under Spark's
# 8 GB broadcast hard cap yet large enough that every local/test corpus
# broadcasts.
BROADCAST_MAX_ROWS_CONF = "spark.dream_spark.broadcast.maxRows"
DEFAULT_BROADCAST_MAX_ROWS = 1_000_000

# Connected-components: collect-to-driver union-find below this many
# (symmetrized) edges, distributed min-label propagation above.
CC_SMALL_EDGES_CONF = "spark.dream_spark.cc.smallEdges"
DEFAULT_CC_SMALL_EDGES = 2_000_000


def conf_int(spark: SparkSession, key: str, default: int) -> int:
    try:
        return int(spark.conf.get(key, str(default)))
    except Exception:
        return default


def broadcast_if_small(df: DataFrame, known_count: int | None = None) -> DataFrame:
    """``F.broadcast(df)`` iff the build side is provably small.

    ``known_count`` lets callers reuse a count they already materialized
    (e.g. a persisted kernel output) or a cheap parquet metadata count;
    when absent we count ``df`` directly — callers should only omit it for
    frames whose count is trivially computable (no UDF columns).
    """
    n = known_count if known_count is not None else df.count()
    thr = conf_int(df.sparkSession, BROADCAST_MAX_ROWS_CONF, DEFAULT_BROADCAST_MAX_ROWS)
    return F.broadcast(df) if n <= thr else df
