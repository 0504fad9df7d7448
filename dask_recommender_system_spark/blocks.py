"""Block-offset scans: global ordered scans without a single-partition
window, plus the small frame helpers operators share with ``models``.

A global rank, running sum or running max is a prefix scan over a total
order. Written as ``OVER (ORDER BY ...)`` it plans a single-partition
window: one task holds every row, the guaranteed OOM at 10⁹ keys
(VERDICT r01 "What's wrong #3"). :func:`block_scan` runs the same scan in
two passes instead:

1. range-partition the frame on the order (partition order = value
   order) and pin the blocks with an eager checkpoint, so every later
   job sees identical blocks;
2. collect each block's aggregates — one O(partitions)-row collect,
   cluster-sized, not data-sized — and combine them driver-side into
   EXCLUSIVE prefixes in block order, broadcast-joined back.

The caller finishes the scan with a window keyed by block
(:func:`block_window`): prefix + block-local scan. Range partitioning
orders the blocks by value, so the result is bit-identical to the
single-window scan (the ROW_NUMBER/SUM-OVER DuckDB oracles hold) while
the largest task holds |rows|/partitions rows.

This module imports only pyspark and ``registry``, so operator modules
use it without loading the training stack in ``models``.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import checkpoint

_PID = "_pid"

# combine kind -> (per-block aggregate, first block's prefix, combine)
_KINDS = {"sum": (F.sum, 0, operator.add), "max": (F.max, None, max)}


def block_scan(
    df: DataFrame,
    order: str | Column | Sequence[str | Column],
    num_parts: int | None = None,
    **aggs: tuple[str, str | Column],
) -> tuple[DataFrame, dict]:
    """Range-partition ``df`` on ``order`` into ``num_parts`` blocks
    (default: ``defaultParallelism``) and attach, per block, the exclusive
    prefix of every aggregate ``name=("sum" | "max", agg_col)`` over all
    earlier blocks — 0 before the first "sum" block, NULL before the
    first "max" one. A row count is ``("sum", F.lit(1))``.

    Returns ``(frame, totals)``: ``frame`` is ``df`` plus one column per
    name (and the block id :func:`block_window` keys on); ``totals`` maps
    each name to its grand total over all rows. Empty blocks are skipped."""
    spark = df.sparkSession
    p = num_parts or spark.sparkContext.defaultParallelism
    order = [order] if isinstance(order, (str, Column)) else list(order)
    # explicit num_parts: AQE never coalesces a user-specified repartition,
    # and the checkpoint pins block identity across the two passes
    tagged = checkpoint(df.repartitionByRange(p, *order)).withColumn(
        _PID, F.spark_partition_id()
    )
    stats = tagged.groupBy(_PID).agg(
        *[_KINDS[kind][0](c).alias(name) for name, (kind, c) in aggs.items()]
    )
    prefix = {name: _KINDS[kind][1] for name, (kind, _) in aggs.items()}
    rows = []
    for row in sorted(stats.collect(), key=lambda r: r[_PID]):
        rows.append((row[_PID], *prefix.values()))
        for name, (kind, _) in aggs.items():
            v, acc = row[name], prefix[name]
            if v is not None:
                prefix[name] = v if acc is None else _KINDS[kind][2](acc, v)
    schema = T.StructType(
        [T.StructField(_PID, T.IntegerType())]
        + [T.StructField(name, stats.schema[name].dataType) for name in aggs]
    )
    offsets = spark.createDataFrame(rows, schema)
    return tagged.join(F.broadcast(offsets), _PID), prefix


def block_window(*order: str | Column) -> WindowSpec:
    """The block-local window of a :func:`block_scan` frame: ordered like
    the scan, keyed by block, so each task orders only its own rows."""
    return W.partitionBy(_PID).orderBy(*order)


def encode_sorted_rank(
    keys: DataFrame, col: str, idx_name: str, num_parts: int | None = None
) -> DataFrame:
    """Dense 0..n-1 encoding of the distinct values of ``col``, equal to
    ``row_number() OVER (ORDER BY col) - 1`` — a :func:`block_scan` row
    count plus a block-local row number."""
    blocks, _ = block_scan(
        keys.select(col).distinct(), col, num_parts, _off=("sum", F.lit(1))
    )
    rank = F.col("_off") + F.row_number().over(block_window(col)) - 1
    return blocks.select(col, rank.cast("long").alias(idx_name))


def exact_quantiles_cont(
    df: DataFrame, col: str, qs: tuple[float, ...], num_parts: int | None = None
) -> dict[float, float]:
    """Exact continuous quantiles (quantile_cont / Spark ``percentile``
    semantics: 0-indexed position (n-1)·q, linear interpolation between
    the two bracketing order statistics) of one column, WITHOUT the
    built-in exact ``percentile`` aggregate.

    Spark's exact percentile buffers every DISTINCT value of the column
    in a single aggregation buffer (an OpenHashMap merged onto one
    reducer) — fine for low-cardinality measures, a guaranteed heap OOM
    for a continuous score column at scale (observed: 18M unique doubles
    killed the JVM in the 30× sweep). Here the global rank of every value
    comes from :func:`block_scan`, and only the ≤ 2·|qs| bracketing rows
    reach the driver, which interpolates. Ties may straddle block
    boundaries — irrelevant, since equal values interpolate to the same
    result regardless of tie order. An empty column gives NaN."""
    blocks, totals = block_scan(
        df.select(F.col(col).alias("_v")), "_v", num_parts, _off=("sum", F.lit(1))
    )
    n = totals["_off"]
    if n == 0:
        return {q: float("nan") for q in qs}
    plan, targets = [], set()
    for q in qs:
        pos = (n - 1) * q
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        plan.append((q, pos, lo, hi))
        targets.update((lo, hi))
    rank = F.col("_off") + F.row_number().over(block_window("_v")) - 1
    rows = (
        blocks.select("_v", rank.alias("_rank"))
        .filter(F.col("_rank").isin(sorted(targets)))
        .collect()
    )
    by_rank = {r["_rank"]: r["_v"] for r in rows}
    return {
        q: by_rank[lo] + (pos - lo) * (by_rank[hi] - by_rank[lo])
        for q, pos, lo, hi in plan
    }


def encode_column(df: DataFrame, col: str, idx_name: str) -> DataFrame:
    """Dictionary-encode a key column to dense 0..n-1 ints (reference
    models/als.py:29-32's enumerate-dict, as a DataFrame): the
    ``(value, sorted-rank idx)`` frame of :func:`encode_sorted_rank`."""
    return encode_sorted_rank(
        df.select(F.col(col).alias("value")), "value", idx_name
    )


def hash_uniform(id_col: F.Column, j: int, scale: float, salt: int = 0) -> F.Column:
    """Deterministic 'uniform [0, scale)' init from integer hashing — the
    reproducible stand-in for the reference's unseeded da.random init
    (models/als.py:73-76; SURVEY.md §5.1 shows exact-value parity with the
    reference is impossible anyway). Reproducible across engines, retries
    and repartitioning — at scale, init you can recompute beats init you
    must persist."""
    h = (id_col * 2654435761 + F.lit(j * 40503 + salt * 7919)) % 100000
    return h.cast("double") / 100000.0 * scale


def broadcast_if_fits(df: DataFrame, est_bytes: int) -> DataFrame:
    """Size-aware broadcast hint (guide §3.1): when the DRIVER knows a
    frame's size (row count × width — e.g. from a count it already ran),
    and that estimate fits under the session's autoBroadcastJoinThreshold,
    hint the broadcast so the initial plan is the final plan. Iterative
    loops joining a checkpointed dimension-sized frame otherwise plan
    SortMergeJoin every round (LogicalRDD carries no size statistics) and
    AQE only rescues the join AFTER materializing the dim-side exchange —
    measured on the training epochs (18.3 → 13.5 jobs/epoch) and the
    pagerank iterations (1.0–2.5 s → 0.73–0.82 s per round at sf0.1).
    Past the threshold (e.g. 10⁹-node rank vectors, which must never
    broadcast) the frame is returned unhinted and the planner keeps the
    shuffle strategy — scale-adaptive, not a local[32] constant."""
    raw = str(
        df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
    ).strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3}
    mult = 1
    raw = raw.removesuffix("b")
    if raw and raw[-1] in units:
        mult = units[raw[-1]]
        raw = raw[:-1]
    try:
        thr = int(raw) * mult
    except ValueError:
        thr = 10 * 1024**2
    if 0 < est_bytes <= thr:
        return F.broadcast(df)
    return df
