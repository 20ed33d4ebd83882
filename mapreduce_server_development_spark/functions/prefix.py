"""Distributed global prefix sum (running total over a total order).

A window ``SUM(...) OVER (ORDER BY k)`` with no PARTITION BY collapses
to a single task in Spark — the whole dataset flows through one
executor, which is exactly the kind of plan that dies at 100 TB. The
classic scalable formulation is the two-phase scan:

1. range-partition by the order key (global order across partitions,
   sorted within) and compute PER-PARTITION totals — one tiny row per
   partition;
2. cumulate those totals on the driver (bounded: one scalar per
   partition, a few thousand values at any realistic scale) into
   per-partition OFFSETS, broadcast them back, and add each
   partition's offset to its local running sum.

Every heavy step is distributed; the driver only ever sees
``num_partitions`` scalars (same bounded-scalar pattern as the
connected-components convergence probe).

No reference counterpart (the reference has no ordered-aggregate
surface); public-knowledge algorithm (textbook parallel scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize

#: Internal column names — prefixed to avoid user-column collisions.
_PID = "__prefix_pid"
_OFF = "__prefix_offset"


def global_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = sum of ``value_col`` over all rows with
    ``order_col`` <= this row's (inclusive running total in the global
    ``order_col`` order; the order key must be unique).

    The range-partitioned frame is localCheckpoint()ed so the partition
    assignment seen by the totals pass and the offset-join pass is the
    same physical one (range boundaries come from sampling and must not
    be recomputed between passes).
    """
    import decimal

    from pyspark.sql import types as T

    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = materialize(
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn(_PID, F.spark_partition_id())
    )
    # Tiny: one row per partition. The offset column takes the SUM's
    # own result type (long sums stay long, double double, decimal the
    # widened decimal) so non-integer value columns work too.
    totals_df = part.groupBy(_PID).agg(F.sum(value_col).alias("t"))
    sum_type = totals_df.schema["t"].dataType
    if isinstance(sum_type, T.DecimalType):
        zero: object = decimal.Decimal(0)
    elif isinstance(sum_type, (T.DoubleType, T.FloatType)):
        zero = 0.0
    else:
        zero = 0
    totals = totals_df.collect()
    by_pid = {r[_PID]: (r["t"] if r["t"] is not None else zero) for r in totals}
    offsets, acc = {}, zero
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    off_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()],
        T.StructType(
            [
                T.StructField(_PID, T.IntegerType()),
                T.StructField(_OFF, sum_type),
            ]
        ),
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(off_df), _PID)
        .withColumn(out_col, F.sum(value_col).over(w) + F.col(_OFF))
        .drop(_PID, _OFF)
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str | Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = 1-based global ``row_number()`` over the total
    order given by ``order_cols`` (names or sort expressions such as
    ``F.col("x").desc_nulls_last()``) — WITHOUT the single-task global
    sort that ``row_number().over(Window.orderBy(...))`` compiles to.

    Same two-phase scan as :func:`global_running_sum`: range-partition
    on the order expressions (globally ordered across partitions,
    sorted within), count rows per partition (one scalar each),
    cumulate those bounded counts into per-partition offsets on the
    driver, broadcast back, and add each partition's offset to its
    local ``row_number``. Rows whose full order tuple ties are numbered
    arbitrarily among themselves (range partitioning keeps equal tuples
    in one partition, so the numbering is still a valid total order);
    pass a unique tie-break column for full determinism.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = materialize(
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    # Tiny: one row per partition.
    counts = part.groupBy(_PID).count().collect()
    by_pid = {r[_PID]: r["count"] for r in counts}
    offsets, acc = {}, 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    off_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], f"{_PID} int, {_OFF} long"
    )
    w = Window.partitionBy(_PID).orderBy(*cols)
    return (
        part.join(F.broadcast(off_df), _PID)
        .withColumn(out_col, F.row_number().over(w).cast("long") + F.col(_OFF))
        .drop(_PID, _OFF)
    )


def global_running_min(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_min",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = min of ``value_col`` over all rows with
    ``order_col`` <= this row's (inclusive prefix minimum in the global
    order; the order key must be unique) — the same two-phase scan as
    :func:`global_running_sum` with min in place of sum: per-partition
    minima (one scalar each) cumulate on the driver into prior-prefix
    offsets, and each row takes the lesser of its local running min and
    its partition's offset. Needed by CUSUM-style control statistics,
    where S_t = P_t - min(0, min_{tau<=t} P_tau) turns the sequential
    recurrence into two distributed prefix passes.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = materialize(
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn(_PID, F.spark_partition_id())
    )
    totals_df = part.groupBy(_PID).agg(F.min(value_col).alias("t"))
    min_type = totals_df.schema["t"].dataType
    totals = totals_df.collect()
    by_pid = {r[_PID]: r["t"] for r in totals}
    offsets: dict[int, object] = {}
    acc: object = None
    for pid in sorted(by_pid):
        offsets[pid] = acc
        m = by_pid[pid]
        # A partition whose values are all NULL yields a NULL minimum;
        # it contributes nothing to downstream prefixes (same as an
        # empty partition), so skip it rather than min(acc, None).
        if m is None:
            continue
        acc = m if acc is None else min(acc, m)

    from pyspark.sql import types as T

    off_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()],
        T.StructType(
            [
                T.StructField(_PID, T.IntegerType()),
                T.StructField(_OFF, min_type),
            ]
        ),
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = F.min(value_col).over(w)
    return (
        part.join(F.broadcast(off_df), _PID)
        .withColumn(
            out_col,
            F.when(F.col(_OFF).isNull(), local).otherwise(
                F.least(local, F.col(_OFF))
            ),
        )
        .drop(_PID, _OFF)
    )
