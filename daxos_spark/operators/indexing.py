"""Deterministic contiguous row indexing — the engine's replacement for
the reference's positional identity (SURVEY §7.2 "row order/identity").

The reference relies on implicit dask-array row positions for every
alignment (J2 ordered join, J5 prediction join-back, X1 chunk-aligned
folds). Spark rows are unordered, so the fact table carries an explicit
``row_idx`` assigned once at ingest; all later "alignment" is an
equi-join on it.

Assignment is fully distributed (no single-partition global window):
per-partition local row_numbers + a tiny driver-side cumulative-offset
map, broadcast back. Scales to any row count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def with_row_idx(
    df: DataFrame,
    order_col: str | Column | None = None,
    idx_col: str = "row_idx",
) -> DataFrame:
    """Add a contiguous 0-based ``row_idx``.

    order_col:
      - a column/expression: rows are globally ordered by it (ties broken
        arbitrarily-but-deterministically within partitions via the sort)
        using repartitionByRange — each partition holds a contiguous
        key range, so local index + partition offset is a global order.
      - None: current partition order is kept (file order for a fresh
        scan) — cheapest, no shuffle.
    """
    work = df
    if order_col is not None:
        oc = F.col(order_col) if isinstance(order_col, str) else order_col
        work = df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, oc.asc())
        work = work.sortWithinPartitions(oc.asc())

    pid = F.spark_partition_id()
    w = Window.partitionBy(pid).orderBy(F.monotonically_increasing_id())
    # persist: the counts action and the final join must see the SAME
    # partitioning (rand()/range-sampling would otherwise re-roll).
    local = (
        work.withColumn("__pid", pid).withColumn("__local", F.row_number().over(w)).persist()
    )

    # per-partition counts → cumulative offsets (driver-side, #partitions
    # rows, so they are put in partition order here, not by a Spark sort)
    counts = local.groupBy("__pid").count().collect()
    offsets, acc = {}, 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets[r["__pid"]] = acc
        acc += r["count"]

    off_df = local_frame(
        df.sparkSession, {"__pid": list(offsets), "__offset": list(offsets.values())}, "__pid int, __offset long"
    )
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(idx_col, (F.col("__offset") + F.col("__local") - 1).cast("long"))
        .drop("__pid", "__local", "__offset")
    )


def shuffled_with_row_idx(df: DataFrame, seed: int = 42, idx_col: str = "row_idx") -> DataFrame:
    """Global seeded pre-shuffle + contiguous index — X4/S18
    (reference Snakefile:228-244 `awk|shuf`; rationale
    crossvalidate.py:365-369: later contiguous splits are unbiased
    without runtime shuffles). Seeded, unlike the reference's `shuf`
    (SURVEY §7.2) — strictly more reproducible.
    """
    return with_row_idx(df.withColumn("__r", F.rand(seed)), order_col="__r", idx_col=idx_col).drop(
        "__r"
    )
