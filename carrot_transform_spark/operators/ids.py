"""Dense sequential ID assignment — scalable row numbering.

The reference assigns ids with mutable driver-side counters in write order
(run.py:126-132, person_helpers.py:129-151). On Spark the direct
equivalent is ``row_number() over (ORDER BY ...)`` — correct, but a
single-partition sort. ``with_dense_ids`` runs that global window only for
small inputs. Above ``small_threshold`` rows it numbers the input bucket by
bucket:

1. the caller supplies a bucket: an integer key, a pure function of the
   row, whose groups are contiguous in the order (e.g. 65,536-line blocks
   of the read order);
2. one aggregation collects each bucket's row count and the min/max of the
   order tuple; the driver checks that the buckets' ranges are disjoint
   and turns the counts into cumulative start offsets;
3. ids = row_number over ``Window.partitionBy(bucket)`` + the bucket's
   broadcast start.

Order of decisions: a size bound at or below the threshold takes the
window with no job. Otherwise step 2's statistics job runs; with no bound,
its counts size the input, and a total at or below the threshold takes the
window over the input. A larger input takes step 3 unless the statistics
refuse the bucket; then the global window runs, after a WARNING that
names the reason and the row count.

Every step is value-determined — no sampling — so re-materialization
(cache eviction, executor loss) reproduces the same ids. The operator
persists nothing: caching its input or output is the caller's decision.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

log = logging.getLogger(__name__)

SMALL_THRESHOLD = 2_000_000

# the stats collect is bounded by the distinct bucket count; past this
# the caller's bucketing is too fine and the window runs instead
_MAX_BUCKETS = 1 << 18
_BUCKET = "__ct_dense_bucket"  # the column a Column bucket is evaluated into


def with_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    offset: int = 0,
    small_threshold: int = SMALL_THRESHOLD,
    size_bound: int | None = None,
    *,
    bucket_col: str | Column,
) -> DataFrame:
    """Add ``id_col`` = offset + dense rank 1..N in (order_cols) order.

    size_bound: caller-supplied UPPER bound on df's row count (e.g. from
    parquet footer metadata or CSV file bytes). At or below the threshold
    the window goes straight into the plan and no job runs; above it the
    bucket path runs with no sizing. An over-estimate is safe (worst case:
    the statistics job and the bucket path for an input the window would
    have numbered); correctness never depends on it. With no bound, the
    statistics job sizes the input.

    bucket_col: an integer column name, or a Column expression, whose
    groups are contiguous in the (order_cols) order — every row of one
    bucket sorts strictly before every row of any bucket with a higher key
    range. A Column is evaluated only for the statistics and the bucket
    path, never in the window's plan. A runtime disjointness check over
    the actual data refuses a bucket whose promise doesn't hold, so
    correctness never depends on it.

    The statistics job runs at plan-build time: over an unpersisted input
    it evaluates the lineage once more than the numbering does.
    """
    if size_bound is not None and size_bound <= small_threshold:
        return _window_ids(df, order_cols, id_col, offset)
    rider = isinstance(bucket_col, Column)
    name = _BUCKET if rider else bucket_col
    keyed = df.withColumn(name, bucket_col) if rider else df
    stats = (
        keyed.groupBy(name)
        .agg(
            F.count(F.lit(1)).alias("__ct_n"),
            F.min(F.struct(*[F.col(c) for c in order_cols])).alias("__ct_lo"),
            F.max(F.struct(*[F.col(c) for c in order_cols])).alias("__ct_hi"),
        )
        .limit(_MAX_BUCKETS + 1)
        .collect()
    )
    rows = sum(r["__ct_n"] for r in stats)
    if len(stats) > _MAX_BUCKETS:
        reason, rows = "more than 2^18 buckets", f"at least {rows}"
    elif size_bound is None and rows <= small_threshold:
        # one global window; a single sort of a small dataset is cheaper
        # than the bucket path's exchange
        return _window_ids(df, order_cols, id_col, offset)
    else:
        starts = _bucket_starts(stats, name, dict(df.dtypes), order_cols, offset)
        if not isinstance(starts, str):
            out = _number_buckets(keyed, name, starts, order_cols, id_col)
            return out.drop(name) if rider else out
        reason = starts
    log.warning("dense ids: bucket path refused (%s) for %s rows", reason, rows)
    log.warning(
        "dense ids: global single-partition window over %s rows (threshold %d)",
        rows, small_threshold,
    )
    return _window_ids(df, order_cols, id_col, offset)


def _window_ids(df: DataFrame, order_cols: list[str], id_col: str, offset: int) -> DataFrame:
    w = Window.orderBy(*order_cols)
    return df.withColumn(id_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))


def _bucket_starts(
    stats: list, name: str, types: dict[str, str], order_cols: list[str], offset: int
) -> list[tuple[int, int]] | str:
    """Step 2's driver check: (bucket, first id - 1) per bucket, or the
    reason the bucket is refused: a float or double order column (Python
    orders NaN unlike Spark), a NULL bound, an unorderable bound, or
    overlapping ranges."""
    if any(types[c] in ("float", "double") for c in order_cols):
        return "float column"
    ranges = []
    for r in stats:
        b, lo, hi = r[name], r["__ct_lo"], r["__ct_hi"]
        if b is None or lo is None or hi is None or None in (*lo, *hi):
            return "NULL bound"
        ranges.append((tuple(lo), tuple(hi), int(b), r["__ct_n"]))
    try:
        ranges.sort()
    except TypeError:
        return "unorderable bound"
    starts, acc = [], offset
    for i, (lo, _hi, b, n) in enumerate(ranges):
        if i and not ranges[i - 1][1] < lo:
            return "overlap"
        starts.append((b, acc))
        acc += n
    return starts


def _number_buckets(
    df: DataFrame, name: str, starts: list[tuple[int, int]], order_cols: list[str], id_col: str
) -> DataFrame:
    """Step 3. When the input is already hash-partitioned by the bucket
    column (the parquet pipeline source arranges this at its spread
    exchange), the window needs NO exchange; otherwise its hash exchange
    of the bucket is the only shuffle."""
    starts_df = df.sparkSession.createDataFrame(starts, f"{name} bigint, __ct_start bigint")
    w = Window.partitionBy(name).orderBy(*order_cols)
    return (
        df.withColumn("__ct_rn", F.row_number().over(w))
        .join(F.broadcast(starts_df), name)
        .withColumn(id_col, (F.col("__ct_rn") + F.col("__ct_start")).cast("long"))
        .drop("__ct_rn", "__ct_start")
    )
