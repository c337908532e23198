"""Dense sequential ID assignment — scalable row numbering.

The reference assigns ids with mutable driver-side counters in write order
(run.py:126-132, person_helpers.py:129-151). On Spark the direct
equivalent is ``row_number() over (ORDER BY ...)`` — correct, but a
single-partition sort. ``with_dense_ids`` runs that global window only for
small inputs. Above ``small_threshold`` rows it numbers the input bucket by
bucket (``_bucket_dense_ids``):

1. the caller supplies a bucket: an integer key, a pure function of the
   row, whose groups are contiguous in the order (e.g. 65,536-line blocks
   of the read order);
2. one aggregation collects each bucket's row count and the min/max of the
   order tuple; the driver checks that the buckets' ranges are disjoint
   and turns the counts into cumulative start offsets;
3. ids = row_number over ``Window.partitionBy(bucket)`` + the bucket's
   broadcast start.

Every step is value-determined — no sampling — so re-materialization
(cache eviction, executor loss) reproduces the same ids. When the check
refuses the bucket, or the caller has none, the global window runs, and a
WARNING names the reason and the row count.

When this function sized its input with a count, the input stays
persisted, and ``CarrotPlanner.target_records`` persists the person-joined
frame built on the result: the output metrics, the reject flush and the
sink share that cache, and the joined cache reads the sizing persist
instead of running the record fan-out a second time. Routing small inputs
through the bucket path instead (no persist) measured slower end to end:
on the perfbench ``mapstream_fanout`` workload (local[3] on a 4-vCPU Xeon
host) the warm ETL pass went from 8.0-8.4 s to 11.6 s, and traced executor
time from 3.6 s to 8.7 s. Keep the persist unless a replacement shows the
same or better numbers on that workload.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark import StorageLevel
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
    persist_registry: list[DataFrame] | None = None,
    size_bound: int | None = None,
    bucket_col: str | Column | None = None,
) -> DataFrame:
    """Add ``id_col`` = offset + dense rank 1..N in (order_cols) order.

    persist_registry: optional list the caller owns; every DataFrame this
    function leaves persisted is appended so the caller can unpersist after
    the result is materialized (otherwise caches live until LRU eviction).

    size_bound: caller-supplied UPPER bound on df's row count (e.g. from
    parquet footer metadata). When it fits the small path, the persist +
    count pass that normally sizes the path is skipped entirely and the
    window goes straight into the plan — one pass over the data instead of
    two. With a bucket, a large bound also skips the count. An over-estimate
    is safe (worst case: a single-partition sort of a larger-than-ideal
    input); correctness never depends on it.

    bucket_col: an integer column name, or a Column expression, whose
    groups are contiguous in the (order_cols) order — every row of one
    bucket sorts strictly before every row of any bucket with a higher key
    range. Used only above the small threshold, so a Column never enters
    the small path's plan. A runtime disjointness check over the actual
    data refuses a bucket whose promise doesn't hold, so correctness never
    depends on it.

    Order of decisions: a small bound takes the window; a large bound with
    a bucket takes the bucket path with no count; otherwise the input is
    persisted and counted, and a small count takes the window over the
    persisted frame, a large one the bucket path over it. A refused or
    missing bucket takes the global window.
    """
    if size_bound is not None and size_bound <= small_threshold:
        return _window_ids(df, order_cols, id_col, offset)

    if size_bound is not None and bucket_col is not None:
        rows = f"at most {size_bound}"
    else:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        n_rows = df.count()  # materializes the cache; also sizes the fast path
        if persist_registry is not None:
            persist_registry.append(df)
        if n_rows <= small_threshold:
            # one global window; a single sort of a cached small dataset is
            # cheaper than the bucket stats job and its exchange
            return _window_ids(df, order_cols, id_col, offset)
        rows = str(n_rows)

    out = (
        _bucket_dense_ids(df, order_cols, id_col, offset, bucket_col, rows)
        if bucket_col is not None
        else _refuse("no bucket", rows)
    )
    if out is not None:
        return out
    log.warning(
        "dense ids: global single-partition window over %s rows (threshold %d)",
        rows, small_threshold,
    )
    return _window_ids(df, order_cols, id_col, offset)


def _window_ids(df: DataFrame, order_cols: list[str], id_col: str, offset: int) -> DataFrame:
    w = Window.orderBy(*order_cols)
    return df.withColumn(id_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))


def _refuse(reason: str, rows: str) -> None:
    log.warning("dense ids: bucket path refused (%s) for %s rows", reason, rows)
    return None


def _bucket_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    offset: int,
    bucket_col: str | Column,
    rows: str,
) -> DataFrame | None:
    """Steps 1-3 of the module docstring. When the input is already
    hash-partitioned by the bucket column (the parquet pipeline source
    arranges this at its spread exchange), the window needs NO exchange;
    otherwise its hash exchange of the bucket is the only shuffle. The
    stats job runs at plan-build time: over an unpersisted input it
    evaluates the lineage a second time.

    Returns None, after a WARNING naming the reason, when the promise
    fails: a float or double order column (Python orders NaN unlike
    Spark), more than 2^18 buckets, a NULL bound, or overlapping ranges.
    """
    types = dict(df.dtypes)
    if any(types[c] in ("float", "double") for c in order_cols):
        return _refuse("float column", rows)
    rider = isinstance(bucket_col, Column)
    name = _BUCKET if rider else bucket_col
    if rider:
        df = df.withColumn(name, bucket_col)
    stats = (
        df.groupBy(name)
        .agg(
            F.count(F.lit(1)).alias("__ct_n"),
            F.min(F.struct(*[F.col(c) for c in order_cols])).alias("__ct_lo"),
            F.max(F.struct(*[F.col(c) for c in order_cols])).alias("__ct_hi"),
        )
        .limit(_MAX_BUCKETS + 1)
        .collect()
    )
    if len(stats) > _MAX_BUCKETS:
        return _refuse("more than 2^18 buckets", rows)
    ranges = []
    for r in stats:
        b, lo, hi = r[name], r["__ct_lo"], r["__ct_hi"]
        if b is None or lo is None or hi is None or None in (*lo, *hi):
            return _refuse("NULL bound", rows)
        ranges.append((tuple(lo), tuple(hi), int(b), r["__ct_n"]))
    try:
        ranges.sort()
    except TypeError:
        return _refuse("unorderable bound", rows)
    starts, acc = [], offset
    for i, (lo, _hi, b, n) in enumerate(ranges):
        if i and not ranges[i - 1][1] < lo:
            return _refuse("overlap", rows)
        starts.append((b, acc))
        acc += n
    starts_df = df.sparkSession.createDataFrame(starts, f"{name} bigint, __ct_start bigint")
    w = Window.partitionBy(name).orderBy(*order_cols)
    out = (
        df.withColumn("__ct_rn", F.row_number().over(w))
        .join(F.broadcast(starts_df), name)
        .withColumn(id_col, (F.col("__ct_rn") + F.col("__ct_start")).cast("long"))
        .drop("__ct_rn", "__ct_start")
    )
    return out.drop(name) if rider else out
