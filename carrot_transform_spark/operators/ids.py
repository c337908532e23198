"""Dense sequential ID assignment — scalable row numbering.

The reference assigns ids with mutable driver-side counters in write order
(run.py:126-132, person_helpers.py:129-151). On Spark a naive equivalent is
``row_number() over (ORDER BY ...)`` — correct, but a single-partition sort
at scale. ``with_dense_ids`` keeps dense 1..N semantics without one:

1. range-repartition on the order columns (data ends up globally ordered
   across partitions),
2. per-partition row_number (narrow window — partition-local sort only),
3. per-partition row counts collected to the driver (one tiny job),
   turned into cumulative offsets and joined back as a broadcast map.

Inputs are persisted before the range exchange because repartitionByRange
SAMPLES its child (an unpersisted expensive lineage would run ~3x). Small
inputs (< ``small_threshold`` rows, known after the materialization count)
take a fast path — a plain global-order window over one partition — saving
the sampling pass and the per-partition bookkeeping; at real scale the
range path engages automatically.

In ``run_transform`` each target's id-numbered frame has three readers:
the output metrics, the reject flush and the sink. When this function
took its sized small path, ``CarrotPlanner.target_records`` persists the
person-joined frame built on its result, and that cache is what the three
readers share: none of them re-runs the single-partition window or the
person join. The sizing persist stays: the sizing count fills it, and the
joined cache then reads it instead of running the record fan-out a
second time. Routing small inputs through the bucket path instead (no
persist) measured slower end to end: on the perfbench
``mapstream_fanout`` workload (local[3] on a 4-vCPU Xeon host) the warm
ETL pass went from 8.0-8.4 s to 11.6 s, and traced executor time from
3.6 s to 8.7 s. The bucket path also pays its per-bucket stats job, which
evaluates the input lineage a second time. Keep the persist unless a
replacement shows the same or better numbers on that workload.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window

_PID = "__ctspark_pid"

SMALL_THRESHOLD = 2_000_000


def with_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    offset: int = 0,
    num_partitions: int | None = None,
    small_threshold: int = SMALL_THRESHOLD,
    persist_registry: list[DataFrame] | None = None,
    size_bound: int | None = None,
    bucket_col: str | None = None,
) -> DataFrame:
    """Add ``id_col`` = offset + dense rank 1..N in (order_cols) order.

    persist_registry: optional list the caller owns; every DataFrame this
    function leaves persisted is appended so the caller can unpersist after
    the result is materialized (otherwise caches live until LRU eviction).

    size_bound: caller-supplied UPPER bound on df's row count (e.g. from
    parquet footer metadata). When it fits the small path, the persist +
    count pass that normally sizes the path is skipped entirely and the
    window goes straight into the plan — one pass over the data instead of
    two. An over-estimate is safe (worst case: a single-partition sort of a
    larger-than-ideal input); correctness never depends on it.

    bucket_col: name of an integer column whose VALUE order agrees with
    the (order_cols) order — every row of bucket b sorts strictly before
    every row of any bucket with a higher key range (e.g. a deterministic
    range bucket of the leading order column). When given, ids come from
    the zero-shuffle bucket path (see _bucket_dense_ids); a runtime
    disjointness check over the actual data falls back to the generic
    path if the promise doesn't hold, so correctness never depends on it.
    """
    if size_bound is not None and size_bound <= small_threshold:
        w = Window.orderBy(*order_cols)
        return df.withColumn(id_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))

    if bucket_col is not None:
        out = _bucket_dense_ids(df, order_cols, id_col, offset, bucket_col)
        if out is not None:
            return out

    src = df.persist(StorageLevel.MEMORY_AND_DISK)
    n_rows = src.count()  # materializes the cache; also sizes the fast path

    if n_rows <= small_threshold:
        # one global window; a single sort of a cached small dataset is
        # cheaper than sampling + range exchange + offset bookkeeping
        if persist_registry is not None:
            persist_registry.append(src)
        w = Window.orderBy(*order_cols)
        return src.withColumn(id_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))

    n_parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    ranged = (
        src.repartitionByRange(int(n_parts), *[F.col(c) for c in order_cols])
        .withColumn(_PID, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = ranged.groupBy(_PID).count().orderBy(_PID).collect()
    src.unpersist()  # ranged is materialized by the count job above
    if persist_registry is not None:
        persist_registry.append(ranged)
    offsets: dict[int, int] = {}
    acc = offset
    for row in counts:
        offsets[row[_PID]] = acc
        acc += row["count"]
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col(_PID),
    ) if offsets else F.lit(offset)
    out = (
        ranged.withColumn(id_col, (F.row_number().over(w) + offset_expr).cast("long"))
        .drop(_PID)
    )
    return out


def _bucket_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    offset: int,
    bucket_col: str,
) -> DataFrame | None:
    """Zero-extra-shuffle dense ids over a bucket-clustered input.

    The generic range path costs a full repartitionByRange of the payload
    plus TWO persists of it (the sampling pass must not recompute an
    expensive lineage, and the window consumer re-reads the ranged frame) —
    at sf10 that was a 799 MB shuffle and a second multi-GB cache per
    bench repeat, and the range sampler's seed depends on the RDD id, so
    partition boundaries (hence per-partition offsets) are only stable
    while the cache lives. This path instead keys EVERYTHING on the bucket
    VALUE, which is a pure function of the row:

    1. one narrow aggregation computes per-bucket counts + min/max of the
       order-cols tuple (runs once per plan build, not per execution);
    2. the driver verifies bucket key ranges are strictly disjoint and
       ordered — the caller's promise, checked against the actual data —
       and turns counts into cumulative start offsets (guide §2.5:
       deterministic synthetic keys, no sampling);
    3. ids = row_number over Window.partitionBy(bucket) + broadcast-joined
       per-bucket start. When the input is already hash-partitioned by
       the bucket column (the callers arrange this at the source spread
       exchange, which existed anyway), the window needs NO exchange and
       the join broadcasts a few thousand rows — the payload is never
       shuffled or cached at all.

    Returns None when the promise fails (overlapping/NULL ranges): caller
    falls back to the generic path. Everything here is value-determined,
    so re-materialization (bench cache isolation) reproduces identical
    ids regardless of physical partitioning.
    """
    # the collect is bounded by the DISTINCT bucket count; cap it so a
    # degenerate bucket expression (near-unique values) can never pull a
    # row-sized result to the driver — over the cap means the caller's
    # bucketing is too fine, fall back to the generic path
    max_buckets = 1 << 18
    stats = (
        df.groupBy(bucket_col)
        .agg(
            F.count(F.lit(1)).alias("__ct_n"),
            F.min(F.struct(*[F.col(c) for c in order_cols])).alias("__ct_lo"),
            F.max(F.struct(*[F.col(c) for c in order_cols])).alias("__ct_hi"),
        )
        .limit(max_buckets + 1)
        .collect()
    )
    if len(stats) > max_buckets:
        return None
    try:
        rows = sorted(stats, key=lambda r: tuple(r["__ct_lo"]))
    except TypeError:
        return None  # NULLs or incomparable types in the order tuple
    starts: list[tuple[int, int]] = []
    acc = offset
    prev_hi: tuple | None = None
    for r in rows:
        b, lo, hi = r[bucket_col], r["__ct_lo"], r["__ct_hi"]
        if b is None or lo is None or hi is None:
            return None
        lo_t, hi_t = tuple(lo), tuple(hi)
        if any(v is None for v in lo_t) or any(v is None for v in hi_t):
            return None
        if prev_hi is not None and not prev_hi < lo_t:
            return None  # ranges overlap: the bucket promise is false
        prev_hi = hi_t
        starts.append((int(b), acc))
        acc += r["__ct_n"]
    spark = df.sparkSession
    starts_df = spark.createDataFrame(
        starts, f"{bucket_col} bigint, __ct_start bigint"
    )
    w = Window.partitionBy(bucket_col).orderBy(*order_cols)
    return (
        df.withColumn("__ct_rn", F.row_number().over(w))
        .join(F.broadcast(starts_df), bucket_col)
        .withColumn(id_col, (F.col("__ct_rn") + F.col("__ct_start")).cast("long"))
        .drop("__ct_rn", "__ct_start")
    )
