"""Query registry: every operator/query the engine claims as implemented.

Each entry pairs a Spark DataFrame builder with (where SQL-expressible) an
equivalent ANSI-SQL string for the DuckDB oracle. The driver's correctness
gate runs both at sf=0.01 and hash-compares sorted values, so:

- every computed column is aliased identically on both sides;
- double-typed aggregates are rounded on both sides so parallel-summation
  reordering can't flip the last ulp;
- any top-k has a deterministic total order (tie-break on a key column).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from carrot_transform_spark.session import broadcast_threshold, plan_size_bytes

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # DuckDB SQL; None => rows-only check (non-SQL-expressible)
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}

# Query-local persisted intermediates (multi-consumer frames a single query
# caches so its DAG doesn't recompute them per branch). The driver runs
# registry queries back-to-back in one long session; without release these
# caches pile up until LRU eviction thrash. Each query invocation releases
# the previous query's caches, bounding live cache to one query's worth —
# by then the previous result has been collected, and even if a stale
# DataFrame is re-collected later, unpersist only costs a lineage recompute,
# never correctness.
_QUERY_CACHES: list[DataFrame] = []


def qpersist(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist a query-local intermediate and record it for release.

    eager=True materializes immediately — required when the downstream DAG
    reads the frame from several branches within ONE action (a cold cache is
    raced and recomputed per branch otherwise)."""
    df = df.persist()
    _QUERY_CACHES.append(df)
    if eager:
        df.count()
    return df


# Set (per thread) while a suite sub-check builder runs on the pool: a
# builder that released the query caches from a worker thread would
# unpersist a SIBLING builder's live cache mid-build — a racy, hard-to-
# diagnose recompute. No current sub-builder does; this makes the
# invariant structural instead of conventional.
_IN_SUITE_BUILD = __import__("threading").local()


def release_query_caches() -> None:
    """Unpersist every query-local cache recorded since the last release.

    Must NOT be called from a suite worker thread (see _IN_SUITE_BUILD)."""
    if getattr(_IN_SUITE_BUILD, "active", False):
        raise AssertionError(
            "release_query_caches() called from a suite sub-check builder "
            "thread — it would unpersist sibling builders' live caches "
            "mid-build. Suite parts must not call registered queries or "
            "release caches; the suite wrapper releases once up front."
        )
    while _QUERY_CACHES:
        df = _QUERY_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release


def _disable_df_debugging(spark: SparkSession) -> None:
    """Turn off pyspark's per-API-call call-site capture for this session.

    Every DataFrame/Column API call otherwise inspects the Python stack and
    makes an extra JVM round trip so error messages can cite user code —
    measured ~45% of driver-side plan-construction time on the when-chain-
    heavy OMOP plans. The queries here are driver-graded, not interactive,
    so the enrichment buys nothing. pyspark caches the flag in a module
    global after the first API call; registry queries may run on a
    driver-owned session created before we get control, so set both the
    conf and (best-effort) the cache."""
    try:
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
    except Exception:
        pass
    try:
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass  # private cache moved/renamed: the conf (when early) still works


# Prepared logical plans for side-effect-free queries (no persist/qpersist,
# no eager jobs in the builder), keyed by (spark id, sf_dir, name). Same
# prepared-statement pattern the OMOP queries have used since r13: the
# ~0.1-0.6 s of py4j DataFrame construction + analysis per build is paid
# once per session; EVERY execution still recomputes all data from parquet.
# On a hit the stored frame is re-wrapped over its logical plan into a NEW
# Dataset (fresh QueryExecution), so each invocation re-plans physically —
# fresh AQE run, fresh cache lookups — and nothing from a previous
# execution (materialized shuffle stages, finalized adaptive plans) can
# leak into the next one. If the private ofRows hook moves, we silently
# fall back to rebuilding the plan from scratch (correct, just slower).
_PREPARED_PLANS: dict[tuple[int, str, str], DataFrame] = {}


def _fresh_rewrap(df: DataFrame) -> DataFrame:
    """New DataFrame over the same (unanalyzed) logical plan: forces a new
    QueryExecution so repeated invocations share ZERO execution state."""
    spark = df.sparkSession
    jnew = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.queryExecution().logical()
    )
    return DataFrame(jnew, spark)


def _released(fn: SparkQuery, name: str | None = None, prepared: bool = False) -> SparkQuery:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _disable_df_debugging(spark)
        release_query_caches()
        if not prepared:
            return fn(spark, sf_dir)
        key = (id(spark), sf_dir, name or getattr(fn, "__name__", "query"))
        hit = _PREPARED_PLANS.get(key)
        if hit is not None:
            try:
                return _fresh_rewrap(hit)
            except Exception:
                _PREPARED_PLANS.pop(key, None)  # private API moved: rebuild
        df = fn(spark, sf_dir)
        _PREPARED_PLANS[key] = df
        return df

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


# Registration ORDER is a driver contract (the CORRECTNESS report is a
# bounded window over it), but registration HAPPENS at module-import time —
# and anything (a test, a user script) that imports a query submodule
# directly registers that module's entries before all_queries() runs its
# pinned import sequence. So ordering must not depend on who imported what
# first: each entry records its defining module + a monotonic sequence
# number, and all_queries() sorts by (pinned module rank, sequence). Module
# import is atomic, so a module's entries stay contiguous and in file order
# under ANY import interleaving.
_ENTRY_MODULE: dict[str, str] = {}
_ENTRY_SEQ: dict[str, int] = {}


def _note_order(name: str, module: str) -> None:
    _ENTRY_MODULE[name] = module.rsplit(".", 1)[-1]
    _ENTRY_SEQ[name] = len(_ENTRY_SEQ)


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    prepared: bool = False,
):
    """Decorator registering a (spark, sf_dir) -> DataFrame query.

    prepared=True opts a SIDE-EFFECT-FREE builder (no persist/qpersist, no
    eager actions) into logical-plan reuse across invocations in one
    session — see _PREPARED_PLANS. Builders with caches or eager
    materialization must NOT set it (their per-call side effects are part
    of their execution contract)."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(
            name=name,
            spark_fn=_released(fn, name=name, prepared=prepared),
            oracle=oracle,
            tags=tags,
        )
        _note_order(name, getattr(fn, "__module__", "") or "")
        return fn

    return deco


# Temporal columns per testdata table. Every one is normalized to a
# session-tz TIMESTAMP on load, whatever physical encoding the driver's
# generator used this round — the encoding has CHANGED across rounds
# (TIMESTAMP(NANOS) -> timestamp[us]) and a loader assuming one encoding
# zeroed round 4.
_TEMPORAL_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def maybe_broadcast(df: DataFrame, size_like: DataFrame | None = None) -> DataFrame:
    """Broadcast hint ONLY when the frame's plan-estimated size fits the
    session's autoBroadcastJoinThreshold.

    Scale-variant dimensions (customer/supplier/part grow linearly with the
    scale factor) must not carry an unconditional F.broadcast: at sf100 the
    customer table is 15M rows and a forced broadcast made q5 superlinear
    (92 s = 14.5x for 10x data — building and shipping a multi-GB hash
    table). Below the threshold the explicit hint still wins over AQE's
    conservatism; above it, no hint — AQE picks shuffle joins and its own
    runtime broadcasts. Falls back to hinting if plan stats are
    unavailable (in-memory frames), matching the old behavior.

    ``size_like``: estimate from THIS frame's plan instead (pass the base
    scan when ``df`` is a derived join/filter — join-output size stats are
    meaningless without CBO, while the base table's scan bytes upper-bound
    any dimension that was only filtered or semi-joined smaller).

    A negative threshold is Spark's sentinel for DISABLING auto-broadcast
    (sessions force sort-merge joins that way at scale) — honour it by
    returning the frame un-hinted, never by treating it as 'unlimited'."""
    import pyspark.sql.functions as F

    threshold = broadcast_threshold(df.sparkSession)
    if threshold < 0:
        return df
    size = plan_size_bytes(size_like if size_like is not None else df)
    if size is None:
        # Private-API breakage must be LOUD, not a silent force-broadcast
        # that resurrects the sf100 q5 regression.
        import logging

        logging.getLogger(__name__).warning(
            "maybe_broadcast: plan-size stats unavailable; hinting broadcast "
            "without a size check"
        )
        return F.broadcast(df)
    if size <= threshold:
        return F.broadcast(df)
    return df


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # Part of the temporal contract: have the parquet reader surface
    # NTZ-eligible columns (timestamp[us] without UTC adjustment) as
    # session-tz TIMESTAMP directly — zero-cost, no cast projection over
    # the scan. The conf is pinned 'false' UNCONDITIONALLY, overriding even
    # a session that set it 'true' (the conf API can't distinguish an
    # explicit 'true' from the default, and the TIMESTAMP contract is
    # load-bearing downstream); the cast branch in _load_normalized covers
    # frames read before load() pinned it.
    conf_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    if spark.conf.get(conf_key, "true") != "false":
        try:
            spark.conf.set(conf_key, "false")
        except Exception:
            pass
    return _load_normalized(
        spark, f"{sf_dir}/{table}.parquet", _TEMPORAL_COLS.get(table, ())
    )


def _load_normalized(
    spark: SparkSession, path: str, temporal_cols: tuple[str, ...]
) -> DataFrame:
    """Read parquet and normalize declared temporal columns to TIMESTAMP.

    Branch on the dtype Spark actually infers instead of assuming one:

    - TIMESTAMP(NANOS): Spark's reader rejects it outright unless
      `spark.sql.legacy.parquet.nanosAsLong` is set, so the first read
      attempt raises; retry with the conf on and truncate nanos -> micros,
      the same truncation DuckDB applies loading nanos into its
      micro-precision TIMESTAMP. The conf stays set: the scan consults it
      at *execution* time (restoring it pre-collect breaks the read), and
      it only changes how TIMESTAMP(NANOS) columns parse — columns that
      would otherwise be unreadable — so it cannot alter any other read.
    - timestamp[us] without UTC adjustment: reads as TIMESTAMP_NTZ; cast
      to TIMESTAMP (session tz is UTC — see session.py — so the cast is
      value-preserving and renders identically to DuckDB's naive TIMESTAMP).
    - TIMESTAMP / anything else: passthrough.

    Downstream queries rely on the TIMESTAMP contract (e.g. ev_sessionize
    does CAST(ts AS BIGINT), illegal on TIMESTAMP_NTZ); covered by
    tests/test_events_loader.py.
    """
    import pyspark.sql.functions as F

    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        df = spark.read.parquet(path)
    except Exception as exc:  # Illegal Parquet type: INT64 (TIMESTAMP(NANOS,..))
        if "NANOS" not in str(exc) or not temporal_cols:
            raise
        spark.conf.set(conf_key, "true")
        df = spark.read.parquet(path)

    dtypes = dict(df.dtypes)
    for c in temporal_cols:
        dtype = dtypes.get(c)
        if dtype == "bigint":
            # epoch-nanos (via nanosAsLong or pre-flattened): truncate to
            # micros, the same truncation DuckDB applies on load
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))

    # Once the nanos retry set nanosAsLong session-wide, every LATER read
    # of a TIMESTAMP(NANOS) column parses as plain bigint — fine for the
    # declared temporal_cols (normalized above), silent data corruption for
    # a column someone forgot to declare. Fail loudly instead: any bigint
    # column whose parquet footer says "timestamp" must be in temporal_cols.
    if spark.conf.get(conf_key, "false") == "true":
        try:
            import pyarrow.parquet as pq

            footer = pq.read_schema(path)
        except Exception:
            footer = None
        if footer is not None:
            import pyarrow.types as patypes

            for field in footer:
                if (
                    field.name not in temporal_cols
                    and dict(df.dtypes).get(field.name) == "bigint"
                    and patypes.is_timestamp(field.type)
                ):
                    raise RuntimeError(
                        f"column '{field.name}' in {path} is TIMESTAMP in the "
                        f"parquet footer but read as bigint under "
                        f"{conf_key}=true and is not declared in "
                        f"_TEMPORAL_COLS — declare it so it gets normalized "
                        f"instead of silently surfacing epoch-nanos"
                    )
    return df


def dsum(expr, scale: int = 2):
    """Order-independent sum of a double expression, rounded to `scale`.

    Per-row cast to DECIMAL(27,6) -> exact decimal sum (no float reorder
    sensitivity) -> exact HALF_UP round -> double. The SQL twin is
    dsum_sql(); both engines produce bit-identical doubles.
    """
    import pyspark.sql.functions as F

    col = expr if not isinstance(expr, str) else F.col(expr)
    return F.round(F.sum(col.cast("decimal(27,6)")), scale).cast("double")


def dsum_sql(expr: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(27,6))), {scale}) AS DOUBLE)"


def davg(expr, scale: int = 4):
    """Order-independent average: exact decimal sum -> double -> / count,
    rounded with the IEEE-only fround rule. Native ROUND on the quotient
    was the last engine-divergence hole: identical doubles whose shortest
    decimal repr ends in '5' at the rounding digit round differently in
    Spark vs DuckDB (first seen as an ev_tumbling_15min hash-mismatch at
    sf0.1 — the quotient landed on such a boundary only at the larger
    window populations)."""
    import pyspark.sql.functions as F

    col = expr if not isinstance(expr, str) else F.col(expr)
    return fround(
        F.sum(col.cast("decimal(27,6)")).cast("double") / F.count(F.lit(1)), scale
    )


def davg_sql(expr: str, scale: int = 4) -> str:
    return fround_sql(
        f"CAST(SUM(CAST({expr} AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)", scale
    )


# Engine-stable rounding — canonical home is functions/rounding.py so the
# data-plane operators can use it without importing the query registry;
# re-exported here because every oracle module reaches for it.
from carrot_transform_spark.functions.rounding import fround, fround_sql  # noqa: E402,F401


# ---------------------------------------------------------------------------
# checksum suites
#
# The driver's CORRECTNESS report holds a bounded number of registry entries,
# so related single-operator checks are folded into one "suite" entry: each
# sub-check collapses to a (check_name, n_rows, sig_sum) row where sig_sum is
# an order-independent sum of per-row 32-bit content hashes, computed
# identically in Spark and DuckDB. A value diff anywhere in a sub-check flips
# its sig_sum, so the suite is exactly as strict as the individual oracles.
#
# Kinds (explicit per-column render so both engines produce identical bytes):
#   "i"    integer-ish        CAST(x AS VARCHAR)           (HUGEINT-safe)
#   "f"    double (pre-rounded) CAST(CAST(x AS DECIMAL(27,6)) AS VARCHAR)
#   "s"    string             as-is
#   "ts"   timestamp          %Y-%m-%d %H:%M:%S.%f (micros)
#   "date" date               %Y-%m-%d
# ---------------------------------------------------------------------------

US = "\x1f"  # unit separator between rendered columns


def _render_spark(col, kind: str):
    import pyspark.sql.functions as F

    if kind == "i":
        return col.cast("string")
    if kind == "f":
        return col.cast("decimal(27,6)").cast("string")
    if kind == "s":
        return col.cast("string")
    if kind == "ts":
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    if kind == "date":
        return F.date_format(col, "yyyy-MM-dd")
    raise ValueError(f"unknown render kind: {kind}")


def _render_sql(expr: str, kind: str) -> str:
    if kind == "i":
        return f"CAST({expr} AS VARCHAR)"
    if kind == "f":
        # Route the double through its VARCHAR (shortest-repr) form before
        # the DECIMAL(27,6) re-scale. DuckDB's direct double->DECIMAL cast
        # multiplies by 10^6 in floating point, so for |x| above ~2^53/10^6
        # (~9e9) the product is no longer exactly representable and the
        # cast picks up ulp-sized errors (observed at sf10: engine-equal
        # doubles like 753511015307.0 rendering as ...000064 in DuckDB vs
        # ...000000 in Spark, which casts via BigDecimal.valueOf's shortest
        # repr). Parsing the shortest-repr STRING into decimal is exact in
        # both engines, so the renders agree at any magnitude a double can
        # faithfully hold.
        return f"CAST(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(27,6)) AS VARCHAR)"
    if kind == "s":
        return f"CAST({expr} AS VARCHAR)"
    if kind == "ts":
        return f"strftime({expr}, '%Y-%m-%d %H:%M:%S.%f')"
    if kind == "date":
        return f"strftime({expr}, '%Y-%m-%d')"
    raise ValueError(f"unknown render kind: {kind}")


def checksum_df(df: DataFrame, cols: list[tuple[str, str]], check: str) -> DataFrame:
    """Collapse df to one row (check_name, n_rows, sig_sum)."""
    import pyspark.sql.functions as F

    renders = [
        F.coalesce(_render_spark(F.col(c), k), F.lit("<N>")) for c, k in cols
    ]
    sig = F.conv(F.substring(F.md5(F.concat_ws(US, *renders)), 1, 8), 16, 10).cast("bigint")
    return (
        df.select(sig.alias("sig"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum("sig"), F.lit(0)).cast("bigint").alias("sig_sum"),
        )
        .select(F.lit(check).alias("check_name"), "n_rows", "sig_sum")
    )


def checksum_sql(inner_sql: str, cols: list[tuple[str, str]], check: str) -> str:
    rendered = ", ".join(f"COALESCE({_render_sql(c, k)}, '<N>')" for c, k in cols)
    concat = f"concat_ws(chr(31), {rendered})"
    sig = f"CAST(CAST(CONCAT('0x', substring(md5({concat}), 1, 8)) AS UBIGINT) AS BIGINT)"
    return (
        f"SELECT '{check}' AS check_name, COUNT(*) AS n_rows, "
        f"COALESCE(CAST(SUM(sig) AS BIGINT), 0) AS sig_sum "
        f"FROM (SELECT {sig} AS sig FROM ({inner_sql}) _in) _sig"
    )


# (check_name, spark_fn, oracle_sql, [(col, kind), ...])
SuitePart = tuple[str, SparkQuery, str, list[tuple[str, str]]]


def register_suite(name: str, parts: list[SuitePart], tags: tuple[str, ...] = ()) -> None:
    """Register several sub-checks as ONE registry entry (see block comment)."""
    from functools import reduce

    def spark_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _disable_df_debugging(spark)
        release_query_caches()

        def build(part: SuitePart) -> DataFrame:
            cname, fn, _, cols = part
            _IN_SUITE_BUILD.active = True
            try:
                return checksum_df(fn(spark, sf_dir), cols, cname)
            finally:
                _IN_SUITE_BUILD.active = False

        # Overlap independent sub-check builders from a small driver thread
        # pool (guide §2.6): the iterative operators (GD rounds, BPE merges,
        # CC fixpoints, EM refinement) drive many small sequential jobs at
        # BUILD time, so one builder's stage tail back-fills with the next
        # builder's jobs instead of idling the executor. Each sub-check's
        # one-row checksum is order-insensitive (md5-sig SUM) and the union
        # keeps the parts-list order, so results are bit-identical to the
        # sequential build. SPARK_GRAFT_SUITE_THREADS=1 restores sequential.
        import os

        workers = int(os.environ.get("SPARK_GRAFT_SUITE_THREADS", "4"))
        if workers > 1 and len(parts) > 2:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            with ThreadPoolExecutor(min(workers, len(parts))) as ex:
                dfs = list(ex.map(inheritable_thread_target(build), parts))
        else:
            dfs = [build(p) for p in parts]
        return reduce(DataFrame.unionByName, dfs).orderBy("check_name")

    oracle = (
        "\nUNION ALL\n".join(checksum_sql(sql, cols, cname) for cname, _, sql, cols in parts)
        + "\nORDER BY check_name"
    )
    if name in REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    REGISTRY[name] = QueryDef(name=name, spark_fn=spark_fn, oracle=oracle, tags=tags)
    import sys

    _note_order(name, sys._getframe(1).f_globals.get("__name__", ""))


# The pinned presentation order for the driver's bounded CORRECTNESS
# window: the flagship TPC-H batch first, rows-only (no-oracle) entries
# last. all_queries() returns entries in THIS module order regardless of
# which module happened to be imported first in the process.
_MODULE_ORDER = (
    "tpch",
    "tpch2",
    "tpch3",
    "analytics",
    "omop_pipeline",
    "events",
    "asof_q",
    "rangejoin_q",
    "dedup",
    "similarity",
    "ann_lsh",
    "text",
    "pipeline_ops",
    "operators_demo",
    "multimodal_q",
)


def all_queries() -> dict[str, QueryDef]:
    # Import side-effect modules that populate the registry (idempotent),
    # then present them in the pinned _MODULE_ORDER — NOT raw registration
    # order, which depends on whoever imported a submodule first.
    import importlib

    for m in _MODULE_ORDER:
        importlib.import_module(f"carrot_transform_spark.queries.{m}")

    rank = {m: i for i, m in enumerate(_MODULE_ORDER)}
    names = sorted(
        REGISTRY,
        key=lambda n: (
            rank.get(_ENTRY_MODULE.get(n, ""), len(rank)),
            _ENTRY_SEQ.get(n, 1 << 30),
        ),
    )
    return {n: REGISTRY[n] for n in names}
