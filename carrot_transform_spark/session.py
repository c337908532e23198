"""SparkSession factory tuned for this engine.

Local test profile runs on ``local[N]``; the same configs are what we'd set
cluster-side at 100 TB: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), broadcast threshold generous because all dictionary
tables (mapping rules, person map at reasonable cardinality) are tiny
relative to fact tables, and Arrow enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# Auto-derivation targets ~32 MB of PARQUET bytes per shuffle partition
# (snappy parquet decompresses/widens ~4x, so that's ~128 MB in-flight per
# task — the classic sizing that keeps sort spills rare without drowning the
# scheduler in tiny tasks).  Rounded to a power of two so AQE's coalescing
# and our bucketing tests see stable, canonical partition counts.
_TARGET_PARQUET_BYTES_PER_PARTITION = 32 * 1024 * 1024
_MAX_AUTO_PARTITIONS = 2048


def derive_shuffle_partitions(sf_dir: str, floor: int | None = None) -> int:
    """Derive ``spark.sql.shuffle.partitions`` from the input's leaf-file stats.

    Sums the parquet bytes under ``sf_dir`` (both single-file ``t.parquet``
    and directory ``t.parquet/part-*.parquet`` layouts), divides by the
    per-partition target, and clamps to [floor, 2048] where ``floor``
    defaults to the session's CPU count — below that the cluster is
    under-parallelized no matter how small the data.  Rounds to the nearest
    power of two.  An explicit ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` env always
    wins (returned verbatim) so hand-tuning stays possible.

    This removes the per-scale-factor SWEEP_SHUFFLE hand-tuning: sf0.1
    (21 MB) -> 32, sf1 (184 MB) -> 32, sf10 (2.1 GB) -> 64, sf100 (16 GB)
    -> 512 — matching or subsuming the previously hand-set values.
    """
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        return int(env)
    if floor is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        floor = os.cpu_count() or 8 if cpus == "*" else int(cpus)
    total = 0
    try:
        import pathlib

        for p in pathlib.Path(sf_dir).glob("*.parquet"):
            if p.is_dir():
                total += sum(f.stat().st_size for f in p.glob("*.parquet"))
            else:
                total += p.stat().st_size
    except OSError:
        return DEFAULT_SHUFFLE_PARTITIONS
    if total == 0:
        return DEFAULT_SHUFFLE_PARTITIONS
    raw = max(floor, -(-total // _TARGET_PARQUET_BYTES_PER_PARTITION))
    raw = min(raw, _MAX_AUTO_PARTITIONS)
    # nearest power of two (ties round up): p is the smallest power >= raw,
    # keep it when raw is in the upper half of (p/2, p], else fall back to
    # p/2 — then re-apply the floor so rounding can never drop below it
    # (floor need not be a power of two, e.g. a 48-CPU machine)
    p = 1
    while p < raw:
        p *= 2
    rounded = p if raw > 3 * p // 4 else max(p // 2, 1)
    return min(max(rounded, floor), _MAX_AUTO_PARTITIONS)


_SIZE_SUFFIXES = (
    ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
    ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
)


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes,
    size suffixes accepted ("64m", "1b"). Negative is Spark's sentinel for
    DISABLED auto-broadcast. An unreadable value reads as Spark's 10 MiB
    default."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).lower().strip()
    mult = 1
    for suf, m in _SIZE_SUFFIXES:
        if raw.endswith(suf):
            raw, mult = raw[: -len(suf)], m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return 10 << 20


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate in bytes for ``df``: the root of its
    optimized plan, through the private ``_jdf.queryExecution()`` API.
    None when the probe fails (traceback logged at DEBUG); callers choose
    their own fallback and warn about it."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        logging.getLogger(__name__).debug("plan-size stats probe failed", exc_info=True)
        return None


def get_spark(
    app_name: str = "carrot-transform-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # per-DataFrame-API-call stack inspection + a JVM round trip, only
        # used to enrich error messages with user call sites; measured ~45%
        # of driver-side plan-construction time on expression-heavy plans
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # the generated-class cache defaults to 100 entries; this engine's
        # query battery produces ~200 distinct codegen units per pass, so
        # at the default EVERY pass recompiles everything (measured: ~200
        # janino compilations per bench repeat, ~3 s/pass). 4096 entries
        # keeps the whole working set resident (warm passes: 0 compiles);
        # JVM-wide cache of compiled classes, scale-independent — a
        # long-running cluster session with a wide query mix benefits the
        # same way (guide §1.2 step 3: config after algorithm+per-task).
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
        # engine-wide temporal contract: parquet timestamp[us] without UTC
        # adjustment reads as session-tz TIMESTAMP (not TIMESTAMP_NTZ), so
        # loaders need no cast projection over the scan
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
