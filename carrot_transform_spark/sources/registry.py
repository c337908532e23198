"""Input connectors: named source tables -> string-typed DataFrames.

Mirrors the reference's SourceObject dispatch (sources.py:57-69):
- 'minio:...' / 's3a://...' -> object-store CSV (same reader, s3a paths)
- '<scheme>://...'          -> JDBC
- otherwise                 -> local CSV directory

Every reader returns all-string columns plus a ``__ct_line`` ordering
column (monotonically increasing in file order) used for order-dependent
id assignment; blank-named columns (the Excel trailing-comma artifact,
reference sources.py:160-177) are dropped.
"""

from __future__ import annotations

import re
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

LINE_COL = "__ct_line"

# Optional deterministic range-bucket of LINE_COL (an integer column added
# by sources that can compute the line-key bounds cheaply, e.g. from
# parquet footer statistics). Monotone non-decreasing in LINE_COL by
# construction, so every bucket owns a disjoint line range — the dense-id
# operator can then assign ids with zero extra shuffles and no sizing
# count (operators/ids._bucket_dense_ids). Sources that add it also
# hash-repartition their output on it, making it the spread exchange key.
# Sources without it get a bucket of 65,536-line blocks of LINE_COL from
# the planner instead.
BUCKET_COL = "__ct_bucket"


def _max_partition_bytes(spark: SparkSession) -> int:
    """spark.sql.files.maxPartitionBytes as an int (values like '128MB' or
    '134217728b' both appear depending on how the conf was set)."""
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("k", 1 << 10),
                      ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return max(1, int(raw) * mult)
    except ValueError:
        return 128 << 20


class Source:
    # True when read() already returns a well-spread DataFrame (e.g. it ends
    # in a repartition); lets the planner skip its partition-count probe,
    # which costs ~1s of driver-side plan-to-RDD conversion per scan
    pre_spread: bool = False

    def read(self, table: str) -> DataFrame:  # pragma: no cover - interface
        raise NotImplementedError

    def size_hint(self, table: str) -> int | None:
        """Cheap upper bound on read(table)'s row count (e.g. parquet footer
        metadata), or None when unknowable without a scan. Lets dense-id
        assignment skip its sizing pass for known-small inputs."""
        return None

    def scan_splits(self, table: str) -> int | None:
        """Estimated number of partitions the scan of `table` produces, or
        None when unknowable cheaply. Lets the planner decide whether to
        spread a narrow scan without the ~1s driver-side plan-to-RDD
        conversion of df.rdd.getNumPartitions()."""
        return None

    def line_bounds(self, table: str) -> tuple[int, int] | None:
        """(min, max) of read(table)'s LINE_COL values when knowable
        without a scan (e.g. parquet footer statistics of the natural-key
        column), else None. Lets a large person map derive deterministic
        range buckets of the line key (ids._bucket_dense_ids) with no
        sizing count."""
        return None

    def _finalize(self, df: DataFrame) -> DataFrame:
        keep = [c for c in df.columns if c.strip() != ""]
        if len(keep) != len(df.columns):
            df = df.select(*keep)
        return df.withColumn(LINE_COL, F.monotonically_increasing_id())

    def _finalize_csv(self, df: DataFrame, header_line=None) -> DataFrame:
        """CSV variant of _finalize: also trims the Excel trailing-comma
        artifact. The reference (sources.py:160-177) drops the LAST column
        when its header name is blank; Spark's CSV reader renames a blank
        header field to its positional ``_c{i}``, so the blank-name check
        alone never fires — match the exact name Spark generates for an
        unnamed final column instead.

        header_line: zero-arg callable returning the file's raw header line
        (or None). A column GENUINELY named like '_c3' would pattern-match
        the Spark-generated name, so before trimming, the raw header is
        consulted — only a header that really ends with the separator (the
        Excel artifact) triggers the drop. Only invoked when the name check
        fires, so the common path costs nothing."""
        cols = df.columns
        if cols and cols[-1] == f"_c{len(cols) - 1}":
            raw = header_line() if header_line is not None else None
            if raw is None or raw.rstrip("\r\n").endswith(getattr(self, "sep", ",")):
                df = df.select(*cols[:-1])
        return self._finalize(df)


def _path_bytes(p: Path) -> int:
    """Total bytes at `p`: a file's own size, or the recursive sum over a
    DIRECTORY of part files — a directory's stat size is a few KB and
    would collapse a multi-GB dataset to one scan split."""
    if p.is_dir():
        return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    return p.stat().st_size


class CsvDirSource(Source):
    """<dir>/<table>.csv, read as strings with header (reference S1)."""

    def __init__(
        self,
        spark: SparkSession,
        directory: str | Path,
        sep: str = ",",
        multiline: bool = True,
    ):
        self.spark = spark
        self.directory = Path(directory)
        self.sep = sep
        # RFC 4180 allows quoted cells to span lines (the reference's
        # csv.reader accepts them); Spark needs multiLine for that, which
        # makes a FILE unsplittable — at 100 TB prefer many files (the dir
        # layout already is) or pass multiline=False for newline-free data
        # to regain intra-file split parallelism
        self.multiline = multiline

    def _path(self, table: str) -> Path:
        name = table if table.endswith(".csv") else f"{table}.csv"
        path = self.directory / name
        if not path.exists():
            # allow tables named without extension on disk
            alt = self.directory / table
            path = alt if alt.exists() else path
        return path

    def scan_splits(self, table: str) -> int | None:
        try:
            size = _path_bytes(self._path(table))
        except OSError:
            return None
        return max(1, -(-size // _max_partition_bytes(self.spark)))

    def read(self, table: str) -> DataFrame:
        path = self._path(table)
        df = (
            self.spark.read.option("header", True)
            .option("sep", self.sep)
            .option("inferSchema", False)
            .option("encoding", "UTF-8")
            .option("mode", "PERMISSIVE")
            # RFC 4180 parity with the reference's csv.reader (found by the
            # connector fuzz): doubled quotes escape quotes — Spark's
            # default escape is backslash — and quoted cells may span lines
            .option("escape", '"')
            .option("multiLine", self.multiline)
            .csv(str(path))
        )

        def header_line() -> str | None:
            try:
                # utf-8-sig: strip the BOM the same way the reader does
                with path.open("r", encoding="utf-8-sig", errors="replace") as fh:
                    return fh.readline()
            except OSError:
                return None

        return self._finalize_csv(df, header_line)


class ParquetDirSource(Source):
    """<dir>/<table>.parquet — used by tests/benchmarks; columns cast to string
    to match the stringly-typed CSV data plane."""

    def __init__(self, spark: SparkSession, directory: str | Path):
        self.spark = spark
        self.directory = Path(directory)

    def scan_splits(self, table: str) -> int | None:
        try:
            size = (self.directory / f"{table}.parquet").stat().st_size
        except OSError:
            return None
        return max(1, -(-size // _max_partition_bytes(self.spark)))

    def read(self, table: str) -> DataFrame:
        df = self.spark.read.parquet(str(self.directory / f"{table}.parquet"))
        df = df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])
        return self._finalize(df)


class JsonlDirSource(Source):
    """<dir>/<table>.jsonl — newline-delimited JSON, the training-data
    interchange format (beyond-reference; dispatch prefix ``jsonl:``).

    Primitives are read as their literal JSON tokens (primitivesAsString),
    matching the stringly-typed CSV data plane without number round-trip
    reformatting; nested objects/arrays are re-serialized to JSON strings.
    Pass an explicit DDL `schema` to skip the inference pass — at scale an
    extra full read for inference is never acceptable; inference is the
    small-file convenience default only."""

    def __init__(self, spark: SparkSession, directory: str | Path, schema: str | None = None):
        self.spark = spark
        self.directory = Path(directory)
        self.schema = schema

    def _path(self, table: str) -> Path:
        for name in (table, f"{table}.jsonl", f"{table}.json"):
            p = self.directory / name
            if p.exists():
                return p
        return self.directory / f"{table}.jsonl"

    def scan_splits(self, table: str) -> int | None:
        try:
            size = _path_bytes(self._path(table))
        except OSError:
            return None
        return max(1, -(-size // _max_partition_bytes(self.spark)))

    def read(self, table: str) -> DataFrame:
        reader = self.spark.read.option("primitivesAsString", True)
        if self.schema:
            reader = reader.schema(self.schema)
        df = reader.json(str(self._path(table)))
        df = df.select(
            *[
                (F.col(c) if t == "string" else F.to_json(F.col(c))).alias(c)
                for c, t in df.dtypes
            ]
        )
        return self._finalize(df)


class JdbcSource(Source):
    """JDBC table scan (reference S2): identifiers lower-cased app-side
    (sources.py:75-119 SQL_TO_LOWER) with per-dialect quirks from
    sources/dialects.py."""

    def __init__(self, spark: SparkSession, url: str, properties: dict[str, str] | None = None):
        from carrot_transform_spark.sources.dialects import dialect_for_url

        self.spark = spark
        self.url = url
        self.properties = properties or {}
        self.dialect = dialect_for_url(url)

    def scan_splits(self, table: str) -> int | None:
        # a raw JDBC scan is one stream; with numPartitions set, read()
        # parallelizes it — either on the caller's partitionColumn(+bounds)
        # or on a derived numeric column (min/max bounds probed server-side,
        # see _derive_partitioning). Only a table with NO numeric column
        # falls back to one stream.
        try:
            return max(1, int(self.properties.get("numPartitions", 1)))
        except (TypeError, ValueError):
            return None

    _NUMERIC_JDBC_TYPES = ("int", "bigint", "smallint", "tinyint", "long", "decimal")

    def _derive_partitioning(
        self, dbtable: str, options: dict[str, str]
    ) -> dict[str, str] | None:
        """partitionColumn/lowerBound/upperBound derived from the table
        itself, so `numPartitions` alone yields a genuinely parallel scan —
        a 100 TB DB ingest must never be a single JDBC stream. Picks the
        first numeric column (preferring *id* names — the usual indexed
        PK), probes MIN/MAX with a one-row server-side aggregate, and
        returns the reader options Spark needs to split the scan into
        range predicates. Returns None (single stream) when the caller
        already partitioned, asked for <= 1 partition, or the table has no
        numeric column; NULL bounds (empty table) also fall back."""
        try:
            n = int(options.get("numPartitions", 1))
        except (TypeError, ValueError):
            return None
        if n <= 1 or "partitionColumn" in options:
            return None
        passthrough = {
            k: v
            for k, v in options.items()
            if k not in ("numPartitions", "partitionColumn", "lowerBound", "upperBound")
        }

        def reader(tbl: str):
            r = self.spark.read.format("jdbc").option("url", self.url).option(
                "dbtable", tbl
            )
            for k, v in passthrough.items():
                r = r.option(k, v)
            return r

        schema = reader(dbtable).load().schema  # schema probe — no rows fetched
        numeric = [
            f.name
            for f in schema.fields
            if f.dataType.simpleString().startswith(self._NUMERIC_JDBC_TYPES)
        ]
        if not numeric:
            return None
        col = next(
            (c for c in numeric if c.lower().endswith("id") or c.lower() == "id"),
            numeric[0],
        )
        # the schema probe reports the column's EXACT server-side name, so
        # it must be double-quoted (ANSI — Derby/Postgres/Trino/SQLite all
        # honor it) or the server would case-fold it away again
        q = '"' + col.replace('"', '""') + '"'
        row = reader(
            f"(SELECT MIN({q}) AS ct_lo, MAX({q}) AS ct_hi FROM {dbtable}) ct_bounds"
        ).load().first()
        if row is None or row[0] is None or row[1] is None:
            return None
        lo, hi = int(row[0]), int(row[1])
        return {
            "partitionColumn": col,
            "lowerBound": str(lo),
            "upperBound": str(max(hi, lo + 1)),
            "numPartitions": str(n),
        }

    def read_spec(self, table: str) -> tuple[str, dict[str, str]]:
        """(dbtable, reader options) — pure, so dialect contract tests can
        assert it without a live server."""
        # rules name sources by file ("Demographics.csv"); DB tables drop the
        # extension (reference args.remove_csv_extension before source.open)
        if table.lower().endswith(".csv"):
            table = table[:-4]
        options = dict(self.dialect.read_options)
        options.update(self.properties)
        return table.lower(), options

    def read(self, table: str) -> DataFrame:
        dbtable, options = self.read_spec(table)
        derived = self._derive_partitioning(dbtable, options)
        if derived is not None:
            options = {**options, **derived}
        reader = self.spark.read.format("jdbc").option("url", self.url).option(
            "dbtable", dbtable
        )
        for k, v in options.items():
            reader = reader.option(k, v)
        df = reader.load()
        # headers lower-cased app-side regardless of how the server folded
        # them (reference SQL_TO_LOWER; Trino flips case, Derby folds upper)
        df = df.toDF(*[c.lower() for c in df.columns])
        df = df.select(*[F.col(c).cast("string").alias(c) for c in df.columns])
        return self._finalize(df)


class S3CsvSource(Source):
    """CSV under s3a://bucket/prefix/ (reference S3/S4); for MinIO set
    fs.s3a.endpoint + path-style access on the SparkSession's hadoop conf."""

    def __init__(self, spark: SparkSession, base_url: str, sep: str = ","):
        self.spark = spark
        self.base_url = base_url.rstrip("/")
        self.sep = sep

    def read(self, table: str) -> DataFrame:
        url = f"{self.base_url}/{table}"
        df = (
            self.spark.read.option("header", True)
            .option("sep", self.sep)
            .option("inferSchema", False)
            .csv(url)
        )

        def header_line() -> str | None:
            # one tiny single-line job; only runs when the trailing-column
            # name check fires in _finalize_csv
            try:
                first = self.spark.read.text(url).limit(1).collect()
                return first[0][0] if first else None
            except Exception:
                return None

        return self._finalize_csv(df, header_line)


_URL_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def configure_minio(spark: SparkSession, spec: str) -> str:
    """Parse a ``minio:user:pass@http://host:port/bucket/folder`` spec,
    configure the session's s3a filesystem for the endpoint, and return the
    ``s3a://bucket/folder`` URL (shared by source and sink dispatch)."""
    m = re.match(r"^minio:([^:]+):([^@]+)@(https?://[^/]+)/(.+)$", spec)
    if not m:
        raise ValueError(f"bad minio spec: {spec}")
    user, pw, endpoint, bucket_path = m.groups()
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.endpoint", endpoint)
    hconf.set("fs.s3a.access.key", user)
    hconf.set("fs.s3a.secret.key", pw)
    hconf.set("fs.s3a.path.style.access", "true")
    return f"s3a://{bucket_path}"


def make_source(spark: SparkSession, spec: str) -> Source:
    """Dispatch a CLI --inputs spec to a connector (reference sources.py:57-69)."""
    if spec.startswith("minio:"):
        return S3CsvSource(spark, configure_minio(spark, spec))
    if spec.startswith("s3a://") or spec.startswith("s3://"):
        return S3CsvSource(spark, spec.replace("s3://", "s3a://", 1))
    if spec.startswith("jsonl:"):
        return JsonlDirSource(spark, spec[len("jsonl:"):])
    if spec.startswith("jdbc:"):
        # JDBC URLs needn't contain '//' (e.g. jdbc:derby:/path/db)
        return JdbcSource(spark, spec)
    if spec.startswith(("postgresql+wire:", "postgres+wire:")):
        from carrot_transform_spark.sources.pgwire import PgWireSource

        return PgWireSource(spark, spec)
    if _URL_RE.match(spec):
        # the reference accepts SQLAlchemy engine URLs (sources.py:66-67);
        # translate to JDBC form, credentials moving into properties
        from carrot_transform_spark.sources.dialects import sqlalchemy_to_jdbc

        url, props = sqlalchemy_to_jdbc(spec)
        if url.startswith("jdbc:postgresql:"):
            # a postgresql:// URL still works without the JDBC driver jar:
            # fall back to the dependency-free wire-protocol transport
            from carrot_transform_spark.sources.pgwire import (
                PgWireSource,
                jdbc_driver_available,
            )

            if not jdbc_driver_available(spark, "org.postgresql.Driver"):
                import logging

                logging.getLogger(__name__).info(
                    "postgresql JDBC driver not on the classpath; "
                    "reading %s via the wire-protocol transport", spec
                )
                return PgWireSource(spark, spec)
        return JdbcSource(spark, url, props)
    return CsvDirSource(spark, spec)
