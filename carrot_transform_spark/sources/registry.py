"""Input connectors: named source tables -> string-typed DataFrames.

Mirrors the reference's SourceObject dispatch (sources.py:57-69):
- 'minio:...' / 's3a://...' -> CSV, the local directory's reader on s3a paths
- '<scheme>://...'          -> JDBC
- otherwise                 -> local CSV directory (CsvDirSource: the header
                               is parsed from the file, so a read runs no job)

Every reader returns all-string columns plus a ``__ct_line`` ordering
column (monotonically increasing in file order) used for order-dependent
id assignment; blank-named columns (the Excel trailing-comma artifact,
reference sources.py:160-177) are dropped.
"""

from __future__ import annotations

import csv
import re
from collections import Counter
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

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
        metadata, or CSV file bytes at a local path or URL alike), or None
        when unknowable without a scan. Dense-id assignment numbers a small
        input with one window and no job; with no bound, its bucket
        statistics size the input."""
        return None

    def scan_splits(self, table: str) -> int | None:
        """Estimated partitions of the scan of `table` (file sources: from
        file sizes and counts, local or object store), or None when
        unknowable cheaply. Lets the planner spread a narrow scan without
        the ~1s df.rdd.getNumPartitions() plan-to-RDD conversion."""
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


_URL_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")
# one line of CSV bytes, with its line break: no UTF-8 sequence holds \r or \n
_LINE_RE = re.compile(rb"[^\r\n]*(?:\r\n|\r|\n)|[^\r\n]+")


def hadoop_path(spark: SparkSession, location: str | Path):
    """(Hadoop FileSystem, Path) of a local path or an object-store URL: the
    URL scheme's FileSystem, or the raw local one (no `.crc` sidecars)."""
    fs_api, hconf = spark._jvm.org.apache.hadoop.fs, spark._jsc.hadoopConfiguration()
    if isinstance(location, str) and _URL_RE.match(location):
        path = fs_api.Path(location)
        return path.getFileSystem(hconf), path
    path = fs_api.Path(f"file://{Path(location).resolve()}")
    return fs_api.FileSystem.getLocal(hconf).getRaw(), path


def _data_files(spark: SparkSession, location: str | Path):
    """(FileSystem, [(Path, bytes)]) of the files a scan of `location` reads:
    the file itself, or a directory's files in path order, without the
    hidden ones Spark skips too (`.crc` sidecars, `_SUCCESS`). The list is
    None when nothing is at `location`."""
    fs, path = hadoop_path(spark, location)
    if not fs.exists(path):
        return fs, None
    files, todo = [], [fs.getFileStatus(path)]
    while todo:
        st = todo.pop()
        if not st.isDirectory():
            files.append((st.getPath(), st.getLen()))
        else:
            todo += [c for c in fs.listStatus(st.getPath())
                     if not c.getPath().getName().startswith((".", "_"))]
    return fs, sorted(files, key=lambda f: f[0].toString())


def _scan_splits(spark: SparkSession, splittable_bytes: int, files: int) -> int:
    """Estimated partitions of a file scan: every file is at least one split,
    and the bytes Spark may split take one per maxPartitionBytes."""
    return max(1, files, -(-splittable_bytes // _max_partition_bytes(spark)))


def _csv_header(fs, path, sep: str) -> tuple[list[str], bool, int] | None:
    """(cells, whether its raw text ends with `sep`, bytes through its end)
    of a CSV file's header: its first non-blank record, parsed as Spark's
    reader parses it (`sep`, `"` quotes with `""` escapes, UTF-8 with a
    leading BOM stripped). None for a file with no record."""
    taken = []  # the raw bytes of every line the parser took
    stream = fs.open(path)

    def lines():
        rest, eof = b"", False
        while not eof:
            chunk = bytes(stream.readNBytes(1 << 12))
            eof = not chunk
            # the last line found may go on in the next chunk
            *whole, rest = [rest, b""] if eof else _LINE_RE.findall(rest + chunk)
            for line in filter(None, whole):
                taken.append(line)
                yield line.decode("utf-8-sig" if len(taken) == 1 else "utf-8", errors="replace")

    try:
        for cells in csv.reader(lines(), delimiter=sep, quotechar='"', doublequote=True):
            if cells:  # a blank line is no record
                # a quoted line break of the file's kind reads as "\n", as
                # in Spark's parser (which takes the kind from the first one)
                eol = taken[0][len(taken[0].rstrip(b"\r\n")):].decode() or "\n"
                cells = [c.replace(eol, "\n") for c in cells]
                trailing = taken[-1].rstrip(b"\r\n").endswith(sep.encode())
                return cells, trailing, sum(map(len, taken))
        return None
    finally:
        stream.close()


class CsvDirSource(Source):
    """<location>/<table>, else <location>/<table>.csv: a file or a directory
    of part files, read as strings with header (reference S1). The location
    is a local directory or an object-store URL (reference S3/S4). The
    header is parsed from the file, so a read submits no Spark job."""

    def __init__(self, spark: SparkSession, location: str | Path, sep: str = ",",
                 multiline: bool = True):
        self.spark = spark
        self.location = str(location).rstrip("/")
        self.is_url = bool(_URL_RE.match(self.location))
        self.sep = sep
        # RFC 4180 cells may span lines (the reference's csv.reader accepts
        # them); Spark's multiLine reads each FILE as one split, so at scale
        # use many files, or multiline=False for newline-free data
        self.multiline = multiline

    def _locate(self, table: str):
        """(location, FileSystem, data files) of `<table>`, else of
        `<table>.csv`; the files are None when neither exists."""
        for name in (table, f"{table}.csv"):
            fs, files = _data_files(self.spark, f"{self.location}/{name}")
            if files is not None:
                return f"{self.location}/{name}", fs, files
        return f"{self.location}/{table}", fs, None

    def scan_splits(self, table: str) -> int | None:
        _, _, files = self._locate(table)
        if files is None:
            return None
        # a multiLine file is one split, however large
        size = 0 if self.multiline else sum(n for _, n in files)
        return _scan_splits(self.spark, size, len(files))

    def size_hint(self, table: str) -> int | None:
        """(bytes - header bytes + 1) // 2, with no scan: every row Spark
        returns takes at least one character and a line break (the last may
        lack it), and a blank line is no row; PERMISSIVE mode keeps short
        rows, so not bytes / columns. Several part files subtract no header."""
        _, fs, files = self._locate(table)
        if files is None:
            return None
        header = _csv_header(fs, files[0][0], self.sep) if len(files) == 1 else None
        return (sum(n for _, n in files) - (header[2] if header else 0) + 1) // 2

    def read(self, table: str) -> DataFrame:
        location, fs, files = self._locate(table)
        headers = (_csv_header(fs, path, self.sep) for path, _ in files or ())
        cells, trailing, _ = next(filter(None, headers), ([], False, 0))
        # Spark's header names (CSVUtils.makeSafeHeader): a blank cell becomes
        # `_c{i}`; a repeated name (case-folded if not caseSensitive) gets `i`
        key = str if self.spark.conf.get("spark.sql.caseSensitive") == "true" else str.lower
        counts = Counter(map(key, cells))
        names = [f"_c{i}" if c == "" else f"{c}{i}" if counts[key(c)] > 1 else c
                 for i, c in enumerate(cells)]
        # raw schema names keep Spark's CSVHeaderChecker from warning on every
        # scan; colliding ones cannot be schema names (COLUMN_ALREADY_EXISTS)
        fields = names if max(counts.values(), default=1) > 1 else cells
        # RFC 4180 parity with the reference's csv.reader (found by the
        # connector fuzz): doubled quotes escape quotes — Spark's default
        # escape is backslash — and quoted cells may span lines
        df = self.spark.read.schema(
            StructType([StructField(c, StringType()) for c in fields])
        ).options(
            header=True, sep=self.sep, encoding="UTF-8", mode="PERMISSIVE",
            escape='"', multiLine=self.multiline,
        ).csv(location)
        if fields != names:
            df = df.toDF(*names)
        # the Excel trailing-comma artifact (reference sources.py:160-177): a
        # blank last name in a header that really ends with the separator,
        # so a column genuinely named like `_c3` stays
        if cells and cells[-1] == "" and trailing:
            df = df.select(*names[:-1])
        return self._finalize(df)


class ParquetDirSource(Source):
    """<dir>/<table>.parquet — used by tests/benchmarks; columns cast to string
    to match the stringly-typed CSV data plane."""

    def __init__(self, spark: SparkSession, directory: str | Path):
        self.spark = spark
        self.directory = Path(directory)

    def scan_splits(self, table: str) -> int | None:
        _, files = _data_files(self.spark, self.directory / f"{table}.parquet")
        return None if files is None else _scan_splits(
            self.spark, sum(n for _, n in files), len(files))

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
        _, files = _data_files(self.spark, self._path(table))
        return None if files is None else _scan_splits(
            self.spark, sum(n for _, n in files), len(files))

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
        return CsvDirSource(spark, configure_minio(spark, spec))
    if spec.startswith(("s3a://", "s3://")):
        return CsvDirSource(spark, spec.replace("s3://", "s3a://", 1))
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
