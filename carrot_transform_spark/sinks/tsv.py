"""Output sinks: TSV directory (golden-byte-compatible) and JDBC.

The reference writes one `<out>/<name>.tsv` per target, tab-joined with no
quoting (outputs.py:96-114). Two write modes:

- ``single``     : one exact TSV, byte-compatible with the reference
                   goldens. Spark builds and writes every line as text
                   parts in `<name>.tsv.parts`; the driver then only
                   concatenates the header and the parts, in partition
                   (= row) order, into `<name>.tsv`. No row enters Python.
- ``distributed``: df.write.csv with tab separator — the 100 TB path
                   (many part files, committed by the cluster).

The directory may be a local path OR an object-store URL (s3a://...,
reference K3 writes multipart to S3/MinIO, outputs.py + sources.py s3
coordinates). Both go through Spark's writer and one Hadoop FileSystem
merge: the URL scheme's FileSystem, or the raw local one for a path (no
`.crc` sidecar in the output).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType
from pyspark.sql.types import StructField, StructType

from carrot_transform_spark.sources.registry import _URL_RE, configure_minio, hadoop_path

# "single" mode exists for byte-exact parity with the reference goldens and
# copies every byte of a table through one driver-side stream. Refuse it
# when the plan's input exceeds this cap so it can't be misused as a 100 TB
# funnel.
SINGLE_MODE_INPUT_CAP = 1 << 30  # 1 GiB of leaf-scan input

# the column types whose Spark string cast is the text Python's str() gives;
# others differ (1.0E20 vs 1e+20, true vs True), so single mode refuses them
_TEXT_TYPES = (StringType, ByteType, ShortType, IntegerType, LongType)


def _plan_input_bytes(df: DataFrame) -> int | None:
    """Estimated input size: sum of the optimized plan's LEAF stats.

    Leaves (file scans, local relations) carry real sizes; intermediate
    nodes are avoided because Catalyst's join estimates multiply child sizes
    and would spuriously trip the cap on small inputs — which is why this
    is not ``session.plan_size_bytes``, the ROOT's estimate. Returns None
    when the internals are unavailable (the guard then stays out of the
    way).
    """
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        it = leaves.iterator()
        total = 0
        while it.hasNext():
            size = it.next().stats().sizeInBytes()  # scala BigInt
            size = size if isinstance(size, int) else int(size.toString())
            # leaves without real statistics (e.g. RDD-backed relations)
            # report spark.sql.defaultSizeInBytes = Long.MaxValue; skip them
            # rather than poison the sum — the guard targets file scans,
            # which always carry actual sizes
            if size < (1 << 62):
                total += size
        return total
    except Exception:
        return None


def _write_rows_through_spark(
    self, name: str, header: list[str], rows: list[list[str]], spark=None
) -> None:
    """``write_rows`` of the JDBC and JSONL sinks: driver-side rows (metrics
    summaries) written through the sink's own ``write`` as an all-string
    table. Same (name, header, rows, spark=None) order and trailing-empty-
    header 'shorten' quirk as ``TsvDirSink.write_rows`` (pipeline.py passes
    the summary this way)."""
    if spark is None:
        raise ValueError(f"write_rows to a {type(self).__name__} needs the spark session")
    if header and header[-1] == "":
        header = header[:-1]
        rows = [r[:-1] for r in rows]
    schema = StructType([StructField(c, StringType()) for c in header])
    self.write(name, spark.createDataFrame([tuple(r) for r in rows], schema), header)


class TsvDirSink:
    def __init__(
        self,
        directory: str | Path,
        mode: str = "single",
        write_mode: str = "overwrite",
        single_size_cap: int | None = SINGLE_MODE_INPUT_CAP,
    ):
        """write_mode: 'overwrite' (reference default) or 'append' — append
        adds rows to an existing TSV without re-writing the header
        (reference v2 --write-mode). Append targets local paths only:
        object stores don't support appends.

        single_size_cap: maximum estimated input (leaf-scan bytes) accepted
        in 'single' mode; pass None to disable the guard."""
        self.is_url = isinstance(directory, str) and bool(_URL_RE.match(directory))
        if self.is_url:
            self.base = str(directory).rstrip("/")
            if write_mode == "append":
                raise ValueError("append write-mode is not supported for object-store URLs")
        else:
            self.directory = Path(directory)
            self.directory.mkdir(parents=True, exist_ok=True)
        self.mode = mode
        self.write_mode = write_mode
        self.single_size_cap = single_size_cap

    def _path(self, spark, name: str):
        """(Hadoop FileSystem, Path) of `<directory>/<name>` (hadoop_path)."""
        return hadoop_path(spark, f"{self.base}/{name}" if self.is_url else self.directory / name)

    def write(self, name: str, df: DataFrame, columns: list[str]) -> None:
        # "shorten" quirk (reference outputs.py:62-83 start/write): when the
        # last header cell is empty, the final column is dropped from the
        # header AND from every record
        if columns and columns[-1] == "":
            columns = columns[:-1]
            df = df.select(*[df.columns[i] for i in range(len(columns))])
        out = df.select(*columns)
        if self.mode != "single":
            target = f"{self.base}/{name}" if self.is_url else str(self.directory / name)
            out.write.mode("overwrite").options(
                sep="\t", header=True, emptyValue="", nullValue=""
            ).csv(target)
            return
        for field in out.schema.fields:
            if not isinstance(field.dataType, _TEXT_TYPES):
                raise TypeError(
                    f"TsvDirSink single mode writes string and integral columns only; "
                    f"column {field.name!r} is {field.dataType.simpleString()}"
                )
        if self.single_size_cap is not None:
            est = _plan_input_bytes(out)
            if est is not None and est > self.single_size_cap:
                raise ValueError(
                    f"TsvDirSink single mode merges the whole table through the driver "
                    f"and is meant for small byte-parity runs; this plan reads an "
                    f"estimated {est} bytes (> cap {self.single_size_cap}). "
                    f"Use mode='distributed' (the committer path), or pass "
                    f"single_size_cap=None to force."
                )
        spark, hadoop = out.sparkSession, out.sparkSession._jvm.org.apache.hadoop
        fs, dest = self._path(spark, f"{name}.tsv")
        _, parts = self._path(spark, f"{name}.tsv.parts")
        appending = self.write_mode == "append" and fs.exists(dest)
        cells = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in columns]
        try:
            out.select(F.concat_ws("\t", *cells)).write.mode("overwrite").option(
                "compression", "none"
            ).text(parts.toString())
            # part-<partition>-<uuid>-c<file>.txt: partition order is row order
            files = sorted(
                (st.getPath() for st in fs.listStatus(parts, hadoop.fs.GlobFilter("part-*"))),
                key=lambda p: (int(p.getName().split("-")[1]), p.getName()),
            )
            stream = fs.append(dest) if appending else fs.create(dest, True)
            try:
                if not appending:
                    stream.write(("\t".join(columns) + "\n").encode("utf-8"))
                for path in files:
                    src = fs.open(path)
                    try:
                        hadoop.io.IOUtils.copyBytes(src, stream, 1 << 16, False)
                    finally:
                        src.close()
            finally:
                stream.close()
        finally:
            fs.delete(parts, True)

    def write_rows(
        self, name: str, header: list[str], rows: list[list[str]], spark=None
    ) -> None:
        shorten = bool(header) and header[-1] == ""
        if shorten:
            header = header[:-1]
        lines = ["\t".join(header) + "\n"]
        lines += ["\t".join(r[:-1] if shorten else r) + "\n" for r in rows]
        if self.is_url:
            if spark is None:
                raise ValueError("write_rows to an object-store URL needs the spark session")
            fs, dest = self._path(spark, f"{name}.tsv")
            stream = fs.create(dest, True)
            try:
                stream.write("".join(lines).encode("utf-8"))
            finally:
                stream.close()
            return
        path = self.directory / f"{name}.tsv"
        with path.open("w", encoding="utf-8") as fh:
            fh.writelines(lines)


class JdbcSink:
    """CREATE-or-overwrite + bulk insert via df.write.jdbc (reference K2
    creates all-Text columns, outputs.py:133, and row-by-row INSERTs;
    Spark's JDBC writer batches instead). Dialect quirks (identifier
    folding, the dialect's text type, Trino's isolationLevel NONE) come
    from sources/dialects.py."""

    def __init__(self, url: str, properties: dict[str, str] | None = None):
        from carrot_transform_spark.sources.dialects import dialect_for_url

        self.url = url
        self.properties = properties or {}
        self.dialect = dialect_for_url(url)

    def write_spec(self, name: str, columns: list[str]) -> tuple[str, dict[str, str]]:
        """(dbtable, writer options) — pure, so dialect contract tests can
        assert it without a live server."""
        options = dict(self.dialect.write_options)
        # every sink column in the dialect's text type, matching the
        # reference's all-Text CREATE; user-supplied options win
        options["createTableColumnTypes"] = self.dialect.column_types_clause(columns)
        options.update(self.properties)
        return name, options

    def write(self, name: str, df: DataFrame, columns: list[str]) -> None:
        dbtable, options = self.write_spec(name, columns)
        writer = df.select(*columns).write.mode("overwrite").format("jdbc")
        writer = writer.option("url", self.url).option("dbtable", dbtable)
        for k, v in options.items():
            writer = writer.option(k, v)
        writer.save()

    write_rows = _write_rows_through_spark


class JsonlDirSink:
    """<dir>/<table>.jsonl — newline-delimited JSON output (beyond-reference;
    dispatch prefix ``jsonl:``), the hand-off format for training-data
    tooling. Distributed: each partition writes its own part via Spark's
    json writer and a committer rename; a trailing `.jsonl` directory of
    parts, not a single file (single-file funnels don't scale — use the TSV
    sink's guarded single mode when byte-exact one-file output is needed)."""

    def __init__(self, directory: str | Path):
        self.directory = str(directory).rstrip("/")

    def write(self, name: str, df, columns: list[str]) -> None:
        # keep null fields in the emitted objects: the default
        # ignoreNullFields drops all-null COLUMNS from the output entirely,
        # so a re-read infers a narrower schema than was written
        df.select(*columns).write.mode("overwrite").option(
            "ignoreNullFields", False
        ).json(f"{self.directory}/{name}.jsonl")

    write_rows = _write_rows_through_spark


def make_sink(spark, spec, mode: str = "single"):
    """Dispatch a CLI --output spec to a sink (reference outputs.py:324-341:
    minio: prefix, else SQLAlchemy URL, else a CSV folder; plus the
    beyond-reference ``jsonl:<dir>`` prefix)."""
    s = str(spec)
    if s.startswith("jsonl:"):
        return JsonlDirSink(s[len("jsonl:"):])
    if s.startswith("minio:"):
        return TsvDirSink(configure_minio(spark, s), mode=mode)
    if s.startswith("s3a://") or s.startswith("s3://"):
        return TsvDirSink(s.replace("s3://", "s3a://", 1), mode=mode)
    if s.startswith("jdbc:"):
        return JdbcSink(s)
    if s.startswith(("postgresql+wire:", "postgres+wire:")):
        from carrot_transform_spark.sources.pgwire import PgWireSink

        return PgWireSink(s)
    if _URL_RE.match(s) and not s.startswith(("file://", "hdfs://")):
        from carrot_transform_spark.sources.dialects import sqlalchemy_to_jdbc

        url, props = sqlalchemy_to_jdbc(s)
        if url.startswith("jdbc:postgresql:"):
            from carrot_transform_spark.sources.pgwire import (
                PgWireSink,
                jdbc_driver_available,
            )

            if not jdbc_driver_available(spark, "org.postgresql.Driver"):
                import logging

                logging.getLogger(__name__).info(
                    "postgresql JDBC driver not on the classpath; "
                    "writing %s via the wire-protocol transport", s
                )
                return PgWireSink(s)
        return JdbcSink(url, props)
    return TsvDirSink(spec if isinstance(spec, Path) else s, mode=mode)
