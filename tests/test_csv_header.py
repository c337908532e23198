"""CsvDirSource parses the header record itself: its columns and rows must
equal those of Spark's own header inference with the same reader options,
a read must submit no Spark job, and the raw-name schema must keep Spark's
CSVHeaderChecker quiet. Spark stays the reference: an upgrade that changes
its header naming fails here."""

import time

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from carrot_transform_spark.sources.registry import LINE_COL, CsvDirSource

# name -> (sep, file text, or {part file: text} for a directory, whether the
# Excel trailing-comma column is dropped)
CASES = {
    # BOM, a blank name, case-insensitive duplicates, a quoted header cell
    # holding the separator, and a quoted data cell holding sep and newline
    "mixed": (",", '\ufeffid,,Name,name,"x,y"\n1,,a,b,"p,q\nr"\n2,z,c,d,e\n', False),
    "dups": (",", "a,A,b,a\n1,2,3,4\n5,6,7,8\n", False),
    "two_blanks": (",", "a,,,b\n1,2,3,4\n", False),
    # leading blank lines, padded names, a genuine `_c1`, a trailing comma
    "padded": (",", "\n\n a ,_c1, b ,\n1,2,3,\n4,5,6,\n", True),
    # a quoted empty last cell is no trailing comma: `_c2` stays
    "quoted_blank_last": (",", 'a,b,""\n1,2,3\n', False),
    "header_newline": (",", '"multi\nline",b\n1,2\n3,"4\n5"\n', False),
    "crlf": (",", 'a,"b\r\nc"\r\n1,2\r\n3,"4\r\n5"\r\n', False),
    "semi": (";", 'a;b;c\n1;"x;y";3\n4;5;6\n', False),
    "tab": ("\t", "a\tb\n1\t2\n\t3\n", False),
    "parts": (",", {"part-0.csv": "a,b\n1,2\n", "part-1.csv": "a,b\n3,4\n5,6\n"}, False),
    # a header longer than one read chunk, with a quoted line break across it
    "long": (",", ",".join(f"column_{i:04d}" for i in range(900)).replace(
        "column_0450", '"column\n0450"') + "\n" + ",".join(map(str, range(900))) + "\n", False),
}


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("csv_header")
    for name, (_, text, _) in CASES.items():
        if isinstance(text, dict):
            (d / name).mkdir()
            for part, body in text.items():
                (d / name / part).write_text(body, encoding="utf-8")
        else:
            (d / f"{name}.csv").write_text(text, encoding="utf-8")
    return d


@pytest.mark.parametrize("name", list(CASES))
def test_header_matches_spark_inference(spark, corpus, name):
    sep, text, drop_last = CASES[name]
    got = CsvDirSource(spark, corpus, sep=sep).read(name)
    path = corpus / (name if isinstance(text, dict) else f"{name}.csv")
    want = spark.read.options(
        header=True, sep=sep, encoding="UTF-8", mode="PERMISSIVE", escape='"', multiLine=True
    ).csv(str(path))
    cols = want.columns[:-1] if drop_last else want.columns
    assert got.columns == [*cols, LINE_COL]
    width = len(cols)
    got_rows = sorted((tuple(r)[:width] for r in got.collect()), key=repr)
    assert got_rows == sorted((tuple(r)[:width] for r in want.collect()), key=repr)


def test_read_submits_no_job(spark, corpus):
    sc = spark.sparkContext
    group = "csv-header-read"
    sc.setJobGroup(group, "CsvDirSource.read")
    try:
        frames = [CsvDirSource(spark, corpus, sep=sep).read(n) for n, (sep, _, _) in CASES.items()]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the tracker sees this group's jobs at all: one count is a job
        frames[0].count()
        deadline = time.time() + 10
        while not sc.statusTracker().getJobIdsForGroup(group) and time.time() < deadline:
            time.sleep(0.1)
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


CHECKER = "org.apache.spark.sql.catalyst.csv.CSVHeaderChecker"


@pytest.fixture
def checker_log(spark):
    """Text of every CSVHeaderChecker WARN logged while the test runs."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    config = ctx.getConfiguration()
    writer = jvm.java.io.StringWriter()
    layout = core.layout.PatternLayout.newBuilder().withPattern("%m%n").build()
    appender = core.appender.WriterAppender.createAppender(
        layout, None, writer, "csv-header-check", False, True
    )
    appender.start()
    logger = core.config.LoggerConfig(CHECKER, jvm.org.apache.logging.log4j.Level.WARN, False)
    logger.addAppender(appender, None, None)
    config.addLogger(CHECKER, logger)
    ctx.updateLoggers()
    try:
        yield writer
    finally:
        config.removeLogger(CHECKER)
        ctx.updateLoggers()
        appender.stop()


def test_trailing_comma_scan_logs_no_header_warning(spark, corpus, checker_log):
    df = CsvDirSource(spark, corpus).read("padded")
    assert df.columns == [" a ", "_c1", " b ", LINE_COL]
    df.collect()
    assert checker_log.toString() == ""
    # the capture is live: a schema of the renamed names makes Spark warn
    names = StructType([StructField(c, StringType()) for c in (" a ", "_c1", " b ", "_c3")])
    spark.read.schema(names).options(header=True, multiLine=True).csv(
        str(corpus / "padded.csv")
    ).collect()
    assert "CSV header does not conform to the schema" in checker_log.toString()
