"""scan_splits: driver-side split estimation replacing the RDD probe."""

from carrot_transform_spark.sources.registry import (
    CsvDirSource,
    JdbcSource,
    ParquetDirSource,
    _max_partition_bytes,
)


def test_max_partition_bytes_parses_forms(spark):
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        for raw, want in [("128MB", 128 << 20), ("134217728b", 128 << 20),
                          ("1g", 1 << 30), ("64k", 64 << 10)]:
            spark.conf.set("spark.sql.files.maxPartitionBytes", raw)
            assert _max_partition_bytes(spark) == want, raw
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_csv_source_estimates_one_split_for_tiny_file(spark, tmp_path):
    (tmp_path / "t.csv").write_text("a,b\n1,2\n")
    src = CsvDirSource(spark, tmp_path)
    assert src.scan_splits("t") == 1
    assert src.scan_splits("missing") is None


def _splits_and_partitions(spark, src, table):
    """(scan_splits estimate, partitions of the real read) at 1 KiB splits."""
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024b")
        return src.scan_splits(table), src.read(table).rdd.getNumPartitions()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_csv_source_estimates_many_splits_for_large_file(spark, tmp_path):
    (tmp_path / "big.csv").write_text("a,b\n" + "1,2\n" * 1000)
    n, parts = _splits_and_partitions(spark, CsvDirSource(spark, tmp_path, multiline=False), "big")
    assert n == parts and n >= 3  # ~4000 bytes / 1 KiB splits


def test_csv_source_estimates_one_split_per_multiline_file(spark, tmp_path):
    """A multiLine read (the default) cannot split a file: one partition
    however large the file, and one per part file of a directory."""
    (tmp_path / "big.csv").write_text("a,b\n" + "1,2\n" * 1000)
    src = CsvDirSource(spark, tmp_path)
    n, parts = _splits_and_partitions(spark, src, "big")
    assert n == parts == 1
    d = tmp_path / "parts"
    d.mkdir()
    for i in range(3):
        (d / f"part-{i}.csv").write_text("a,b\n" + "1,2\n" * 300)
    n, parts = _splits_and_partitions(spark, src, "parts")
    assert n == parts == 3


def test_jdbc_source_split_hints(spark):
    assert JdbcSource(spark, "jdbc:derby:x").scan_splits("t") == 1
    # numPartitions ALONE now parallelizes the read: read() derives
    # partitionColumn+bounds from the table's first numeric column
    # (_derive_partitioning), so the honest split count is n
    assert JdbcSource(spark, "jdbc:derby:x", {"numPartitions": "8"}).scan_splits("t") == 8
    part = {"numPartitions": "8", "partitionColumn": "id", "lowerBound": "1", "upperBound": "100"}
    assert JdbcSource(spark, "jdbc:derby:x", part).scan_splits("t") == 8
    bogus = dict(part, numPartitions="bogus")
    assert JdbcSource(spark, "jdbc:derby:x", bogus).scan_splits("t") is None


def test_parquet_source_split_hint(spark):
    src = ParquetDirSource(spark, "/root/testdata/sf0.001")
    assert src.scan_splits("orders") == 1  # tiny file, one split
    assert src.scan_splits("nope") is None


def test_jsonl_source_sums_directory_part_files(spark, tmp_path):
    """A .jsonl DIRECTORY of part files must size by the sum of its files,
    not the directory inode's own few-KB stat."""
    from carrot_transform_spark.sources.registry import JsonlDirSource

    d = tmp_path / "t.jsonl"
    d.mkdir()
    for i in range(4):
        (d / f"part-{i}.jsonl").write_text('{"a": "1"}\n' * 100)
    src = JsonlDirSource(spark, tmp_path)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024b")
        n = src.scan_splits("t")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert n is not None and n >= 4  # 4 x 1.1 KB of parts / 1 KiB splits


def test_csv_source_sums_extensionless_directory(spark, tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    for i in range(3):
        (d / f"part-{i}.csv").write_text("a,b\n" + "1,2\n" * 300)
    src = CsvDirSource(spark, tmp_path)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024b")
        n = src.scan_splits("t")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert n is not None and n >= 3


def test_csv_size_hint_bounds_spark_row_count(spark, tmp_path):
    # each file's text: the bound from its bytes must cover Spark's count
    cases = {
        "bom": "\ufeffa,b\n1,2\n3,4\n",
        "crlf": "a,b\r\n1,2\r\n3,4\r\n",
        "quoted": 'a,b\n"x\ny",1\n"p\n\nq",2\n"",3\n',
        "no_final_newline": "a,b\n1,2\n3,4",
        "blank_lines": "a,b\n\n1,2\n\n\n3,4\n\n",
        "short_rows": "a,b,c,d,e\n1\n2\n3\n\n4",
        "excel_comma": "a,b,\n1,2,\n3,4,\n",
        "header_only": "a,b\n",
        "header_no_newline": "a,b",
        "empty": "",
    }
    for name, text in cases.items():
        (tmp_path / f"{name}.csv").write_text(text, encoding="utf-8")
    (tmp_path / "semi.csv").write_text("a;b\n1;2\n;\n3;4\n")
    parts = tmp_path / "parts"
    parts.mkdir()
    for i in range(3):
        (parts / f"part-{i}.csv").write_text("a,b\n" + "1,2\n" * (i + 1))
    src = CsvDirSource(spark, tmp_path)
    for table, source in [(n, src) for n in [*cases, "parts"]] + [
        ("semi", CsvDirSource(spark, tmp_path, sep=";"))
    ]:
        bound = source.size_hint(table)
        rows = source.read(table).count()
        assert bound is not None and bound >= rows, (table, bound, rows)
    # the bound is tight for one-character rows and zero for a header alone
    assert src.size_hint("short_rows") == src.read("short_rows").count() == 4
    assert src.size_hint("header_only") == src.size_hint("header_no_newline") == 0
    assert src.size_hint("missing") is None
