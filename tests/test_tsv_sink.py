"""TSV sink behaviors: the trailing-empty-column "shorten" quirk
(reference outputs.py:62-83) and header/append handling."""

from __future__ import annotations

from carrot_transform_spark.sinks.tsv import TsvDirSink


def test_write_rows_shorten(tmp_path):
    sink = TsvDirSink(tmp_path)
    sink.write_rows("t", ["a", "b", ""], [["1", "2", "x"], ["3", "4", "y"]])
    text = (tmp_path / "t.tsv").read_text()
    assert text == "a\tb\n1\t2\n3\t4\n"


def test_write_rows_no_shorten(tmp_path):
    sink = TsvDirSink(tmp_path)
    sink.write_rows("t", ["a", "b"], [["1", "2"]])
    assert (tmp_path / "t.tsv").read_text() == "a\tb\n1\t2\n"


def test_write_df_shorten(spark, tmp_path):
    df = spark.createDataFrame([("1", "2", "x")], ["a", "b", "c"])
    sink = TsvDirSink(tmp_path)
    sink.write("t", df, ["a", "b", ""])
    assert (tmp_path / "t.tsv").read_text() == "a\tb\n1\t2\n"


def test_person_ids_streamed(spark, tmp_path):
    """person_ids goes through the sink (no driver-side collect) and is
    byte-identical to the old write_rows output."""
    from carrot_transform_spark.pipeline import run_transform

    demo = "/root/reference/carrottransform/examples/test/inputs"
    rules = "/root/reference/carrottransform/examples/test/rules/rules_14June2021.json"
    res = run_transform(
        spark,
        rules_file=rules,
        inputs=demo,
        output_dir=str(tmp_path),
        person_table="Demographics",
    )
    text = (tmp_path / "person_ids.tsv").read_text().splitlines()
    assert text[0] == "SOURCE_SUBJECT\tTARGET_SUBJECT"
    assert len(text) == res.person_map.count() + 1
    ids = [int(line.split("\t")[1]) for line in text[1:]]
    assert ids == list(range(1, len(ids) + 1))


def test_single_mode_size_guard_refuses(spark, tmp_path):
    """single mode must refuse plans whose estimated input exceeds the cap:
    it streams through the driver and exists only for small parity runs."""
    import pytest

    df = spark.range(100).selectExpr("CAST(id AS STRING) AS a")
    sink = TsvDirSink(tmp_path, mode="single", single_size_cap=10)
    with pytest.raises(ValueError, match="single mode"):
        sink.write("t", df, ["a"])
    # nothing half-written
    assert not (tmp_path / "t.tsv").exists()


def test_single_mode_size_guard_allows_small(spark, tmp_path):
    df = spark.createDataFrame([("1",), ("2",)], ["a"])
    sink = TsvDirSink(tmp_path, mode="single")  # default 1 GiB cap
    sink.write("t", df, ["a"])
    assert (tmp_path / "t.tsv").read_text() == "a\n1\n2\n"


def test_single_mode_size_guard_disabled(spark, tmp_path):
    df = spark.range(5).selectExpr("CAST(id AS STRING) AS a")
    sink = TsvDirSink(tmp_path, mode="single", single_size_cap=None)
    sink.write("t", df, ["a"])
    assert (tmp_path / "t.tsv").read_text().startswith("a\n")


def test_plan_input_bytes_uses_leaf_stats(spark, tmp_path):
    """The estimate sums LEAF scan sizes, so a join of two small file scans
    stays small (Catalyst's join-level estimate multiplies and would trip
    the cap), and RDD-backed leaves with sentinel stats are skipped."""
    from carrot_transform_spark.sinks.tsv import _plan_input_bytes

    spark.createDataFrame([(i, "x" * 10) for i in range(50)], ["k", "v"]).write.parquet(
        str(tmp_path / "a")
    )
    spark.createDataFrame([(i, "y" * 10) for i in range(50)], ["k", "w"]).write.parquet(
        str(tmp_path / "b")
    )
    a = spark.read.parquet(str(tmp_path / "a"))
    b = spark.read.parquet(str(tmp_path / "b"))
    est = _plan_input_bytes(a.join(b, "k"))
    assert est is not None and 0 < est < 1 << 20

    # RDD-backed leaves report the Long.MaxValue sentinel and must not
    # poison the sum
    rdd_df = spark.createDataFrame([(1, "x")], ["k", "v"])
    est2 = _plan_input_bytes(rdd_df)
    assert est2 is not None and est2 < 1 << 62


def _row_text(df, columns) -> str:
    """The TSV text of `df` built row by row in Python: header, then each
    row's values tab-joined with NULL as ''."""
    lines = ["\t".join(columns)]
    lines += ["\t".join("" if v is None else str(v) for v in row) for row in df.collect()]
    return "\n".join(lines) + "\n"


def _mixed_frame(spark):
    """50 ids in 7 partitions, 3 of them emptied by the filter; a long
    column and a string column with NULLs, tabs inside values and
    non-ASCII text."""
    return spark.range(0, 50, 1, 7).where("id < 10 OR id >= 30").selectExpr(
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id * 10000000000 END AS l",
        "CASE WHEN id % 3 = 0 THEN NULL WHEN id % 7 = 0 THEN concat('a\tb', id)"
        " ELSE concat('é', id) END AS s",
        "CAST(-id AS INT) AS i",
    )


def test_single_mode_bytes_match_row_text(spark, tmp_path):
    """Spark-written parts, concatenated in partition order, are the bytes
    of the table's rows joined in Python, in the frame's row order."""
    df = _mixed_frame(spark)
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) >= 5 and 0 in sizes and None in [r.l for r in df.collect()]
    TsvDirSink(tmp_path).write("t", df, ["l", "s", "i"])
    assert (tmp_path / "t.tsv").read_bytes() == _row_text(df, ["l", "s", "i"]).encode("utf-8")


def test_single_mode_append_writes_header_once(spark, tmp_path):
    df = _mixed_frame(spark)
    sink = TsvDirSink(tmp_path, write_mode="append")
    sink.write("t", df, ["l", "s", "i"])
    sink.write("t", df, ["l", "s", "i"])
    text = _row_text(df, ["l", "s", "i"])
    body = text[text.index("\n") + 1:]
    assert (tmp_path / "t.tsv").read_text(encoding="utf-8") == text + body


def test_single_mode_leaves_only_the_tsv(spark, tmp_path):
    """No part directory, `.crc` sidecar or `_SUCCESS` marker stays beside
    the output, and an empty frame writes its header only."""
    df = _mixed_frame(spark)
    sink = TsvDirSink(tmp_path)
    sink.write("t", df, ["l", "s", "i"])
    sink.write("e", df.where("false"), ["l", "s", "i"])
    assert sorted(p.name for p in tmp_path.iterdir()) == ["e.tsv", "t.tsv"]
    assert (tmp_path / "e.tsv").read_text() == "l\ts\ti\n"


def test_single_mode_refuses_non_text_types(spark, tmp_path):
    """Spark's string cast of a double or boolean is not Python's text
    (1.0E20 vs 1e+20, true vs True): single mode refuses such a column,
    naming it, before any job runs."""
    import pytest

    df = spark.range(3).selectExpr("CAST(id AS STRING) AS a", "id * 1e20 AS d")
    sc = spark.sparkContext
    sc.setJobGroup("tsv-type-guard", "single-mode type guard")
    try:
        with pytest.raises(TypeError, match="'d'"):
            TsvDirSink(tmp_path).write("t", df, ["a", "d"])
        assert list(sc.statusTracker().getJobIdsForGroup("tsv-type-guard")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(tmp_path.iterdir()) == []
