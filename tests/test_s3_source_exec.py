"""Executed row-level evidence for the object-store CSV path (S3/S4).

No object store (or hadoop-aws jar) exists in this environment, so the test
compiles a 20-line RawLocalFileSystem subclass that answers for the s3a://
scheme and registers it via fs.s3a.impl on the driver's Hadoop conf (the
FileSystem cache is JVM-global, so the driver resolving the class once
covers task threads too). Everything else is the REAL path: make_source
dispatch to CsvDirSource (the local directories' reader), Hadoop
FileSystem resolution for the s3a scheme, file listing, header parse,
trailing-blank-column trim, and __ct_line assignment all execute exactly
as they would against S3/MinIO; only the byte transport differs. (Reference parity:
tests/test_integration.py:105-186 runs the same matrix against live MinIO.)
"""

import shutil
import subprocess
from pathlib import Path

import pytest

from carrot_transform_spark.sources.registry import LINE_COL, CsvDirSource, make_source

_FS_JAVA = """
package ct.testfs;

import java.io.File;
import java.net.URI;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;

public class S3ALocalFileSystem extends RawLocalFileSystem {
    @Override
    public URI getUri() { return URI.create("s3a:///"); }

    @Override
    protected void checkPath(Path path) { /* accept any s3a path */ }

    @Override
    public File pathToFile(Path path) {
        // an s3a URI's authority is the bucket; map it to the leading dir
        URI u = path.toUri();
        String a = u.getAuthority();
        return new File(a == null ? u.getPath() : "/" + a + u.getPath());
    }
}
"""


@pytest.fixture(scope="module")
def s3a_local(spark, tmp_path_factory):
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac available to build the s3a local-FS fake")
    import pyspark

    jars = Path(pyspark.__file__).parent / "jars"
    hadoop = next(jars.glob("hadoop-client-api-*.jar"), None)
    if hadoop is None:
        pytest.skip("no hadoop-client-api jar found")
    build = tmp_path_factory.mktemp("ctfs")
    src = build / "S3ALocalFileSystem.java"
    src.write_text(_FS_JAVA)
    classes = build / "classes"
    subprocess.run(
        [javac, "-cp", str(hadoop), "-d", str(classes), str(src)], check=True
    )

    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    urls = gw.new_array(jvm.java.net.URL, 1)
    urls[0] = jvm.java.io.File(str(classes)).toURI().toURL()
    loader = jvm.java.net.URLClassLoader(
        urls, jvm.Thread.currentThread().getContextClassLoader()
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev_loader = hconf.getClassLoader()
    prev_impl = hconf.get("fs.s3a.impl", None)
    committer_key = "mapreduce.outputcommitter.factory.scheme.s3a"
    prev_committer = hconf.get(committer_key, None)
    hconf.setClassLoader(loader)
    hconf.set("fs.s3a.impl", "ct.testfs.S3ALocalFileSystem")
    # Spark wires the s3a scheme to the S3A magic committer (hadoop-aws,
    # absent here); the plain file committer works against the local fake
    hconf.set(
        committer_key,
        "org.apache.hadoop.mapreduce.lib.output.FileOutputCommitterFactory",
    )
    yield spark
    hconf.setClassLoader(prev_loader)
    if prev_impl is None:
        hconf.unset("fs.s3a.impl")
    else:
        hconf.set("fs.s3a.impl", prev_impl)
    if prev_committer is None:
        hconf.unset(committer_key)
    else:
        hconf.set(committer_key, prev_committer)
    # drop the cached s3a FileSystem so later sessions re-resolve cleanly
    jvm.org.apache.hadoop.fs.FileSystem.closeAll()


def _write_csv(tmp_path):
    # trailing comma header -> unnamed last column, the Excel artifact the
    # CSV finalize must trim (reference sources.py:160-177)
    (tmp_path / "Demographics.csv").write_text(
        "PersonID,DOB,Sex,\n1,1990-01-01,M,\n2,1985-06-15,F,\n"
    )
    return tmp_path


def test_s3a_scheme_read_executes(s3a_local, tmp_path):
    d = _write_csv(tmp_path)
    src = make_source(s3a_local, f"s3a://{d}")
    assert isinstance(src, CsvDirSource)
    df = src.read("Demographics.csv")
    assert df.columns == ["PersonID", "DOB", "Sex", LINE_COL]
    rows = {r.PersonID: (r.DOB, r.Sex) for r in df.collect()}
    assert rows == {"1": ("1990-01-01", "M"), "2": ("1985-06-15", "F")}


def test_s3_scheme_normalizes_to_s3a(s3a_local, tmp_path):
    d = _write_csv(tmp_path)
    src = make_source(s3a_local, f"s3://{d}")
    assert src.location.startswith("s3a://")
    assert src.read("Demographics.csv").count() == 2


def test_minio_spec_sets_conf_and_reads(s3a_local, tmp_path):
    d = _write_csv(tmp_path)
    # minio spec: credentials+endpoint land on the hadoop conf; the bucket
    # path becomes the s3a base URL. The double slash yields an
    # authority-less s3a URL — the local-FS fake can't serve URI
    # authorities (RawLocalFileSystem's File<->Path round trip drops
    # them), and transport, not bucket naming, is what this executes.
    src = make_source(s3a_local, f"minio:ak:sk@http://localhost:9000/{d}")
    hconf = s3a_local.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.access.key") == "ak"
    assert hconf.get("fs.s3a.secret.key") == "sk"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    df = src.read("Demographics.csv")
    assert df.count() == 2 and LINE_COL in df.columns


def test_s3a_and_local_read_rfc4180_alike(s3a_local, tmp_path):
    """One reader for both locations: doubled quotes and a quoted line
    break parse the same way through s3a:// as from a local directory, and
    a table named without its extension resolves to `<table>.csv`."""
    (tmp_path / "t.csv").write_text('id,note\n1,"say ""hi"""\n2,"two\nlines"\n')
    want = [("1", 'say "hi"'), ("2", "two\nlines")]
    for spec in (f"s3a://{tmp_path}", str(tmp_path)):
        src = make_source(s3a_local, spec)
        assert isinstance(src, CsvDirSource)
        for table in ("t.csv", "t"):
            df = src.read(table)
            assert df.columns == ["id", "note", LINE_COL], (spec, table)
            assert sorted(tuple(r)[:2] for r in df.collect()) == want, (spec, table)


def test_local_csv_trailing_comma_trim(spark, tmp_path):
    # same artifact through the plain CsvDirSource path
    d = _write_csv(tmp_path)
    df = make_source(spark, str(d)).read("Demographics.csv")
    assert df.columns == ["PersonID", "DOB", "Sex", LINE_COL]


def test_local_csv_genuine_underscore_column_kept(spark, tmp_path):
    """A final column GENUINELY named like Spark's generated ``_c3`` must
    survive: only a raw header that really ends with the separator (the
    Excel artifact) triggers the trailing-column drop."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "t.csv").write_text("a,b,c,_c3\n1,2,3,4\n")
    df = make_source(spark, str(d)).read("t.csv")
    assert df.columns == ["a", "b", "c", "_c3", LINE_COL]
    assert df.select("_c3").collect()[0][0] == "4"


# ---------------------------------------------------------------------------
# K3: object-store TSV sink, executed through the same s3a fake
# ---------------------------------------------------------------------------


def test_s3a_single_tsv_sink(s3a_local, tmp_path):
    from carrot_transform_spark.sinks.tsv import TsvDirSink

    df = s3a_local.createDataFrame(
        [(1, "a"), (2, None)], "person_id long, gender string"
    )
    sink = TsvDirSink(f"s3a://{tmp_path}/out", mode="single")
    sink.write("person", df.orderBy("person_id"), ["person_id", "gender"])
    got = (tmp_path / "out" / "person.tsv").read_text()
    assert got == "person_id\tgender\n1\ta\n2\t\n"
    sink.write_rows("summary", ["k", "v"], [["x", "1"]], spark=s3a_local)
    assert (tmp_path / "out" / "summary.tsv").read_text() == "k\tv\nx\t1\n"


def test_s3a_distributed_tsv_sink(s3a_local, tmp_path):
    from carrot_transform_spark.sinks.tsv import TsvDirSink

    df = s3a_local.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, val string"
    )
    sink = TsvDirSink(f"s3a://{tmp_path}/dout", mode="distributed")
    sink.write("t", df, ["id", "val"])
    parts = sorted((tmp_path / "dout" / "t").glob("part-*"))
    assert parts, "no part files committed"
    rows = set()
    for p in parts:
        lines = p.read_text().splitlines()
        assert lines[0] == "id\tval"
        rows.update(lines[1:])
    assert rows == {f"{i}\tv{i}" for i in range(10)}


def test_url_sink_rejects_append(s3a_local, tmp_path):
    from carrot_transform_spark.sinks.tsv import TsvDirSink

    with pytest.raises(ValueError, match="append"):
        TsvDirSink(f"s3a://{tmp_path}/x", write_mode="append")
