import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def traced_spark(tmp_path_factory):
    """A small session with a plain JSON event log, as the traced run uses."""
    from carrot_transform_spark.session import get_spark
    from perfbench.worker import spark_conf

    work = tmp_path_factory.mktemp("spark")
    conf = spark_conf(work, work / "eventlog")
    spark = get_spark(app_name="perfbench-tests", master="local[2]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, work / "eventlog"
    spark.stop()
