"""A failed `run_transform` leaves no cache behind.

Each target's sink write runs inside its build task, so a write that
raises ends the run from the target pool; the planner's caches and the
cached person map must still be dropped."""

from __future__ import annotations

import pytest

from carrot_transform_spark.pipeline import run_transform
from carrot_transform_spark.sinks.tsv import TsvDirSink
from perfbench.workloads import PERSON_TABLE, gen_fanout


def test_failed_target_write_releases_every_cache(spark, tmp_path, monkeypatch):
    rules, inputs, _ = gen_fanout(tmp_path / "in", 3, persons=40, events=60, files=1)
    write = TsvDirSink.write

    def failing_write(self, name, df, columns):
        if name == "condition_occurrence":
            raise RuntimeError("sink down")
        return write(self, name, df, columns)

    monkeypatch.setattr(TsvDirSink, "write", failing_write)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    before = persistent.size()
    with pytest.raises(RuntimeError, match="sink down"):
        run_transform(spark, rules, inputs, str(tmp_path / "out"), PERSON_TABLE)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
