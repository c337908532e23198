"""The dense-id large path end to end.

With ``small_threshold=0`` every auto-numbered target and the person map
number their rows per bucket: (file, 65,536-line block) for targets,
65,536-line blocks for the person map, (freq, word prefix) for a
vocabulary. The ids must equal the default (global window) run's, come
from no range exchange, and survive re-materialization after the run's
caches are released."""

from __future__ import annotations

import functools
import json
import logging

import pyspark.sql.functions as F

from carrot_transform_spark.operators import ids, vocab
from carrot_transform_spark.pipeline import run_transform
from carrot_transform_spark.plans import compiler
from perfbench.workloads import PERSON_TABLE, gen_fanout

_LARGE = functools.partial(ids.with_dense_ids, small_threshold=0)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _checksum(df):
    """Order-independent: the sum of every row's xxhash64, ids included."""
    return df.select(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()[0]


def test_large_path_etl_matches_default(spark, tmp_path, monkeypatch, caplog):
    # two event files: observation and condition_occurrence read both,
    # measurement only events0.csv
    rules, inputs, _ = gen_fanout(tmp_path, 5, persons=40, events=80, files=2)
    doc = json.loads(rules.read_text())
    del doc["cdm"]["measurement"]["events1.csv"]
    rules.write_text(json.dumps(doc))

    default = run_transform(spark, rules, inputs, None, PERSON_TABLE, write_outputs=False)
    try:
        want = {t: _rows(df) for t, df in default.tables.items()}
        want_pm = _rows(default.person_map.select("source_subject", "target_subject"))
    finally:
        default.release()

    monkeypatch.setattr(compiler, "with_dense_ids", _LARGE)
    with caplog.at_level(logging.WARNING, logger=ids.__name__):
        large = run_transform(spark, rules, inputs, None, PERSON_TABLE, write_outputs=False)
    try:
        # no refusal, no global-window fallback: every site took a bucket
        assert not [r.getMessage() for r in caplog.records if r.name == ids.__name__]
        assert set(large.tables) == set(want) == {
            "person", "observation", "condition_occurrence", "measurement"
        }
        for target, df in large.tables.items():
            qe = df._jdf.queryExecution()
            for plan in (qe.optimizedPlan(), qe.executedPlan()):
                assert "rangepartitioning" not in plan.toString().lower(), target
            assert _rows(df) == want[target], target
        pm = large.person_map.select("source_subject", "target_subject")
        assert _rows(pm) == want_pm
        sums = {t: _checksum(df) for t, df in large.tables.items()}
        sums["person_ids"] = _checksum(pm)
    finally:
        large.release()
    again = {t: _checksum(df) for t, df in large.tables.items()}
    again["person_ids"] = _checksum(pm)
    assert again == sums


def test_large_path_vocab_matches_default(spark, monkeypatch, caplog):
    words = "the then than this that tie tie ties a ab abc b ba bab " * 3 + "zz zz z"
    docs = spark.createDataFrame(
        [(i, " ".join(words.split()[i::4])) for i in range(4)], "doc_id long, text string"
    )
    caches: list = []
    try:
        want = _rows(vocab.build_vocab(docs, "text", persist_registry=caches))
        monkeypatch.setattr(vocab, "with_dense_ids", _LARGE)
        with caplog.at_level(logging.WARNING, logger=ids.__name__):
            got = _rows(vocab.build_vocab(docs, "text", persist_registry=caches))
    finally:
        for df in caches:
            df.unpersist()
    assert not [r.getMessage() for r in caplog.records if r.name == ids.__name__]
    assert got == want
    assert len(want) == len(set(words.split()))
