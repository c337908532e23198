"""Large term maps compile to a broadcast rules-table join, not a
when-chain (SURVEY §2.4 J1 names both forms). Semantics must be identical
to the inlined path: exact beats wildcard, blanks never match, clamped-zip
combinations, NOT-NULL numeric defaults."""

from __future__ import annotations

import time

import pyspark.sql.functions as F
import pytest

from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL
from carrot_transform_spark.omop.ddl import load_schemas
from carrot_transform_spark.plans.compiler import CarrotPlanner, RejectStats
from carrot_transform_spark.rules.loader import parse_rules
from carrot_transform_spark.sources.registry import LINE_COL, Source, make_source

N_VALUES = 1000  # >= LARGE_TERM_MAP_THRESHOLD -> join path
N_ROWS = 3000


class _MemSource(Source):
    def __init__(self, spark):
        self.spark = spark

    def read(self, table: str):
        rows = []
        for i in range(N_ROWS):
            code = "" if i % 50 == 0 else (f"code_{i % (N_VALUES + 100)}")  # some unmapped
            rows.append((str(i), code, "2020-01-02", i))
        return self.spark.createDataFrame(
            rows, f"user string, code string, when string, {LINE_COL} long"
        )


def _rules():
    value_map = {
        f"code_{i}": {"observation_concept_id": [90000 + i]} for i in range(N_VALUES)
    }
    # one multi-concept value exercising the clamped-zip combos on the join path
    value_map["code_7"] = {"observation_concept_id": [90007, 80007]}
    value_map["*"] = {"observation_concept_id": [99999]}
    value_map["original_value"] = ["observation_source_value"]
    return {
        "metadata": {"dataset": "bigmap"},
        "cdm": {
            "observation": {
                "bigsrc": {
                    "person_id_mapping": {"source_field": "user", "dest_field": "person_id"},
                    "date_mapping": {"source_field": "when", "dest_field": ["observation_datetime"]},
                    "concept_mappings": {"code": value_map},
                }
            }
        },
    }


@pytest.fixture(scope="module")
def compiled(spark):
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(_rules(), omop)
    src = _MemSource(spark)
    # warm the JVM/codegen so the timing below isolates plan construction
    # (a 10k-value WHEN-chain would blow up here regardless of warmth)
    src.read("bigsrc").count()
    planner = CarrotPlanner(spark, rules, omop, person_table="bigsrc")
    t0 = time.perf_counter()
    cand = planner.target_candidates(src, "observation", None)
    build_s = time.perf_counter() - t0
    rows = cand.select(
        "person_id", "observation_concept_id", "observation_source_value",
        "observation_datetime", LINE_COL,
    ).collect()
    return cand, build_s, rows


def test_plan_uses_broadcast_join(compiled):
    cand, _, _ = compiled
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_plan_builds_fast(compiled):
    _, build_s, _ = compiled
    assert build_s < 5, f"plan construction took {build_s:.1f}s"


def test_join_path_semantics(compiled):
    _, _, rows = compiled
    got = {}
    for r in rows:
        got.setdefault(r[LINE_COL], []).append(
            (r["observation_concept_id"], r["observation_source_value"], r["observation_datetime"])
        )
    for i in range(N_ROWS):
        code = "" if i % 50 == 0 else f"code_{i % (N_VALUES + 100)}"
        if code == "":
            assert i not in got  # blanks never produce records
            continue
        idx = i % (N_VALUES + 100)
        if code == "code_7":
            expected = [("90007", code, "2020-01-02 00:00:00"), ("80007", code, "2020-01-02 00:00:00")]
        elif idx < N_VALUES:
            expected = [(str(90000 + idx), code, "2020-01-02 00:00:00")]
        else:  # unmapped -> wildcard
            expected = [("99999", code, "2020-01-02 00:00:00")]
        assert sorted(got[i]) == sorted(expected), f"row {i} ({code}): {got.get(i)}"


def test_small_map_still_inlined(spark):
    """A tiny term map must NOT add a join to the plan."""
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    small = _rules()
    cm = small["cdm"]["observation"]["bigsrc"]["concept_mappings"]
    cm["code"] = {
        "code_1": {"observation_concept_id": [90001]},
        "*": {"observation_concept_id": [99999]},
        "original_value": ["observation_source_value"],
    }
    rules = parse_rules(small, omop)
    planner = CarrotPlanner(spark, rules, omop, person_table="bigsrc")
    cand = planner.target_candidates(_MemSource(spark), "observation", None)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan


def test_maplit_band_matches_when_chain(spark):
    """The constant-map-literal band (MAPLIT..LARGE thresholds) must be
    semantically identical to the when-chain: same exact-beats-wildcard,
    blank-never-matches, clamped-zip, original-value precedence."""
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)

    n_vals = 30  # >= MAPLIT threshold (16), < LARGE threshold (100)
    value_map = {
        f"code_{i}": {"observation_concept_id": [90000 + i]} for i in range(n_vals)
    }
    value_map["code_7"] = {"observation_concept_id": [90007, 80007]}  # combos
    value_map["code_9"] = {}  # no ids: falls through to wildcard
    value_map["*"] = {"observation_concept_id": [99999]}
    value_map["original_value"] = ["observation_source_value"]
    rules = parse_rules(
        {
            "metadata": {"dataset": "midmap"},
            "cdm": {
                "observation": {
                    "bigsrc": {
                        "person_id_mapping": {"source_field": "user", "dest_field": "person_id"},
                        "date_mapping": {"source_field": "when", "dest_field": ["observation_datetime"]},
                        "concept_mappings": {"code": value_map},
                    }
                }
            },
        },
        omop,
    )
    src = _MemSource(spark)

    def records(maplit_threshold):
        planner = CarrotPlanner(spark, rules, omop, person_table="bigsrc")
        old = CarrotPlanner.MAPLIT_TERM_MAP_THRESHOLD
        CarrotPlanner.MAPLIT_TERM_MAP_THRESHOLD = maplit_threshold
        try:
            cand = planner.target_candidates(src, "observation", None)
            rows = sorted(
                tuple(r)
                for r in cand.select(
                    "person_id", "observation_concept_id",
                    "observation_source_value", "observation_datetime", LINE_COL,
                ).collect()
            )
        finally:
            CarrotPlanner.MAPLIT_TERM_MAP_THRESHOLD = old
            planner.release()
        return rows

    via_maplit = records(16)       # n_vals=30 -> map-literal path
    via_chain = records(10_000)    # forced onto the when-chain
    assert via_maplit == via_chain and via_maplit


@pytest.mark.parametrize("n_vals", [2, 30, 150])  # when-chain, map literal, join
def test_blank_person_id_is_rejected_in_every_band(spark, tmp_path, n_vals):
    """An event row with an empty person id writes a blank person id, so
    the person lookup rejects it (invalid_person) in every term-map band.
    The not-null numeric default '0' is for unmatched concepts only: a
    source person "0" must not receive the row's records."""
    (tmp_path / "people.csv").write_text(
        "pid,dob,sex\n0,1980-01-01,M\n1,1981-02-03,F\n", encoding="utf-8"
    )
    (tmp_path / "ev.csv").write_text(
        "user,code,when\n,code_1,2020-01-02\n1,code_1,2020-01-02\n0,code_0,2020-01-02\n",
        encoding="utf-8",
    )
    value_map = {f"code_{i}": {"observation_concept_id": [90000 + i]} for i in range(n_vals)}
    value_map["original_value"] = ["observation_source_value"]
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(
        {
            "metadata": {"dataset": "blankpid"},
            "cdm": {
                "person": {
                    "people.csv": {
                        "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                        "date_mapping": {"source_field": "dob", "dest_field": ["birth_datetime"]},
                        "concept_mappings": {
                            "sex": {
                                "M": {"gender_concept_id": [8507]},
                                "F": {"gender_concept_id": [8532]},
                            }
                        },
                    }
                },
                "observation": {
                    "ev.csv": {
                        "person_id_mapping": {"source_field": "user", "dest_field": "person_id"},
                        "date_mapping": {
                            "source_field": "when",
                            "dest_field": ["observation_datetime"],
                        },
                        "concept_mappings": {"code": value_map},
                    }
                },
            },
        },
        omop,
    )
    source = make_source(spark, str(tmp_path))
    planner = CarrotPlanner(spark, rules, omop, person_table="people")
    stats = RejectStats()
    try:
        pmap = planner.person_map(source)
        ids = {r["source_subject"]: r["target_subject"] for r in pmap.collect()}
        recs = planner.target_records(source, "observation", pmap, stats)
        got = sorted(
            (r["person_id"], r["observation_concept_id"])
            for r in recs.select("person_id", "observation_concept_id").collect()
        )
        planner.flush_metrics()
    finally:
        planner.release()
    assert got == sorted([(ids["1"], "90001"), (ids["0"], "90000")])
    assert stats.invalid_person == {("ev.csv", "observation"): 1}
