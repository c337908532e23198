"""Grouped-template compile (same-shape WIDE blocks share ONE record
template, plans/compiler.py _grouped_file_records) must be row- and
metric-identical to the per-block path it replaces. The corpus exercises
the grouped bands on purpose: wildcards (incl. ids-less wildcards that
only gate concept-match), empty-dest values, multi-concept clamped-zip
combos, a >=LARGE_TERM_MAP_THRESHOLD field (join band), blank cells,
rows failing the permissive date gate, values failing the strict
component-date check, and one odd-shaped block that must fall back to
the per-block path."""

from __future__ import annotations

import pyspark.sql.functions as F

from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL
from carrot_transform_spark.omop.ddl import load_schemas
from carrot_transform_spark.plans.compiler import CarrotPlanner, RejectStats
from carrot_transform_spark.rules.loader import parse_rules
from carrot_transform_spark.sources.registry import LINE_COL, Source

N_BLOCKS = 8
N_FIELDS = 4
LARGE_VALUES = 120  # past LARGE_TERM_MAP_THRESHOLD -> join band for f3


class _MemSource(Source):
    def __init__(self, spark):
        self.spark = spark
        self._dfs: dict[str, object] = {}

    def size_hint(self, table: str) -> int:
        return 40

    def read(self, table: str):
        if table not in self._dfs:
            rows = []
            for i in range(40):
                when = {
                    0: "2020-01-02 03:04:05",  # valid
                    1: "02/01/2020",           # permissive-normalisable
                    2: "not-a-date",           # permissive reject
                    3: "2020-00-00",           # strict component failure
                }[i % 4]
                cells = [f"v{(i + j) % 7}" for j in range(N_FIELDS - 1)]
                cells.append(f"w{i % (LARGE_VALUES + 5)}")  # large-map field
                if i % 5 == 0:
                    cells[0] = ""  # blank -> no record, blank metric
                rows.append(tuple([str(i % 9), when] + cells + [i]))
            fields = ", ".join(f"f{j} string" for j in range(N_FIELDS))
            self._dfs[table] = self.spark.createDataFrame(
                rows, f"user string, whenx string, {fields}, {LINE_COL} long"
            ).persist()
            self._dfs[table].count()
        return self._dfs[table]


def _rules():
    cdm_obs = {}
    for b in range(N_BLOCKS):
        concept_mappings = {}
        # f0: plain value maps + one empty-dest value + original_value
        vmap0 = {
            f"v{v}": {"observation_concept_id": [1000 + b * 10 + v]}
            for v in range(4)
        }
        vmap0["v5"] = {"observation_concept_id": []}  # match-gate only
        vmap0["original_value"] = ["observation_source_value"]
        concept_mappings["f0"] = vmap0
        # f1: multi-concept combos (clamped zip across two dests)
        concept_mappings["f1"] = {
            f"v{v}": {
                "observation_concept_id": [2000 + v, 2100 + v],
                "observation_type_concept_id": [3000 + b],
            }
            for v in range(3)
        }
        # f2: wildcard (every other block ids-less -> gate-only wildcard)
        if b % 2 == 0:
            concept_mappings["f2"] = {
                "v1": {"observation_concept_id": [4000 + b]},
                "*": {"observation_concept_id": [4500 + b]},
            }
        else:
            concept_mappings["f2"] = {
                "v1": {"observation_concept_id": [4000 + b]},
                "*": {"observation_concept_id": []},
            }
        # f3: large value map -> join band
        concept_mappings["f3"] = {
            f"w{v}": {"observation_concept_id": [5000 + b * 1000 + v]}
            for v in range(LARGE_VALUES)
        }
        cdm_obs[f"grp_{b:02d}.csv"] = {
            "person_id_mapping": {"source_field": "user", "dest_field": "person_id"},
            "date_mapping": {
                "source_field": "whenx",
                "dest_field": ["observation_datetime"],
            },
            "concept_mappings": concept_mappings,
        }
    # odd-shaped block: different field set -> per-block fallback
    cdm_obs["odd.csv"] = {
        "person_id_mapping": {"source_field": "user", "dest_field": "person_id"},
        "date_mapping": {
            "source_field": "whenx",
            "dest_field": ["observation_datetime"],
        },
        "concept_mappings": {
            "f1": {"v1": {"observation_concept_id": [9999]}},
        },
    }
    return {"metadata": {"dataset": "groupeq"}, "cdm": {"observation": cdm_obs}}


def _compile(spark, grouped: bool):
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(_rules(), omop)
    src = _MemSource(spark)
    planner = CarrotPlanner(
        spark, rules, omop, person_table="grp_00.csv", group_same_shape=grouped
    )
    # keep the wide decision stable regardless of pair counts
    planner.WIDE_PLAN_PAIRS = 1
    stats = RejectStats()
    cand = planner.target_candidates(src, "observation", stats)
    rows = sorted(
        tuple(r) for r in cand.select(*sorted(cand.columns)).collect()
    )
    planner.flush_metrics()
    planner.release()
    return rows, stats


def test_grouped_template_equivalence(spark):
    rows_g, stats_g = _compile(spark, grouped=True)
    rows_p, stats_p = _compile(spark, grouped=False)
    assert rows_g, "corpus must produce records"
    assert rows_g == rows_p
    assert stats_g.input_rows == stats_p.input_rows
    assert stats_g.date_reject_rows == stats_p.date_reject_rows
    assert stats_g.invalid_source == stats_p.invalid_source
    assert stats_g.invalid_date == stats_p.invalid_date


def test_grouped_metrics_one_action_per_group(spark, monkeypatch):
    """The grouped path must flush its metrics as ONE groupBy(file
    ordinal) action for the whole group — plus the per-file action the
    odd-shaped singleton still needs — not one action per source file."""
    import pyspark.sql.classic.dataframe as dataframe_mod

    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(_rules(), omop)
    src = _MemSource(spark)
    planner = CarrotPlanner(spark, rules, omop, person_table="grp_00.csv")
    planner.WIDE_PLAN_PAIRS = 1
    stats = RejectStats()
    planner.target_candidates(src, "observation", stats).count()
    assert len(planner._pending_group_aggs) == 1
    assert len(planner._pending_aggs) == 1  # odd.csv only

    calls: list[int] = []
    orig = dataframe_mod.DataFrame.collect

    def counting_collect(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(dataframe_mod.DataFrame, "collect", counting_collect)
    planner.flush_metrics()
    monkeypatch.undo()
    assert len(calls) == 2, f"{len(calls)} actions for 8 grouped files + odd.csv"
    assert sum(stats.input_rows.values()) > 0
    planner.release()


def test_grouped_path_actually_groups(spark):
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(_rules(), omop)
    src = _MemSource(spark)
    planner = CarrotPlanner(spark, rules, omop, person_table="grp_00.csv")
    planner.WIDE_PLAN_PAIRS = 1
    calls: list[int] = []
    orig = CarrotPlanner._grouped_file_records

    def spy(self, items, schema, stats):
        calls.append(len(items))
        return orig(self, items, schema, stats)

    CarrotPlanner._grouped_file_records = spy
    try:
        cand = planner.target_candidates(src, "observation", None)
        n = cand.select(F.count(F.lit(1))).collect()[0][0]
    finally:
        CarrotPlanner._grouped_file_records = orig
        planner.release()
    assert n > 0
    # the 8 same-shape blocks grouped; odd.csv stayed per-block
    assert calls == [N_BLOCKS]


# ---------------------------------------------------------------- v1 leg
#
# The same grouped-vs-per-block equivalence over the LEGACY v1 dialect
# (round-15: the _group_signature gate was v2-only; wide v1 files — the
# format real Carrot Mapper deployments still emit — compiled O(blocks)).
# The corpus exercises every v1-specific block mechanic the signature now
# carries: original-value plain copies on the trigger field, raw-cell
# copies from OTHER fields (copy_fields), non-trigger term fields
# (companion_term_fields + extra_literals), per-block date_writes, a
# folded >=LARGE_TERM_MAP_THRESHOLD trigger (join band), a scalar-term
# wildcard block, and one file whose companion literal differs (splits
# into its own group -> per-block, since a group of one never groups).

V1_BLOCKS = 6


class _MemSourceV1(Source):
    def __init__(self, spark):
        self.spark = spark
        self._dfs: dict[str, object] = {}

    def size_hint(self, table: str) -> int:
        return 30

    def read(self, table: str):
        if table not in self._dfs:
            rows = []
            for i in range(30):
                when = {
                    0: "2020-01-02 03:04:05",
                    1: "02/01/2020",
                    2: "not-a-date",
                    3: "2020-00-00",
                }[i % 4]
                t0 = f"v{i % 6}" if i % 5 else ""  # blanks -> blank metric
                c0 = f"copy{i % 3}" if i % 7 else ""
                e0 = f"x{i % 2}"
                t1 = f"w{i % 125}"
                rows.append((str(i % 9), when, t0, c0, e0, t1, i))
            self._dfs[table] = self.spark.createDataFrame(
                rows,
                "user string, whenx string, t0 string, c0 string, "
                f"e0 string, t1 string, {LINE_COL} long",
            ).persist()
            self._dfs[table].count()
        return self._dfs[table]


def _rules_v1():
    cdm_obs = {}

    def block_rules(fname: str, b: int, type_lit: int) -> dict:
        rules = {}
        # 4 same-shape trigger blocks (fold into ONE multi-value CM): the
        # companion dict term on e0 comes FIRST so the t0 dict stays the
        # LAST dict field = the trigger (loader last-dict-wins)
        for v in range(4):
            rules[f"r{b}_{v}"] = {
                "person_id": {"source_table": fname, "source_field": "user"},
                "observation_datetime": {
                    "source_table": fname,
                    "source_field": "whenx",
                },
                "observation_type_concept_id": {
                    "source_table": fname,
                    "source_field": "e0",
                    "term_mapping": {"x1": type_lit},
                },
                "value_as_string": {"source_table": fname, "source_field": "c0"},
                "observation_source_value": {
                    "source_table": fname,
                    "source_field": "t0",
                },
                "observation_concept_id": {
                    "source_table": fname,
                    "source_field": "t0",
                    "term_mapping": {f"v{v}": 1000 + b * 10 + v},
                },
            }
        # scalar-term wildcard block on t0 (no companions -> its own CM)
        rules[f"rw{b}"] = {
            "person_id": {"source_table": fname, "source_field": "user"},
            "observation_datetime": {
                "source_table": fname,
                "source_field": "whenx",
            },
            "observation_concept_id": {
                "source_table": fname,
                "source_field": "t0",
                "term_mapping": 4500 + b,
            },
        }
        # 120 folded single-value blocks on t1 -> join band
        for v in range(120):
            rules[f"rb{b}_{v}"] = {
                "person_id": {"source_table": fname, "source_field": "user"},
                "observation_datetime": {
                    "source_table": fname,
                    "source_field": "whenx",
                },
                "observation_concept_id": {
                    "source_table": fname,
                    "source_field": "t1",
                    "term_mapping": {f"w{v}": 5000 + b * 1000 + v},
                },
            }
        return rules

    for b in range(V1_BLOCKS):
        cdm_obs.update(block_rules(f"v1grp_{b:02d}.csv", b, type_lit=900))
    # same structure, DIFFERENT companion literal -> separate signature
    cdm_obs.update(block_rules("v1odd.csv", 98, type_lit=901))
    return {"metadata": {"dataset": "groupeq_v1"}, "cdm": {"observation": cdm_obs}}


def _compile_v1(spark, grouped: bool):
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(_rules_v1(), omop)
    assert rules.dialect == "v1"
    src = _MemSourceV1(spark)
    planner = CarrotPlanner(
        spark, rules, omop, person_table="v1grp_00.csv", group_same_shape=grouped
    )
    planner.WIDE_PLAN_PAIRS = 1
    stats = RejectStats()
    cand = planner.target_candidates(src, "observation", stats)
    rows = sorted(
        tuple(r) for r in cand.select(*sorted(cand.columns)).collect()
    )
    planner.flush_metrics()
    planner.release()
    return rows, stats


def test_grouped_template_equivalence_v1(spark):
    rows_g, stats_g = _compile_v1(spark, grouped=True)
    rows_p, stats_p = _compile_v1(spark, grouped=False)
    assert rows_g, "v1 corpus must produce records"
    assert rows_g == rows_p
    assert stats_g.input_rows == stats_p.input_rows
    assert stats_g.date_reject_rows == stats_p.date_reject_rows
    assert stats_g.invalid_source == stats_p.invalid_source
    assert stats_g.invalid_date == stats_p.invalid_date


def test_grouped_path_actually_groups_v1(spark):
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(_rules_v1(), omop)
    src = _MemSourceV1(spark)
    planner = CarrotPlanner(spark, rules, omop, person_table="v1grp_00.csv")
    planner.WIDE_PLAN_PAIRS = 1
    calls: list[int] = []
    orig = CarrotPlanner._grouped_file_records

    def spy(self, items, schema, stats):
        calls.append(len(items))
        return orig(self, items, schema, stats)

    CarrotPlanner._grouped_file_records = spy
    try:
        cand = planner.target_candidates(src, "observation", None)
        n = cand.select(F.count(F.lit(1))).collect()[0][0]
    finally:
        CarrotPlanner._grouped_file_records = orig
        planner.release()
    assert n > 0
    # the 6 same-shape v1 files grouped; v1odd.csv (different companion
    # literal) fell back to the per-block path
    assert calls == [V1_BLOCKS]


def test_pruned_column_guard_trips_on_collector_drift(spark):
    """A _try_resolve_name miss inside a _pruned_columns_guard scope on a
    column the cache projection dropped must raise (silently-wrong-output
    tripwire for _needed_file_columns drift); misses on never-existed
    columns stay silent, and outside a scope nothing changes."""
    import pytest as _pytest

    from carrot_transform_spark.plans.compiler import (
        _pruned_columns_guard,
        _try_resolve_name,
    )

    df = spark.createDataFrame([(1, "a")], "id int, kept string")
    # outside any scope: silent miss (reference semantics)
    assert _try_resolve_name(df, "payload") is None
    with _pruned_columns_guard(frozenset({"payload"})):
        # pruned-away column referenced by compile -> loud error
        with _pytest.raises(RuntimeError, match="_needed_file_columns"):
            _try_resolve_name(df, "PAYLOAD")
        # never-existed column: still a silent miss
        assert _try_resolve_name(df, "ghost") is None
        # present column resolves normally
        assert _try_resolve_name(df, "KEPT") == "kept"
    # scope restored
    assert _try_resolve_name(df, "payload") is None
