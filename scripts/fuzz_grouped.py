"""Differential fuzz: grouped-template compile vs per-block compile.

Random wide v2 rule sets (random field counts, value maps, wildcards —
ids-less wildcards included — empty-dest values, original_value dests,
columns missing from the header, secondary date sources, join-band field
sizes, multiple same-shape groups plus odd-shaped singletons) over random
string data with blanks/invalid/strict-failing dates. For every seed the
candidates frame AND all four RejectStats families must be identical with
group_same_shape on and off.

Usage: python scripts/fuzz_grouped.py [n_seeds] [start_seed]
"""

from __future__ import annotations

import random
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL
from carrot_transform_spark.omop.ddl import load_schemas
from carrot_transform_spark.plans.compiler import CarrotPlanner, RejectStats
from carrot_transform_spark.rules.loader import parse_rules
from carrot_transform_spark.sources.registry import LINE_COL, Source


class _MemSource(Source):
    def __init__(self, spark, tables):
        self.spark = spark
        self._tables = tables
        self._dfs = {}

    def size_hint(self, table):
        return len(self._tables[table][1])

    def read(self, table):
        if table not in self._dfs:
            cols, rows = self._tables[table]
            schema = ", ".join(f"{c} string" for c in cols) + f", {LINE_COL} long"
            self._dfs[table] = self.spark.createDataFrame(
                [tuple(r) + (i,) for i, r in enumerate(rows)], schema
            ).persist()
        return self._dfs[table]


def gen_case(rng: random.Random):
    n_groups = rng.randint(1, 2)
    blocks = {}
    tables = {}
    file_no = 0
    for g in range(n_groups):
        n_fields = rng.randint(1, 5)
        n_blocks = rng.randint(2, 5)
        fields = [f"g{g}f{j}" for j in range(n_fields)]
        # one field per group may be missing from the header (shape sig
        # must keep that consistent within the group)
        missing = set(rng.sample(fields, k=rng.randint(0, 1)))
        header = ["pid", "dt"] + [f for f in fields if f not in missing]
        use_raw_date = rng.random() < 0.3
        if use_raw_date:
            header.append("dt2")
        for b in range(n_blocks):
            fname = f"grp{g}_{b:02d}.csv"
            cms = {}
            for j, f in enumerate(fields):
                vals = {}
                for v in range(rng.randint(0, 4)):
                    ids = (
                        []
                        if rng.random() < 0.2
                        else [
                            rng.randint(1, 99999)
                            for _ in range(rng.randint(1, 3))
                        ]
                    )
                    dest = rng.choice(
                        ["observation_concept_id", "observation_type_concept_id"]
                    )
                    vals[f"v{v}"] = {dest: ids}
                if rng.random() < 0.4:
                    vals["*"] = {
                        "observation_concept_id": (
                            [] if rng.random() < 0.3 else [rng.randint(1, 999)]
                        )
                    }
                if rng.random() < 0.5:
                    vals["original_value"] = ["observation_source_value"]
                # join-band occasionally: blow one field past the threshold
                if rng.random() < 0.08:
                    for v in range(110):
                        vals[f"big{v}"] = {
                            "observation_concept_id": [rng.randint(1, 9999)]
                        }
                cms[f] = vals
            blocks[fname] = {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {
                    "source_field": "dt2" if use_raw_date else "dt",
                    "dest_field": ["observation_datetime"],
                },
                "concept_mappings": cms,
            }
            n_rows = rng.randint(0, 30)
            rows = []
            for i in range(n_rows):
                dt = rng.choice(
                    [
                        "2020-01-02 03:04:05",
                        "02/01/2021",
                        "garbage",
                        "2020-00-00",
                        "",
                    ]
                )
                row = [str(rng.randint(0, 8)), dt]
                for f in fields:
                    if f in missing:
                        continue
                    row.append(
                        rng.choice(["v0", "v1", "v2", "v5", "", "zzz", "big3"])
                    )
                if use_raw_date:
                    row.append(
                        rng.choice(["2021-03-04", "bad", "", "2021-03-04 05:06:07"])
                    )
                rows.append(row)
            tables[fname] = (header, rows)
            file_no += 1
    # one odd singleton block
    blocks["odd.csv"] = {
        "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
        "date_mapping": {"source_field": "dt", "dest_field": ["observation_datetime"]},
        "concept_mappings": {"oddf": {"x": {"observation_concept_id": [7]}}},
    }
    tables["odd.csv"] = (
        ["pid", "dt", "oddf"],
        [["1", "2020-05-06", "x"], ["2", "bad", "x"]],
    )
    rules = {"metadata": {"dataset": "fuzzgrp"}, "cdm": {"observation": blocks}}
    return rules, tables


def gen_case_v1(rng: random.Random):
    """Random wide V1 rule sets — the legacy Carrot Mapper block format.

    Per group: a shared block STRUCTURE (trigger fields, original-value /
    copy / companion-term / extra date-write companions, value counts,
    occasional join-band folds, scalar-wildcard blocks, missing header
    columns) with per-file term values/ids. Companion literals are shared
    across the group with p=0.7 (identical -> blocks group; different ->
    the signature splits them — equivalence must hold either way)."""
    n_groups = rng.randint(1, 2)
    cdm_obs: dict[str, dict] = {}
    tables = {}
    for g in range(n_groups):
        n_fields = rng.randint(1, 3)
        n_blocks = rng.randint(2, 5)
        fields = [f"g{g}t{j}" for j in range(n_fields)]
        missing = set(rng.sample(fields, k=rng.randint(0, 1)))
        # per-field shared structure
        field_shape = []
        for f in fields:
            field_shape.append(
                {
                    "orig": rng.random() < 0.5,
                    "copy": rng.random() < 0.4,
                    "companion": rng.random() < 0.4,
                    "companion_lit_shared": rng.random() < 0.7,
                    "second_dest": rng.random() < 0.3,
                    "n_values": rng.randint(1, 4),
                    "wildcard_block": rng.random() < 0.3,
                    "join_band": rng.random() < 0.08,
                }
            )
        extra_date = rng.random() < 0.3  # blocks also write observation_date
        header = ["pid", "dt", "cpy", "cmp"] + [f for f in fields if f not in missing]
        shared_lit = rng.randint(1, 999)
        for b in range(n_blocks):
            fname = f"v1grp{g}_{b:02d}.csv"

            def base_rule() -> dict:
                r = {
                    "person_id": {"source_table": fname, "source_field": "pid"},
                    "observation_datetime": {
                        "source_table": fname,
                        "source_field": "dt",
                    },
                }
                if extra_date:
                    r["observation_date"] = {
                        "source_table": fname,
                        "source_field": "dt",
                    }
                return r

            for j, f in enumerate(fields):
                shape = field_shape[j]
                for v in range(shape["n_values"]):
                    rule = base_rule()
                    if shape["companion"]:
                        lit = (
                            shared_lit
                            if shape["companion_lit_shared"]
                            else rng.randint(1, 999)
                        )
                        # dict term BEFORE the trigger dict: last dict wins
                        rule["observation_type_concept_id"] = {
                            "source_table": fname,
                            "source_field": "cmp",
                            "term_mapping": {"x1": lit},
                        }
                    if shape["copy"]:
                        rule["value_as_string"] = {
                            "source_table": fname,
                            "source_field": "cpy",
                        }
                    if shape["orig"]:
                        rule["observation_source_value"] = {
                            "source_table": fname,
                            "source_field": f,
                        }
                    if shape["second_dest"]:
                        rule["value_as_concept_id"] = {
                            "source_table": fname,
                            "source_field": f,
                            "term_mapping": {f"v{v}": rng.randint(1, 9999)},
                        }
                    rule["observation_concept_id"] = {
                        "source_table": fname,
                        "source_field": f,
                        "term_mapping": {f"v{v}": rng.randint(1, 99999)},
                    }
                    cdm_obs[f"g{g}b{b}f{j}v{v}"] = rule
                if shape["wildcard_block"]:
                    rule = base_rule()
                    rule["observation_concept_id"] = {
                        "source_table": fname,
                        "source_field": f,
                        "term_mapping": rng.randint(1, 9999),  # scalar -> "*"
                    }
                    cdm_obs[f"g{g}b{b}f{j}w"] = rule
                if shape["join_band"]:
                    for v in range(110):
                        rule = base_rule()
                        rule["observation_concept_id"] = {
                            "source_table": fname,
                            "source_field": f,
                            "term_mapping": {f"big{v}": rng.randint(1, 9999)},
                        }
                        cdm_obs[f"g{g}b{b}f{j}big{v}"] = rule
            n_rows = rng.randint(0, 30)
            rows = []
            for _i in range(n_rows):
                dt = rng.choice(
                    [
                        "2020-01-02 03:04:05",
                        "02/01/2021",
                        "garbage",
                        "2020-00-00",
                        "",
                    ]
                )
                row = [str(rng.randint(0, 8)), dt]
                row.append(rng.choice(["cc", ""]))  # cpy
                row.append(rng.choice(["x1", "x2", ""]))  # cmp
                for f in fields:
                    if f in missing:
                        continue
                    row.append(
                        rng.choice(["v0", "v1", "v2", "v5", "", "zzz", "big3"])
                    )
                rows.append(row)
            tables[fname] = (header, rows)
    # one odd singleton
    cdm_obs["v1odd"] = {
        "person_id": {"source_table": "v1odd.csv", "source_field": "pid"},
        "observation_datetime": {"source_table": "v1odd.csv", "source_field": "dt"},
        "observation_concept_id": {
            "source_table": "v1odd.csv",
            "source_field": "oddf",
            "term_mapping": {"x": 7},
        },
    }
    tables["v1odd.csv"] = (
        ["pid", "dt", "oddf"],
        [["1", "2020-05-06", "x"], ["2", "bad", "x"]],
    )
    rules = {"metadata": {"dataset": "fuzzgrpv1"}, "cdm": {"observation": cdm_obs}}
    return rules, tables


def run_seed(spark, omop, seed: int, gen=gen_case) -> str | None:
    rng = random.Random(seed)
    rules_json, tables = gen(rng)
    rules = parse_rules(rules_json, omop)
    src = _MemSource(spark, tables)

    def compile_once(grouped: bool):
        planner = CarrotPlanner(
            spark,
            rules,
            omop,
            person_table=next(iter(tables)),
            group_same_shape=grouped,
        )
        planner.WIDE_PLAN_PAIRS = 1
        stats = RejectStats()
        cand = planner.target_candidates(src, "observation", stats)
        rows = sorted(tuple(r) for r in cand.select(*sorted(cand.columns)).collect())
        planner.flush_metrics()
        planner.release()
        return rows, stats

    rg, sg = compile_once(True)
    rp, sp = compile_once(False)
    if rg != rp:
        return f"rows diverge: {len(rg)} vs {len(rp)}"
    for fam in ("input_rows", "date_reject_rows", "invalid_source", "invalid_date"):
        if getattr(sg, fam) != getattr(sp, fam):
            return f"{fam} diverge: {getattr(sg, fam)} vs {getattr(sp, fam)}"
    for df in src._dfs.values():
        df.unpersist()
    return None


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    start = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    mode = sys.argv[3] if len(sys.argv) > 3 else "v2"
    gen = {"v2": gen_case, "v1": gen_case_v1}[mode]
    from carrot_transform_spark.session import get_spark

    spark = get_spark(app_name="fuzz-grouped", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    bad = 0
    for seed in range(start, start + n):
        t0 = time.time()
        err = run_seed(spark, omop, seed, gen)
        status = err or "ok"
        print(f"seed {seed} [{mode}]: {status} [{time.time() - t0:.1f}s]", flush=True)
        if err:
            bad += 1
    print(f"done: {n - bad}/{n} ok", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
