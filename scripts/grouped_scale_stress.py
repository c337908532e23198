#!/usr/bin/env python
"""Grouped-template compile at DATA scale (VERDICT r14 task 2): the
200-seed differential fuzz proves RESULT parity on 40-row corpora; this
leg proves EXECUTOR-side cost parity at volume — a ~200-block same-shape
v2 ruleset over >=20M input rows, compiled and fully executed with
group_same_shape on and off.

What it reports per mode: build wall = target_candidates(), which at
this volume INCLUDES the dense-id statistics job (with_dense_ids' bucket
statistics run the full record template once, so this is the number
where executor-side template cost shows up); agg wall = the checksum
aggregation, which runs the template again (nothing is cached);
metrics-flush wall (grouped = ONE groupBy(fileidx)
job, per-block = one combined job per file); and a row-count + column
checksum so the two executions are provably the same records.

Usage: python scripts/grouped_scale_stress.py [rows_per_block] [n_blocks]
       (defaults 100_000 x 200 = 20M rows)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL  # noqa: E402
from carrot_transform_spark.omop.ddl import load_schemas  # noqa: E402
from carrot_transform_spark.plans.compiler import CarrotPlanner, RejectStats  # noqa: E402
from carrot_transform_spark.rules.loader import parse_rules  # noqa: E402
from carrot_transform_spark.session import get_spark  # noqa: E402
from carrot_transform_spark.sources.registry import LINE_COL, Source  # noqa: E402

N_FIELDS = 5
N_VALUES = 6


class _GenSource(Source):
    """Deterministic generated scans — one per block file, sf-scale rows.

    spark.range is lazily generated executor-side, so both compile modes
    pay the identical scan cost and the comparison isolates the record
    template + metrics plan differences. pre_spread: range frames are
    already multi-split."""

    pre_spread = True

    def __init__(self, spark, n_rows: int):
        self.spark = spark
        self.n_rows = n_rows

    def size_hint(self, table: str) -> int:
        return self.n_rows

    def read(self, table: str):
        b = int(table.split("_")[1].split(".")[0])
        # 2 splits per block, NOT defaultParallelism: 200 blocks x 32
        # would be 6400 three-k-row tasks — pure scheduler overhead that
        # swamps the signal (observed: the 20M-row agg crawling at ~200
        # tasks/min). 200 x 2 = 400 tasks of 50k rows keeps every core
        # busy with real record-template work.
        base = self.spark.range(0, self.n_rows, 1, 2)
        cols = [
            F.concat(F.lit("p"), (F.col("id") % 9999)).alias("pid"),
            F.when(F.col("id") % 29 == 0, "not-a-date")
            .otherwise(
                F.date_format(
                    F.date_add(
                        F.lit("2019-01-01").cast("date"),
                        ((F.col("id") + b) % 1500).cast("int"),
                    ),
                    "yyyy-MM-dd",
                )
            )
            .alias("dt"),
        ]
        for j in range(N_FIELDS):
            cols.append(
                F.when(F.col("id") % 31 == j, "")  # blanks -> blank metric
                .otherwise(
                    F.concat(
                        F.lit("v"), ((F.col("id") + b * 7 + j) % (N_VALUES + 2))
                    )
                )  # two values per field never map -> no-match band
                .alias(f"f{j}")
            )
        cols.append(F.col("id").alias(LINE_COL))
        return base.select(*cols)


def _rules(n_blocks: int) -> dict:
    cdm_obs = {}
    for b in range(n_blocks):
        cms = {}
        for j in range(N_FIELDS):
            vmap = {
                f"v{v}": {"observation_concept_id": [100000 + b * 100 + j * 10 + v]}
                for v in range(N_VALUES)
            }
            vmap["original_value"] = ["observation_source_value"]
            cms[f"f{j}"] = vmap
        cdm_obs[f"src_{b:03d}.csv"] = {
            "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
            "date_mapping": {
                "source_field": "dt",
                "dest_field": ["observation_datetime"],
            },
            "concept_mappings": cms,
        }
    return {"metadata": {"dataset": "groupedscale"}, "cdm": {"observation": cdm_obs}}


def _rules_v1(n_blocks: int) -> dict:
    """The same shape written through the legacy V1 dialect (one rule per
    (file, field, value); the loader's shape-aware fold merges each
    file's per-value blocks into multi-value ConceptMappings) — the
    data-scale leg for the round-15 v1 grouped-template extension."""
    cdm_obs = {}
    for b in range(n_blocks):
        fname = f"src_{b:03d}.csv"
        for j in range(N_FIELDS):
            for v in range(N_VALUES):
                cdm_obs[f"r{b}_{j}_{v}"] = {
                    "person_id": {"source_table": fname, "source_field": "pid"},
                    "observation_datetime": {
                        "source_table": fname,
                        "source_field": "dt",
                    },
                    "observation_source_value": {
                        "source_table": fname,
                        "source_field": f"f{j}",
                    },
                    "observation_concept_id": {
                        "source_table": fname,
                        "source_field": f"f{j}",
                        "term_mapping": {
                            f"v{v}": 100000 + b * 100 + j * 10 + v
                        },
                    },
                }
    return {"metadata": {"dataset": "groupedscalev1"}, "cdm": {"observation": cdm_obs}}


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--v1"]
    use_v1 = "--v1" in sys.argv[1:]
    n_rows = int(args[0]) if len(args) > 0 else 100_000
    n_blocks = int(args[1]) if len(args) > 1 else 200

    spark = get_spark(app_name="grouped-scale")
    spark.sparkContext.setLogLevel("ERROR")
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = parse_rules(
        (_rules_v1 if use_v1 else _rules)(n_blocks), omop
    )
    src = _GenSource(spark, n_rows)
    out = {"rows_per_block": n_rows, "n_blocks": n_blocks,
           "dialect": rules.dialect,
           "total_input_rows": n_rows * n_blocks}

    for grouped in (True, False):
        planner = CarrotPlanner(
            spark,
            rules,
            omop,
            person_table="src_000.csv",
            group_same_shape=grouped,
        )
        stats = RejectStats()
        t0 = time.perf_counter()
        cand = planner.target_candidates(src, "observation", stats)
        compile_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        agg = cand.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, overflow-free under ANSI mode
            F.bit_xor(
                F.xxhash64(
                    "person_id", "observation_concept_id",
                    "observation_source_value", "observation_datetime",
                )
            ).alias("chk"),
        ).collect()[0]
        exec_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        planner.flush_metrics()
        metrics_s = time.perf_counter() - t2
        planner.release()
        mode = "grouped" if grouped else "per_block"
        out[mode] = {
            "build_sec": round(compile_s, 1),
            "agg_sec": round(exec_s, 1),
            "metrics_sec": round(metrics_s, 1),
            "rows": agg["n"],
            "checksum": int(agg["chk"]),
            "input_rows_metric": sum(stats.input_rows.values()),
            "date_rejects_metric": sum(stats.date_reject_rows.values()),
        }
        print(json.dumps({mode: out[mode]}), flush=True)

    g, p = out["grouped"], out["per_block"]
    out["rows_match"] = g["rows"] == p["rows"]
    out["checksum_match"] = g["checksum"] == p["checksum"]
    out["metrics_match"] = (
        g["input_rows_metric"] == p["input_rows_metric"]
        and g["date_rejects_metric"] == p["date_rejects_metric"]
    )
    out["build_ratio_grouped_vs_per_block"] = round(
        g["build_sec"] / max(p["build_sec"], 1e-9), 2
    )
    print(json.dumps(out), flush=True)
    spark.stop()
    ok = out["rows_match"] and out["checksum_match"] and out["metrics_match"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
