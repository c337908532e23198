"""Print a fingerprint of every target's optimized record plan.

Usage: python scripts/plan_fingerprints.py <rules.json> <inputs dir> <person table>

Plans each target the rules map the way `pipeline.run_transform` does
(person map, then `CarrotPlanner.target_records` per target) and prints
one line per target: ``target sha1 length``. The hash and the length are
taken over `optimizedPlan().canonicalized().toString()` with two process
counters masked: every ``plan_id=N`` tag becomes a fixed token, and every
expression id ``#N`` is renumbered in order of first appearance.
Canonicalization numbers the ids of the logical plan from zero, but the
physical plan of a cached frame inside the text keeps the ids the process
handed out, which depend on how many plans it built before and, when
targets build concurrently, on the interleaving. Two trees that print the
same lines for the same inputs compile the same plans. Nothing is written;
the only Spark jobs are the ones planning itself runs.
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL  # noqa: E402
from carrot_transform_spark.omop.ddl import load_schemas  # noqa: E402
from carrot_transform_spark.plans.compiler import CarrotPlanner, RejectStats  # noqa: E402
from carrot_transform_spark.rules.loader import load_rules  # noqa: E402
from carrot_transform_spark.sources.registry import make_source  # noqa: E402

_PLAN_ID = re.compile(r"plan_id=\d+")
_EXPR_ID = re.compile(r"#(\d+)")


def plan_fingerprint(df: DataFrame) -> tuple[str, int]:
    """(sha1 hex, character length) of the DataFrame's canonicalized
    optimized plan, ``plan_id`` tags masked and expression ids renumbered
    by first appearance."""
    text = df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    text = _PLAN_ID.sub("plan_id=#", text)
    ids: dict[str, int] = {}
    text = _EXPR_ID.sub(lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", text)
    return hashlib.sha1(text.encode("utf-8")).hexdigest(), len(text)


def fingerprints(
    spark: SparkSession, rules_file: str | Path, inputs: str | Path, person_table: str
) -> dict[str, tuple[str, int]]:
    """Target -> plan_fingerprint of its records, in rules order."""
    omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
    rules = load_rules(rules_file, omop)
    source = make_source(spark, str(inputs))
    planner = CarrotPlanner(spark, rules, omop, person_table=person_table)
    person_map = planner.person_map(source).cache()
    stats = RejectStats()
    try:
        return {
            target: plan_fingerprint(
                planner.target_records(source, target, person_map, stats)
            )
            for target in rules.targets()
            if omop.has_table(target)
        }
    finally:
        planner.release()
        person_map.unpersist()


def main() -> None:
    if len(sys.argv) != 4:
        sys.exit(__doc__.split("\n\n")[1])
    from carrot_transform_spark.session import get_spark

    spark = get_spark(app_name="plan-fingerprints", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for target, (sha, length) in fingerprints(spark, *sys.argv[1:]).items():
            print(f"{target} {sha} {length}", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
