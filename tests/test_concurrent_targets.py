"""The per-target builds of `run_transform`.

Targets built from a thread pool compile the plans a sequential build
compiles. The inputs are the perfbench wide workload, kept small: a narrow
person target, one target past WIDE_PLAN_PAIRS (observation) and two below
it, so a wide-band decision leaking from one target's build into another's
changes a fingerprint. Each build runs in its own process, as
scripts/plan_fingerprints.py is meant to be compared.

Each target's records read one cached person-joined frame, so no reader of
them re-runs the dense-id window. The target builds add their output
counts to one MetricsCollector concurrently, and lose none."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
from pathlib import Path

from carrot_transform_spark.metrics.rollup import MetricsCollector
from carrot_transform_spark.pipeline import run_transform
from carrot_transform_spark.plans.compiler import FIELD_COL, SRC_COL
from perfbench.workloads import PERSON_TABLE, gen_fanout, gen_wide

ROOT = Path(__file__).resolve().parent.parent

_BUILD = """
import sys
sys.path.insert(0, {root!r})
sys.path.insert(0, {scripts!r})
from plan_fingerprints import plan_fingerprint
from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL
from carrot_transform_spark.omop.ddl import load_schemas
from carrot_transform_spark.plans.compiler import CarrotPlanner, RejectStats, _thread_map
from carrot_transform_spark.rules.loader import load_rules
from carrot_transform_spark.session import get_spark
from carrot_transform_spark.sources.registry import make_source

spark = get_spark(app_name="concurrent-targets", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
omop = load_schemas(DEFAULT_DDL, DEFAULT_CONFIG)
rules = load_rules({rules!r}, omop)
source = make_source(spark, {inputs!r})
planner = CarrotPlanner(spark, rules, omop, person_table="persons")
person_map = planner.person_map(source).cache()
stats = RejectStats()
targets = [t for t in rules.targets() if omop.has_table(t)]

def build(target):
    return plan_fingerprint(planner.target_records(source, target, person_map, stats))

prints = _thread_map(build, targets, 2) if {threaded} else [build(t) for t in targets]
for target, (sha, n) in zip(targets, prints):
    print(target, sha, n, flush=True)
planner.release()
spark.stop()
"""


def _fingerprints(rules: Path, inputs: Path, threaded: bool) -> list[str]:
    code = _BUILD.format(
        root=str(ROOT),
        scripts=str(ROOT / "scripts"),
        rules=str(rules),
        inputs=str(inputs),
        threaded=threaded,
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True, env=env, timeout=600,
    ).stdout
    return out.splitlines()


def test_threaded_target_builds_match_sequential(tmp_path):
    rules, inputs, _ = gen_wide(tmp_path, 5, tables=3, rows=30)
    sequential = _fingerprints(rules, inputs, threaded=False)
    assert [line.split()[0] for line in sequential] == [
        "person", "observation", "condition_occurrence", "measurement"
    ]
    assert _fingerprints(rules, inputs, threaded=True) == sequential


def _plan_nodes(plan) -> list[str]:
    """Node names of a logical plan tree. A cached frame is one leaf
    (InMemoryRelation): the plan it caches is not a child."""
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _plan_nodes(children.apply(i))
    return names


def test_target_records_read_one_cached_frame(spark, tmp_path):
    rules, inputs, exp = gen_fanout(tmp_path, 3, persons=40, events=60, files=1)
    result = run_transform(spark, rules, inputs, None, PERSON_TABLE, write_outputs=False)
    try:
        assert set(result.tables) == set(exp.table_rows)
        for target, df in result.tables.items():
            nodes = _plan_nodes(df._jdf.queryExecution().optimizedPlan())
            assert "Window" not in nodes, (target, nodes)
    finally:
        result.release()


class _CountedRecords:
    """Stands in for a target's records: groupBy().count().collect()
    returns fixed rows, so the test exercises only the counter update."""

    def __init__(self, rows):
        self.rows = rows

    def groupBy(self, *_keys):
        return self

    def count(self):
        return self

    def collect(self):
        return self.rows


def test_concurrent_output_counts_lose_no_update(spark):
    # distinct concepts: each first increment of a key creates its counter
    # dict, the check-then-act a lost update hides in
    rows = [
        {SRC_COL: "events.csv", FIELD_COL: "f", "c": str(i), "count": 1} for i in range(2000)
    ]
    metrics = MetricsCollector(dataset_name="t")
    threads = [
        threading.Thread(
            target=metrics.add_output_records,
            args=("observation", _CountedRecords(rows), ["observation_id", "person_id", "c"]),
        )
        for _ in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert metrics.counts[("events.csv", "all", "all", "all", "")]["output_count"] == 16 * 2000
    lost = [
        i for i in range(2000)
        if metrics.counts[("all", "all", "all", str(i), "")]["output_count"] != 16
    ]
    assert not lost
