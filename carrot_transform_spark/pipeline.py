"""End-to-end carrot-transform run: the Spark equivalent of
`carrot-transform run mapstream` / `run v2`.

Lifecycle (reference cli/subcommands/run.py:28-341, run_v2.py:16-59):
  1. parse OMOP DDL + config -> schemas
  2. load + normalize mapping rules -> IR
  3. person phase: person-id map from the person file (strict dob
     validation, dense ids in file order) -> person_ids.tsv
  4. per target table: compile record plan, auto-number, person join,
     output counts, then the sink write. The target builds run
     concurrently: most of a small run's time is driver-side planning
     and per-job latency, which overlap across targets. No row enters
     the driver, so concurrent writes hold no table there.
  5. metrics rollup -> summary_mapstream.tsv
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from carrot_transform_spark.metrics.rollup import SUMMARY_HEADER, MetricsCollector
from carrot_transform_spark.omop.ddl import OmopSchemas, load_schemas
from carrot_transform_spark.plans.compiler import CarrotPlanner, RejectStats, _thread_map
from carrot_transform_spark.rules.ir import RuleSet
from carrot_transform_spark.rules.loader import load_rules
from carrot_transform_spark.atpath import DEFAULT_CONFIG, DEFAULT_DDL
from carrot_transform_spark.sinks.tsv import make_sink
from carrot_transform_spark.sources.registry import CsvDirSource, Source, make_source


@dataclass
class RunResult:
    tables: dict[str, DataFrame]
    person_map: DataFrame
    metrics: MetricsCollector
    stats: RejectStats
    planner: "CarrotPlanner | None" = None

    def release(self) -> None:
        """Drop every cache the run accumulated: planner-persisted scans and
        the cached person map. Idempotent; the returned DataFrames remain
        valid and simply recompute if used again. Writing runs release
        automatically; library/test callers with write_outputs=False should
        call this when done so a long-lived session doesn't leak caches."""
        if self.planner is not None:
            self.planner.release()
        try:
            self.person_map.unpersist()
        except Exception:
            pass


def run_transform(
    spark: SparkSession,
    rules_file: str | Path,
    inputs: str | Source,
    output_dir: str | Path | None,
    person_table: str,
    ddl_file: str | Path = DEFAULT_DDL,
    config_file: str | Path = DEFAULT_CONFIG,
    use_input_person_ids: bool = False,
    last_used_ids: dict[str, int] | None = None,
    write_outputs: bool = True,
    log_threshold: int = 0,
) -> RunResult:
    from carrot_transform_spark.rules.validation import (
        check_files_exist,
        check_person_rules,
        check_person_table_name,
    )

    omop: OmopSchemas = load_schemas(ddl_file, config_file)
    rules: RuleSet = load_rules(rules_file, omop)
    check_person_table_name(person_table)
    check_person_rules(rules, person_table)
    source = inputs if isinstance(inputs, Source) else make_source(spark, str(inputs))
    if isinstance(source, CsvDirSource):
        for w in check_files_exist(rules, source.directory):
            logging.getLogger(__name__).warning("%s", w)

    planner = CarrotPlanner(
        spark,
        rules,
        omop,
        person_table=person_table,
        use_input_person_ids=use_input_person_ids,
        last_used_ids=last_used_ids,
    )
    stats = RejectStats()
    metrics = MetricsCollector(dataset_name=rules.dataset_name, log_threshold=log_threshold)

    # output_dir may be a local folder, an object-store URL, a minio: spec,
    # or a JDBC/SQLAlchemy database URL (reference outputs.py:324-341)
    sink = make_sink(spark, output_dir) if write_outputs and output_dir is not None else None
    person_map = planner.person_map(source).cache()
    targets = [t for t in rules.targets() if omop.has_table(t)]

    def build(target: str) -> DataFrame:
        columns = omop.table(target).columns
        df = planner.target_records(source, target, person_map, stats)
        metrics.add_output_records(target, df, columns)
        if sink is not None:
            sink.write(target, df, columns)
        return df

    result = RunResult({}, person_map, metrics, stats, planner)
    try:
        result.tables = dict(zip(targets, _thread_map(build, targets, 2)))
        # one combined metric job per source file + one for all reject counts
        # (the per-(file,target) aggregations were deferred during planning)
        planner.flush_metrics()
        metrics.add_reject_stats(stats)
        if sink is not None:
            # written by Spark like every other table: never a collect
            pm = (
                person_map.orderBy("target_subject" if use_input_person_ids else "__ct_line")
                .selectExpr(
                    "source_subject AS SOURCE_SUBJECT",
                    "CAST(target_subject AS STRING) AS TARGET_SUBJECT",
                )
            )
            sink.write("person_ids", pm, ["SOURCE_SUBJECT", "TARGET_SUBJECT"])
            sink.write_rows(
                "summary_mapstream", SUMMARY_HEADER, metrics.summary_rows(),
                spark=planner.spark,
            )
    except BaseException:
        result.release()  # a failed run leaves no cache behind
        raise
    if sink is not None:
        # outputs are written: drop every cache the run accumulated so a
        # long-lived session doesn't leak (unwritten tables stay the caller's)
        result.release()

    return result
