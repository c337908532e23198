#!/usr/bin/env python
"""ETL scale stress: generate a large synthetic carrot-style dataset and run
the full pipeline, reporting wall time and throughput.

Usage: python scripts/scale_stress.py [n_events] [n_persons]

Generates (in a temp dir):
  persons.csv  pid,dob,sex,ethnicity            (n_persons rows)
  events.csv   pid,event_date,code,score        (n_events rows)
and a v2 rules file mapping persons -> person (term maps incl. one
multi-concept value) and events -> observation (wildcard + value map),
then runs run_transform with the distributed TSV sink. Prints one JSON
line: the timings, each output table's row count, and an order-independent
checksum of each table as written (the sum of every row's xxhash64 over all
its columns, ids included), so two trees can be compared on their outputs.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from carrot_transform_spark.session import get_spark  # noqa: E402

RULES = {
    "metadata": {"dataset": "stress"},
    "cdm": {
        "person": {
            "persons": {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {"source_field": "dob", "dest_field": ["birth_datetime"]},
                "concept_mappings": {
                    "sex": {
                        "M": {"gender_concept_id": [8507], "gender_source_concept_id": [8507]},
                        "F": {"gender_concept_id": [8532], "gender_source_concept_id": [8532]},
                        "original_value": ["gender_source_value"],
                    },
                    "ethnicity": {
                        "mixed": {"race_concept_id": [35825531, 35827395]},
                        "*": {"race_concept_id": [0]},
                        "original_value": ["race_source_value"],
                    },
                },
            }
        },
        "observation": {
            "events": {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {"source_field": "event_date", "dest_field": ["observation_datetime"]},
                "concept_mappings": {
                    "code": {
                        "A": {"observation_concept_id": [1001]},
                        "B": {"observation_concept_id": [1002]},
                        "*": {"observation_concept_id": [1000]},
                        "original_value": ["observation_source_value"],
                    },
                    "score": {
                        "*": {"observation_concept_id": [2000]},
                        "original_value": ["value_as_string"],
                    },
                },
            }
        },
    },
}


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_persons = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000

    spark = get_spark(app_name="carrot-stress")
    spark.sparkContext.setLogLevel("ERROR")

    work = Path(tempfile.mkdtemp(prefix="carrot_stress_"))
    inputs = work / "inputs"
    inputs.mkdir()

    t0 = time.perf_counter()
    persons = spark.range(n_persons).select(
        F.concat(F.lit("p"), F.col("id")).alias("pid"),
        F.date_format(
            F.date_add(F.lit("1950-01-01").cast("date"), (F.col("id") % 20000).cast("int")),
            "yyyy-MM-dd",
        ).alias("dob"),
        F.when(F.col("id") % 3 == 0, "M").when(F.col("id") % 3 == 1, "F").otherwise("X").alias("sex"),
        F.when(F.col("id") % 7 == 0, "mixed").otherwise("other").alias("ethnicity"),
    )
    persons.coalesce(4).write.mode("overwrite").option("header", True).csv(str(work / "p"))
    events = spark.range(n_events).select(
        F.concat(F.lit("p"), (F.col("id") % (n_persons + 1000))).alias("pid"),  # ~0.5% invalid ids
        F.date_format(
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 1000).cast("int")),
            "yyyy-MM-dd",
        ).alias("event_date"),
        F.when(F.col("id") % 5 == 0, "A").when(F.col("id") % 5 == 1, "B").otherwise("C").alias("code"),
        F.round(F.col("id") % 997 * 0.37, 2).cast("string").alias("score"),
    )
    events.coalesce(8).write.mode("overwrite").option("header", True).csv(str(work / "e"))

    # single-file CSVs like the reference consumes
    def consolidate(src_dir: Path, dest: Path) -> None:
        parts = sorted(src_dir.glob("part-*.csv"))
        with dest.open("wb") as out:
            for i, part in enumerate(parts):
                with part.open("rb") as fh:
                    if i > 0:
                        fh.readline()  # skip header
                    shutil.copyfileobj(fh, out)

    consolidate(work / "p", inputs / "persons.csv")
    consolidate(work / "e", inputs / "events.csv")
    gen_time = time.perf_counter() - t0

    rules_file = work / "rules.json"
    rules_file.write_text(json.dumps(RULES))

    from carrot_transform_spark.pipeline import run_transform
    from carrot_transform_spark.sinks.tsv import TsvDirSink

    out_dir = work / "out"
    t1 = time.perf_counter()
    res = run_transform(
        spark,
        rules_file=rules_file,
        inputs=inputs,
        output_dir=None,
        person_table="persons",
        write_outputs=False,
    )
    sink = TsvDirSink(out_dir, mode="distributed")

    def written(name: str):
        return spark.read.option("header", True).option("sep", "\t").csv(str(out_dir / name))

    counts = {}
    for target, df in res.tables.items():
        cols = [c for c in df.columns if not c.startswith("__ct_")]
        sink.write(target, df, cols)
        counts[target] = written(target).count()
    # person_ids through the sink (streamed/distributed — never a driver
    # collect), same as pipeline.run_transform's write path
    pm = res.person_map.selectExpr(
        "source_subject AS SOURCE_SUBJECT", "CAST(target_subject AS STRING) AS TARGET_SUBJECT"
    )
    sink.write("person_ids", pm, ["SOURCE_SUBJECT", "TARGET_SUBJECT"])
    counts["person_ids"] = written("person_ids").count()
    run_time = time.perf_counter() - t1
    checksums = {}
    for name in counts:
        df = written(name)
        total = df.select(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()[0]
        checksums[name] = str(total)

    total_out = sum(counts.values())
    print(
        json.dumps(
            {
                "n_events": n_events,
                "n_persons": n_persons,
                "gen_sec": round(gen_time, 1),
                "etl_sec": round(run_time, 1),
                "output_rows": counts,
                "checksums": checksums,
                "rows_out_per_sec": int(total_out / run_time),
            }
        )
    )
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
