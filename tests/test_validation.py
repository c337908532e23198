"""Planning-time validation checks (reference args.py semantics)."""

from __future__ import annotations

from pathlib import Path

import pytest

from carrot_transform_spark.omop.ddl import load_schemas
from carrot_transform_spark.rules.loader import load_rules
from carrot_transform_spark.rules.validation import (
    RulesValidationError,
    check_files_exist,
    check_person_rules,
    check_person_table_name,
    object_query,
)

EXAMPLES = Path("/root/reference/carrottransform/examples/test")
DDL = "/root/reference/carrottransform/config/OMOPCDM_postgresql_5.3_ddl.sql"
CONFIG = "/root/reference/carrottransform/config/config.json"


@pytest.fixture(scope="module")
def rules():
    omop = load_schemas(DDL, CONFIG)
    return load_rules(EXAMPLES / "rules" / "rules_14June2021.json", omop)


def test_person_rules_ok(rules):
    check_person_rules(rules, "Demographics")
    check_person_rules(rules, "Demographics.csv")  # extension-insensitive


def test_person_rules_wrong_table(rules):
    with pytest.raises(RulesValidationError, match="but --person is"):
        check_person_rules(rules, "Symptoms")


def test_person_table_name_pattern():
    check_person_table_name("Demographics")
    with pytest.raises(RulesValidationError):
        check_person_table_name("bad name!")
    with pytest.raises(RulesValidationError):
        check_person_table_name("1leading_digit")


def test_files_exist_warnings(rules, tmp_path):
    w = check_files_exist(rules, EXAMPLES / "inputs")
    # every table the rules reference exists on disk; some bundled CSVs
    # (e.g. vaccine.csv) are unmapped by the 14June rules -> warned
    assert not any("not present" in x for x in w)
    w2 = check_files_exist(rules, tmp_path)  # empty dir: everything missing
    assert any("not present" in x for x in w2)


def test_object_query():
    data = {"cdm": {"person": [{"a": 1}, {"b": 2}]}}
    assert object_query(data, "cdm/person/1/b") == 2
    with pytest.raises(KeyError):
        object_query(data, "cdm/nope")


def test_run_transform_rejects_wrong_person(spark):
    from carrot_transform_spark.pipeline import run_transform

    with pytest.raises(RulesValidationError):
        run_transform(
            spark,
            rules_file=EXAMPLES / "rules" / "rules_14June2021.json",
            inputs=EXAMPLES / "inputs",
            output_dir=None,
            person_table="Symptoms",
            write_outputs=False,
        )



def test_run_transform_logs_missing_input_file(spark, tmp_path, caplog):
    """A rules file naming a source file absent from the inputs directory
    is reported through the pipeline's logger (not stdout) before the run
    tries to read it."""
    import json
    import logging

    from pyspark.errors import AnalysisException

    from carrot_transform_spark.pipeline import run_transform
    from tests.test_differential_fuzz import _gen_case, _src

    rules_file, inputs = _gen_case(0, tmp_path)
    rules = json.loads(rules_file.read_text())
    rules["cdm"]["observation"]["ghost"] = {
        "person_id": _src("pid", "ghost.csv"),
        "observation_datetime": _src("when", "ghost.csv"),
        "observation_concept_id": _src("code", "ghost.csv", mapping=9100),
    }
    rules_file.write_text(json.dumps(rules))
    with caplog.at_level(logging.WARNING, logger="carrot_transform_spark.pipeline"):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            run_transform(
                spark,
                rules_file=rules_file,
                inputs=inputs,
                output_dir=None,
                person_table="demo",
                write_outputs=False,
            )
    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.name == "carrot_transform_spark.pipeline" and r.levelno == logging.WARNING
    ]
    assert any("'ghost' not present" in m for m in msgs), msgs

def test_mireda_key_error_message():
    """Error-text parity with the reference for multi-source person rules
    (reference tests/test_integration.py:61-99, cli run.py:102): exact
    message, exit code -1."""
    from click.testing import CliRunner

    from carrot_transform_spark.cli import cli

    data = "/root/reference/tests/test_data/mireda_key_error"
    runner = CliRunner()
    result = runner.invoke(
        cli,
        [
            "run", "mapstream",
            "--inputs", data,
            "--rules-file", f"{data}/original_rules.json",
            "--person", "demographics_mother_gold",
            "--output-dir", "/tmp/mireda_out",
        ],
    )
    assert result.exit_code == -1
    msg = result.output.strip().splitlines()[-1]
    assert msg.endswith(
        "Person properties were mapped from (['demographics_child_gold.csv', "
        "'infant_data_gold.csv']) but can only come from the person file "
        "person='demographics_mother_gold'"
    ), msg
