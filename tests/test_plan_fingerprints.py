"""scripts/plan_fingerprints.py: separate processes print equal
fingerprints for equal rules and inputs, and a changed rule changes the
fingerprint of its target only. Each build runs in its own process, as the
script is meant to be compared."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "plan_fingerprints.py"


def _write_inputs(inputs: Path) -> None:
    inputs.mkdir(parents=True)
    (inputs / "people.csv").write_text(
        "pid,dob,sex\n1,1980-01-01,M\n2,1981-02-03,F\n", encoding="utf-8"
    )
    (inputs / "ev.csv").write_text(
        "user,code,when\n1,A,2020-01-02\n2,B,2020-03-04 10:00:00\n", encoding="utf-8"
    )


def _write_rules(rules_file: Path, obs_concept: int) -> None:
    rules = {
        "metadata": {"dataset": "fp"},
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
                    "concept_mappings": {
                        "code": {
                            "A": {"observation_concept_id": [obs_concept]},
                            "B": {"observation_concept_id": [3001]},
                            "original_value": ["observation_source_value"],
                        }
                    },
                }
            },
        },
    }
    rules_file.write_text(json.dumps(rules), encoding="utf-8")


def _fingerprints(rules_file: Path, inputs: Path) -> dict[str, tuple[str, int]]:
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, str(SCRIPT), str(rules_file), str(inputs), "people"],
        capture_output=True, text=True, check=True, env=env, timeout=600,
    ).stdout
    return {t: (sha, int(n)) for t, sha, n in (line.split() for line in out.splitlines())}


def test_fingerprints_match_across_processes_and_track_rules(tmp_path):
    inputs = tmp_path / "inputs"
    _write_inputs(inputs)
    base, changed = tmp_path / "base.json", tmp_path / "changed.json"
    _write_rules(base, 3000)
    _write_rules(changed, 3999)

    first = _fingerprints(base, inputs)
    assert list(first) == ["person", "observation"]
    assert _fingerprints(base, inputs) == first

    other = _fingerprints(changed, inputs)
    assert other["observation"] != first["observation"]
    assert other["person"] == first["person"]
