"""The output checker accepts a correct pass and rejects damaged ones."""

import pytest

from perfbench.checks import check_pass
from perfbench.workloads import Expected

HEADER = "observation_id\tperson_id\tobservation_concept_id"


def _write(out, obs_rows, pids=("P1", "P2"), incount=3):
    out.mkdir(parents=True, exist_ok=True)
    (out / "observation.tsv").write_text(
        HEADER + "\n" + "".join(f"{i}\t1\t3000\n" for i in range(1, obs_rows + 1))
    )
    (out / "person.tsv").write_text("person_id\tgender_concept_id\n1\t8507\n2\t8532\n")
    (out / "person_ids.tsv").write_text(
        "SOURCE_SUBJECT\tTARGET_SUBJECT\n" + "".join(f"{p}\t{i}\n" for i, p in enumerate(pids, 1))
    )
    (out / "summary_mapstream.tsv").write_text(
        "dsname\tsource\tsource_field\ttarget\tconcept_id\tadditional\tincount\n"
        f"d\tevents0\tall\tall\tall\t\t{incount}\n"
        "d\tpersons\tall\tall\tall\t\t2\n"
    )


EXP = Expected(
    table_rows={"person": 2, "observation": 4},
    valid_persons=["P1", "P2"],
    input_rows={"events0": 3, "persons": 2},
)


def test_correct_pass_has_no_problems(tmp_path):
    _write(tmp_path / "a", 4)
    _write(tmp_path / "b", 4)
    pa, da = check_pass(tmp_path / "a", EXP)
    pb, db = check_pass(tmp_path / "b", EXP)
    assert pa == [] and pb == []
    assert da == db


def test_truncated_tsv_is_rejected(tmp_path):
    out = tmp_path / "a"
    _write(out, 4)
    text = (out / "observation.tsv").read_text()
    (out / "observation.tsv").write_text(text[: text.rindex("\t")])  # cut mid-row
    problems, _ = check_pass(out, EXP)
    assert problems == ["observation: 1 rows without 3 columns"]


def test_missing_rows_are_rejected(tmp_path):
    _write(tmp_path, 3)
    problems, _ = check_pass(tmp_path, EXP)
    assert problems == ["observation: 3 rows, expected 4"]


@pytest.mark.parametrize(
    "kw, needle",
    [
        ({"pids": ("P1", "P9")}, "sources"),
        ({"incount": 7}, "incount of events0"),
    ],
)
def test_person_map_and_summary_are_checked(tmp_path, kw, needle):
    _write(tmp_path, 4, **kw)
    problems, _ = check_pass(tmp_path, EXP)
    assert any(needle in p for p in problems), problems


def test_non_dense_person_ids_are_rejected(tmp_path):
    _write(tmp_path, 4)
    (tmp_path / "person_ids.tsv").write_text("SOURCE_SUBJECT\tTARGET_SUBJECT\nP1\t1\nP2\t3\n")
    problems, _ = check_pass(tmp_path, EXP)
    assert any("dense" in p for p in problems)


def test_missing_file_is_rejected(tmp_path):
    _write(tmp_path, 4)
    (tmp_path / "person.tsv").unlink()
    problems, _ = check_pass(tmp_path, EXP)
    assert "person: missing" in problems
