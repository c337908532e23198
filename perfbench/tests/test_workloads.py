"""Each generator's expected output matches a real run_transform."""

import pytest

from perfbench import workloads
from perfbench.checks import check_pass

SMALL = {
    "fanout": (workloads.gen_fanout, {"persons": 60, "events": 600, "files": 2}),
    "rejects": (workloads.gen_rejects, {"persons": 60, "events": 600, "files": 2}),
    "wide": (workloads.gen_wide, {"tables": 3, "rows": 40}),
}


def test_generators_are_deterministic(tmp_path):
    for name, (gen, size) in SMALL.items():
        _, a_in, a = gen(tmp_path / f"{name}a", 7, **size)
        _, b_in, b = gen(tmp_path / f"{name}b", 7, **size)
        assert a == b
        for f in a_in.iterdir():
            assert f.read_bytes() == (b_in / f.name).read_bytes()


def test_rejects_rejects_about_forty_percent(tmp_path):
    _, _, exp = workloads.gen_rejects(tmp_path, 3, persons=500, events=6000, files=2)
    events = sum(n for s, n in exp.input_rows.items() if s != "persons")
    assert 0.3 < 1 - exp.table_rows["observation"] / events < 0.5


@pytest.mark.parametrize("name", sorted(SMALL))
def test_expected_counts_match_a_real_run(traced_spark, tmp_path, name):
    from carrot_transform_spark.pipeline import run_transform

    spark, _ = traced_spark
    gen, size = SMALL[name]
    rules, inputs, exp = gen(tmp_path, 11, **size)
    out = tmp_path / "out"
    run_transform(spark, rules, inputs, out, person_table=workloads.PERSON_TABLE)
    problems, _ = check_pass(out, exp)
    assert problems == []
