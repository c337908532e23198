"""Offline person-path snapshots: pinned generator cases run through
`run_transform`, every output TSV compared with the committed snapshot as
sorted rows — auto-number ids and dense person ids included, so a change in
record order, combination count or id assignment fails too.

The differential and reference-parity suites check the person builders
against the reference engine, which is not always installed; these
snapshots pin the same shapes without it:

- v1 person rule-set soup (bucket interactions), seeds 0-2 and 422;
- v1 person rule-set redefinitions, seeds 0-4 (one per shape);
- native v2 cases (clamped-zip combos, later-field-wins merge, original
  values without concept matches), seeds 0-2;
- the general v1 case, seed 0.

Regenerate (only when an intended output change is reviewed):

    python -m tests.test_person_snapshots
"""

from __future__ import annotations

import csv
import shutil
import tempfile
from pathlib import Path

import pytest

from tests.test_differential_fuzz import (
    _gen_case,
    _gen_case_person_ruleset_redef,
    _gen_case_person_soup,
)
from tests.test_v2_reference_parity import _gen_v2_case

SNAPSHOTS = Path(__file__).resolve().parent / "data" / "person_snapshots"

GENERATORS = {
    "soup": _gen_case_person_soup,
    "redef": _gen_case_person_ruleset_redef,
    "v2": _gen_v2_case,
    "v1": _gen_case,
}

CASES = (
    [("soup", s) for s in (0, 1, 2, 422)]
    + [("redef", s) for s in range(5)]
    + [("v2", s) for s in range(3)]
    + [("v1", 0)]
)


def _run_case(spark, kind: str, seed: int, work: Path) -> Path:
    from carrot_transform_spark.pipeline import run_transform

    rules_file, inputs = GENERATORS[kind](seed, work)
    out = work / "out"
    run_transform(
        spark, rules_file=rules_file, inputs=inputs, output_dir=out, person_table="demo"
    )
    return out


def _sorted_tsv(path: Path) -> tuple[list[str], list[list[str]]]:
    with open(path, newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh, delimiter="\t"))
    return rows[0], sorted(rows[1:])


@pytest.mark.parametrize("kind,seed", CASES, ids=[f"{k}{s}" for k, s in CASES])
def test_person_snapshot(spark, tmp_path, kind, seed):
    out = _run_case(spark, kind, seed, tmp_path)
    snap = SNAPSHOTS / f"{kind}{seed}"
    expected = sorted(p.name for p in snap.glob("*.tsv"))
    assert expected, f"no snapshot for {kind}{seed}"
    assert sorted(p.name for p in out.glob("*.tsv")) == expected
    for name in expected:
        got_h, got = _sorted_tsv(out / name)
        want_h, want = _sorted_tsv(snap / name)
        assert got_h == want_h, f"{kind}{seed}/{name}: header differs"
        missing = [r for r in want if r not in got]
        extra = [r for r in got if r not in want]
        assert got == want, (
            f"{kind}{seed}/{name}: {len(missing)} missing, {len(extra)} extra rows; "
            f"first missing {missing[:3]}, first extra {extra[:3]}"
        )


def main() -> None:
    from carrot_transform_spark.session import get_spark

    spark = get_spark(app_name="person-snapshots", master="local[4]", shuffle_partitions=8)
    try:
        for kind, seed in CASES:
            with tempfile.TemporaryDirectory() as tmp:
                out = _run_case(spark, kind, seed, Path(tmp))
                dest = SNAPSHOTS / f"{kind}{seed}"
                shutil.rmtree(dest, ignore_errors=True)
                dest.mkdir(parents=True)
                for p in sorted(out.glob("*.tsv")):
                    shutil.copy(p, dest / p.name)
                print(kind, seed, sorted(p.name for p in dest.iterdir()))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
