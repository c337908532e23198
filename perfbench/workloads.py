"""Seeded input generators for the `run mapstream` benchmark.

Each workload writes a directory of source CSVs plus a v2 mapping-rules
JSON, and derives from its own rows the output the ETL must produce:
per-table record counts, the valid persons in file order, and the input
rows of every file. Pure Python and single-process, so generating inputs
never touches the JVM that is later measured.

The record model the expectations follow (pinned by
perfbench/tests/test_workloads.py against a real run):

- a person row is kept when its pid is seen for the first time and its
  DOB is a valid ``YYYY-MM-DD`` or ``DD/MM/YYYY`` date; kept persons get
  ids 1..N in file order and one ``person`` record each;
- an event row yields records only when its pid is a kept person and its
  date is a valid ``YYYY-MM-DD``, ``YYYY-MM-DD HH:MM:SS`` or
  ``DD/MM/YYYY`` value;
- each mapped field of such a row yields one record per concept id listed
  for its value (exact value first, else the ``*`` wildcard for any
  non-blank cell).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from datetime import date, timedelta
from pathlib import Path

PERSON_FILE = "persons.csv"
PERSON_TABLE = "persons"
BAD_DATE = "not-a-date"

# target -> (datetime dest, source-value dest, concept dest)
TARGETS = {
    "observation": ("observation_datetime", "observation_source_value", "observation_concept_id"),
    "condition_occurrence": (
        "condition_start_datetime",
        "condition_source_value",
        "condition_concept_id",
    ),
    "measurement": ("measurement_datetime", "measurement_source_value", "measurement_concept_id"),
}


@dataclass
class Expected:
    """What a correct run writes for one generated input set."""

    table_rows: dict[str, int] = field(default_factory=dict)
    valid_persons: list[str] = field(default_factory=list)
    input_rows: dict[str, int] = field(default_factory=dict)  # file stem -> rows



@dataclass
class FieldMap:
    """One concept-mapped source field of one (target, source file) pair."""

    target: str
    source_field: str
    values: dict[str, list[int]]  # cell value (or "*") -> concept ids

    def records_for(self, cell: str) -> int:
        if cell in self.values:
            return len(self.values[cell])
        if cell.strip() and "*" in self.values:
            return len(self.values["*"])
        return 0


class _Inputs:
    """Accumulates files, rules and expected counts for one workload."""

    def __init__(self, out: Path, dataset: str):
        self.out = out
        self.inputs = out / "inputs"
        self.inputs.mkdir(parents=True, exist_ok=True)
        self.dataset = dataset
        self.cdm: dict[str, dict] = {}
        self.exp = Expected(table_rows={"person": 0})
        self.valid: set[str] = set()

    def write_csv(self, name: str, header: list[str], rows: list[list[str]]) -> None:
        with (self.inputs / name).open("w", encoding="utf-8", newline="") as fh:
            fh.write(",".join(header) + "\n")
            for r in rows:
                fh.write(",".join(r) + "\n")
        self.exp.input_rows[name.rsplit(".", 1)[0]] = len(rows)

    def persons(self, rng: random.Random, n: int, bad_dob: float) -> list[str]:
        """Person file with unique pids; returns every pid written."""
        rows, pids = [], []
        for i in range(n):
            pid = f"P{i:07d}"
            pids.append(pid)
            if rng.random() < bad_dob:
                dob = BAD_DATE
            else:
                dob = _fmt_date(rng, _rand_date(rng, 1930, 2005), iso_share=0.8, with_time=False)
                self.exp.valid_persons.append(pid)
                self.valid.add(pid)
            rows.append([pid, rng.choice("MF"), dob])
        self.write_csv(PERSON_FILE, ["pid", "sex", "dob"], rows)
        self.exp.table_rows["person"] = len(self.exp.valid_persons)
        self.cdm["person"] = {
            PERSON_FILE: {
                "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                "date_mapping": {"source_field": "dob", "dest_field": ["birth_datetime"]},
                "concept_mappings": {
                    "sex": {
                        "M": {"gender_concept_id": [8507]},
                        "F": {"gender_concept_id": [8532]},
                        "original_value": ["gender_source_value"],
                    }
                },
            }
        }
        return pids

    def event_file(
        self,
        name: str,
        header: list[str],
        rows: list[list[str]],
        maps: list[FieldMap],
    ) -> None:
        """Write an event file (columns: pid, when, then the data fields)
        and its rules; count the records each target must receive."""
        self.write_csv(name, header, rows)
        col = {h: i for i, h in enumerate(header)}
        for fm in maps:
            per = self.cdm.setdefault(fm.target, {}).setdefault(
                name,
                {
                    "person_id_mapping": {"source_field": "pid", "dest_field": "person_id"},
                    "date_mapping": {
                        "source_field": "when",
                        "dest_field": [TARGETS[fm.target][0]],
                    },
                    "concept_mappings": {},
                },
            )
            cm = {v: {TARGETS[fm.target][2]: ids} for v, ids in fm.values.items()}
            cm["original_value"] = [TARGETS[fm.target][1]]
            per["concept_mappings"][fm.source_field] = cm
            n = 0
            ci = col[fm.source_field]
            for r in rows:
                if r[0] in self.valid and r[1] != BAD_DATE:
                    n += fm.records_for(r[ci])
            self.exp.table_rows[fm.target] = self.exp.table_rows.get(fm.target, 0) + n

    def finish(self) -> tuple[Path, Path, Expected]:
        rules = {
            "metadata": {"date_created": "2026-01-01T00:00:00", "dataset": self.dataset},
            "cdm": self.cdm,
        }
        rules_file = self.out / "rules.json"
        rules_file.write_text(json.dumps(rules, indent=1), encoding="utf-8")
        return rules_file, self.inputs, self.exp


def _rand_date(rng: random.Random, y0: int, y1: int) -> date:
    start = date(y0, 1, 1)
    return start + timedelta(days=rng.randrange((date(y1, 12, 31) - start).days))


def _fmt_date(rng: random.Random, d: date, iso_share: float, with_time: bool) -> str:
    """A valid date in one of the accepted spellings."""
    r = rng.random()
    if r < iso_share:
        if with_time and rng.random() < 0.3:
            return f"{d.isoformat()} {rng.randrange(24):02d}:{rng.randrange(60):02d}:00"
        return d.isoformat()
    return f"{d.day:02d}/{d.month:02d}/{d.year}"


def _events(
    rng: random.Random,
    n: int,
    pids: list[str],
    codes: list[str],
    ghost: float,
    bad_date: float,
    iso_share: float,
) -> list[list[str]]:
    """Rows of (pid, when, code, val) with the given reject shares:
    ``ghost`` rows name an unknown pid, ``bad_date`` rows carry an
    unparseable date."""
    rows = []
    for _ in range(n):
        pid = f"G{rng.randrange(10**6):06d}" if rng.random() < ghost else rng.choice(pids)
        if rng.random() < bad_date:
            when = BAD_DATE
        else:
            when = _fmt_date(rng, _rand_date(rng, 2010, 2024), iso_share, with_time=True)
        rows.append([pid, when, rng.choice(codes), f"{rng.uniform(0, 200):.1f}"])
    return rows


def gen_fanout(out: Path, seed: int, persons: int, events: int, files: int):
    """Write-heavy: every kept event row fans out to 2-4 records across
    observation, condition_occurrence and measurement; ~1% of rows are
    rejected."""
    rng = random.Random(seed)
    b = _Inputs(out, f"fanout{seed}")
    pids = b.persons(rng, persons, bad_dob=0.0)
    codes = [f"C{i:02d}" for i in range(12)]
    # even codes map to two observation concepts, odd codes to one
    obs = {c: [3000 + 2 * i, 3001 + 2 * i][: 1 + (i % 2 == 0)] for i, c in enumerate(codes)}
    cond = {c: [4000 + i] for i, c in enumerate(codes) if i % 3}
    for k in range(files):
        name = f"events{k}.csv"
        rows = _events(
            rng, events // files, pids, codes, ghost=0.005, bad_date=0.005, iso_share=0.9
        )
        b.event_file(
            name,
            ["pid", "when", "code", "val"],
            rows,
            [
                FieldMap("observation", "code", obs),
                FieldMap("condition_occurrence", "code", cond),
                FieldMap("measurement", "val", {"*": [5000 + k]}),
            ],
        )
    return b.finish()


def gen_rejects(out: Path, seed: int, persons: int, events: int, files: int):
    """Validation-heavy, write-light: ~44% of event rows are rejected
    (unknown pids, persons with a bad DOB, unparseable dates, unmapped
    values) and dates mix ISO and DD/MM/YYYY spellings."""
    rng = random.Random(seed)
    b = _Inputs(out, f"rejects{seed}")
    pids = b.persons(rng, persons, bad_dob=0.1)
    codes = [f"C{i:02d}" for i in range(12)]
    obs = {c: [3000 + i] for i, c in enumerate(codes[:10])}  # C10, C11 unmapped
    for k in range(files):
        name = f"events{k}.csv"
        rows = _events(rng, events // files, pids, codes, ghost=0.15, bad_date=0.12, iso_share=0.5)
        b.event_file(
            name, ["pid", "when", "code", "val"], rows, [FieldMap("observation", "code", obs)]
        )
    return b.finish()


# term-map sizes on the wide workload: when-chain, map literal, rules join
WIDE_MAP_SIZES = (4, 20, 120)


def gen_wide(out: Path, seed: int, tables: int, rows: int, fields: int = 10):
    """Plan-build-heavy: many small source tables, each with ``fields``
    concept-mapped fields spread over three targets, and term maps in the
    three compilation bands."""
    rng = random.Random(seed)
    b = _Inputs(out, f"wide{seed}")
    pids = b.persons(rng, max(rows, 50), bad_dob=0.02)
    targets = list(TARGETS)
    for t in range(tables):
        name = f"src{t:02d}.csv"
        header = ["pid", "when"] + [f"f{j}" for j in range(fields)]
        maps, vocab = [], []
        for j in range(fields):
            size = WIDE_MAP_SIZES[(t + j) % len(WIDE_MAP_SIZES)]
            base = 100_000 * (t + 1) + 1_000 * j
            values = {f"v{v}": [base + v] for v in range(size)}
            maps.append(FieldMap(targets[j % len(targets)], f"f{j}", values))
            vocab.append([f"v{v}" for v in range(size + max(1, size // 8))])  # some unmapped
        data = []
        for _ in range(rows):
            pid = f"G{rng.randrange(10**6):06d}" if rng.random() < 0.02 else rng.choice(pids)
            when = _fmt_date(rng, _rand_date(rng, 2010, 2024), 0.9, with_time=False)
            data.append([pid, when] + [rng.choice(v) for v in vocab])
        b.event_file(name, header, data, maps)
    return b.finish()
