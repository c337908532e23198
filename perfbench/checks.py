"""Output checks for one `run mapstream` pass.

A pass is correct when every OMOP table holds exactly the records the
generator derived, every record has the header's column count, the person
map is a dense 1..N map over exactly the kept persons, and each source
file's ``summary_mapstream`` input count equals its row count. The
order-insensitive digest (sorted rows of every output file) must be the
same on every pass of a run.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from perfbench.workloads import Expected


def _read_tsv(path: Path) -> tuple[list[str], list[list[str]]]:
    with path.open(encoding="utf-8") as fh:
        lines = fh.read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    if not lines:
        return [], []
    return lines[0].split("\t"), [ln.split("\t") for ln in lines[1:]]


def check_pass(out: Path, exp: Expected) -> tuple[list[str], str]:
    """Problems found in one pass's output directory, and its digest."""
    problems: list[str] = []
    tables: dict[str, tuple[list[str], list[list[str]]]] = {}
    names = [*exp.table_rows, "person_ids", "summary_mapstream"]
    for name in names:
        path = out / f"{name}.tsv"
        if not path.is_file():
            problems.append(f"{name}: missing")
            continue
        header, rows = _read_tsv(path)
        tables[name] = (header, rows)
        ragged = sum(1 for r in rows if len(r) != len(header))
        if ragged:
            problems.append(f"{name}: {ragged} rows without {len(header)} columns")
    for name, want in exp.table_rows.items():
        if name in tables and len(tables[name][1]) != want:
            problems.append(f"{name}: {len(tables[name][1])} rows, expected {want}")

    if "person_ids" in tables:
        rows = tables["person_ids"][1]
        src = sorted(r[0] for r in rows if r)
        ids = sorted(int(r[1]) for r in rows if len(r) > 1 and r[1].isdigit())
        if src != sorted(exp.valid_persons):
            problems.append(f"person_ids: sources are not the {len(exp.valid_persons)} kept persons")
        if ids != list(range(1, len(rows) + 1)):
            problems.append("person_ids: target ids are not a dense 1..N map")

    if "summary_mapstream" in tables:
        header, rows = tables["summary_mapstream"]
        try:
            i_src, i_fld, i_tgt, i_con, i_in = (
                header.index(c)
                for c in ("source", "source_field", "target", "concept_id", "incount")
            )
        except ValueError:
            problems.append("summary_mapstream: unexpected header")
        else:
            incount = {
                r[i_src]: int(r[i_in]) if r[i_in].isdigit() else r[i_in]
                for r in rows
                if len(r) == len(header) and r[i_fld] == r[i_tgt] == r[i_con] == "all"
            }
            for stem, n in exp.input_rows.items():
                if incount.get(stem) != n:
                    problems.append(
                        f"summary_mapstream: incount of {stem} is {incount.get(stem)}, expected {n}"
                    )

    h = hashlib.sha256()
    for name in names:
        if name in tables:
            header, rows = tables[name]
            h.update(f"{name}\0{chr(9).join(header)}\0".encode())
            for line in sorted("\t".join(r) for r in rows):
                h.update(line.encode())
                h.update(b"\n")
    return problems, h.hexdigest()
