"""Multi-level count rollup -> summary_mapstream.tsv.

The reference increments ~5-7 hierarchical counters per written record in a
Python dict (metrics.py:110-259). Here the per-record work is ONE small
groupBy per target DataFrame (source file x field x concept — tens of
groups); the "all"-level fan-out (increment_with_datacol, metrics.py:191-259)
is then expanded driver-side over those aggregated counts. Same summary,
O(distinct keys) driver work instead of O(records).
"""

from __future__ import annotations

import threading
from collections import defaultdict
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from carrot_transform_spark.plans.compiler import FIELD_COL, SRC_COL, RejectStats

SUMMARY_HEADER = [
    "dsname",
    "source",
    "source_field",
    "target",
    "concept_id",
    "additional",
    "incount",
    "invalid_persid",
    "invalid_date",
    "invalid_source",
    "outcount",
]

Key = tuple[str, str, str, str, str]  # source, fieldname, tablename, concept, additional


@dataclass
class MetricsCollector:
    dataset_name: str
    log_threshold: int = 0

    def __post_init__(self):
        self.counts: dict[Key, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._lock = threading.Lock()

    def _inc(self, key: Key, count_type: str, n: int) -> None:
        if n:
            self.counts[key][count_type] += n

    # -- reject/input side (increment_key_count call sites) -------------

    def add_reject_stats(self, stats: RejectStats) -> None:
        for src, n in stats.input_rows.items():
            self._inc((src, "all", "all", "all", ""), "input_count", n)
        for (src, tgt, fld), n in stats.invalid_source.items():
            self._inc((src, fld, tgt, "all", ""), "invalid_source_fields", n)
        for (src, tgt, fld), n in stats.invalid_date.items():
            self._inc((src, fld, tgt, "all", ""), "invalid_date_fields", n)
        for (src, tgt), n in stats.invalid_person.items():
            self._inc((src, "all", tgt, "all", ""), "invalid_person_ids", n)
        # row-level date rejects use count_type "input_date_fields", which the
        # summary does not render (reference orchestrator.py:146-158) — kept
        # for API parity
        for src, n in stats.date_reject_rows.items():
            self._inc((src, "all", "all", "all", ""), "input_date_fields", n)

    # -- output side (increment_with_datacol, metrics.py:191-259) --------

    def add_output_records(self, target: str, records: DataFrame, columns: list[str]) -> None:
        """records: final per-target DataFrame with meta columns; `columns`
        is the target's DDL column order (out_record index lookup).

        Targets call this concurrently (pipeline.run_transform): the
        groupBy + collect runs unlocked, the counter update under the
        collector's lock. The counters are plain sums, so the order in
        which targets arrive does not change the summary."""
        if target == "person":
            gender_col, yob_col = columns[1], columns[2]
            keys = [SRC_COL, F.col(gender_col).alias("g"), F.col(yob_col).alias("y")]
        else:
            keys = [SRC_COL, FIELD_COL, F.col(columns[2]).alias("c")]
        rows = records.groupBy(*keys).count().collect()
        with self._lock:
            if target == "person":
                for r in rows:
                    src, g, y, n = r[SRC_COL], r["g"] or "", r["y"] or "", r["count"]
                    self._inc((src, "all", "all", "all", ""), "output_count", n)
                    self._inc(("all", "all", target, "all", ""), "output_count", n)
                    self._inc((src, "all", target, "all", ""), "output_count", n)
                    self._inc((src, "all", target, g, ""), "output_count", n)
                    self._inc((src, "all", target, g, y), "output_count", n)
            else:
                for r in rows:
                    src, fld, c, n = r[SRC_COL], r[FIELD_COL], r["c"] or "", r["count"]
                    self._inc((src, "all", "all", "all", ""), "output_count", n)
                    self._inc(("all", "all", target, "all", ""), "output_count", n)
                    self._inc((src, "all", target, "all", ""), "output_count", n)
                    self._inc((src, fld, target, c, ""), "output_count", n)
                    self._inc((src, "all", target, c, ""), "output_count", n)
                    self._inc(("all", "all", target, c, ""), "output_count", n)
                    self._inc(("all", "all", "all", c, ""), "output_count", n)

    # -- emit -------------------------------------------------------------

    def summary_rows(self) -> list[list[str]]:
        rows = []
        for key in sorted(self.counts, key=lambda k: "~".join(k)):
            src, fld, tbl, concept, additional = key
            c = self.counts[key]
            if c.get("output_count", 0) >= self.log_threshold:
                rows.append(
                    [
                        self.dataset_name,
                        src.split(".")[0],
                        fld,
                        tbl,
                        concept,
                        additional,
                        str(c.get("input_count", 0)),
                        str(c.get("invalid_person_ids", 0)),
                        str(c.get("invalid_date_fields", 0)),
                        str(c.get("invalid_source_fields", 0)),
                        str(c.get("output_count", 0)),
                    ]
                )
        return rows

    def summary_tsv(self) -> str:
        lines = ["\t".join(SUMMARY_HEADER)]
        lines += ["\t".join(r) for r in self.summary_rows()]
        return "\n".join(lines) + "\n"

    def summary_dict(self) -> dict:
        """Structured form (reference metrics.get_mapstream_summary_dict)."""
        return {
            "dataset": self.dataset_name,
            "threshold": self.log_threshold,
            "rows": [dict(zip(SUMMARY_HEADER, r)) for r in self.summary_rows()],
        }
