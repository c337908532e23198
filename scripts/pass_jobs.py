"""Count the Spark jobs of one warm `run mapstream` pass, per call site.

Usage: python3 scripts/pass_jobs.py <workload> <seed>

Generates the perfbench workload's inputs (the generators and sizes of
`perfbench/run.py`), starts `session.get_spark` on local[3] with a plain
JSON event log, and runs one cold and two warm `pipeline.run_transform`
passes, each writing through the default single-file sink. It then prints
the last warm pass's jobs grouped by the Python line that submitted them,
most first (``jobs  site``), and one JSON line: the workload, the seed,
every pass time, the job total, and the last pass's output digest and
check problems (`perfbench/checks.py`).

A job's site is the Python line that called the DataFrame action
(``count``, ``collect`` or ``toLocalIterator``) or the DataFrameWriter
action (``text`` or ``csv``) that submitted it, kept
in a job property of its own: PySpark's ``callSite.short`` bookkeeping is
process-wide and drops the site of a collect that overlaps another
thread's. Jobs a query starts for its stages and broadcasts carry the
site of the action that ran the query; a job with none (not submitted
through those actions) shows its JVM call site.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.checks import check_pass  # noqa: E402
from perfbench.run import MASTER, WORKLOADS  # noqa: E402
from perfbench.worker import spark_conf  # noqa: E402
from perfbench.workloads import PERSON_TABLE  # noqa: E402

SITE = "pass_jobs.site"
# (class module, class name, actions): the calls whose jobs get a site
ACTIONS = [
    ("pyspark.sql.classic.dataframe", "DataFrame", ("count", "collect", "toLocalIterator")),
    ("pyspark.sql.readwriter", "DataFrameWriter", ("text", "csv")),
]


def _tag_sites(sc) -> None:
    """Record the Python caller of every action in the SITE job property
    of the calling thread's jobs."""
    import importlib

    def tagged(name: str, orig):
        def action(self, *args, **kwargs):
            outer = sc.getLocalProperty(SITE)
            if outer is None:  # an action inside another keeps the outer site
                caller = sys._getframe(1)
                sc.setLocalProperty(
                    SITE, f"{name} at {caller.f_code.co_filename}:{caller.f_lineno}"
                )
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc.setLocalProperty(SITE, outer)

        return action

    for module, cls_name, names in ACTIONS:
        cls = getattr(importlib.import_module(module), cls_name)
        for name in names:
            setattr(cls, name, tagged(name, getattr(cls, name)))


def _jobs(event_log: Path) -> list[tuple[float, str]]:
    """(submission time in epoch seconds, call site) of every job."""
    jobs = []
    with event_log.open(encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            if ev.get("Event") != "SparkListenerJobStart":
                continue
            props = ev.get("Properties") or {}
            site = props.get(SITE) or props.get("callSite.short")
            if site is None:
                stages = ev.get("Stage Infos") or [{}]
                site = stages[0].get("Stage Name", "?")
            jobs.append((ev["Submission Time"] / 1000, site.replace(f"{ROOT}/", "")))
    return jobs


def main() -> None:
    if len(sys.argv) != 3 or sys.argv[1] not in WORKLOADS:
        sys.exit(f"{__doc__.split(chr(10) * 2)[1]}\nworkloads: {', '.join(sorted(WORKLOADS))}")
    workload, seed = sys.argv[1], int(sys.argv[2])
    from carrot_transform_spark import pipeline
    from carrot_transform_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="pass_jobs-") as tmp:
        work = Path(tmp)
        gen, size = WORKLOADS[workload]
        _, inputs, exp = gen(work, seed, **size)
        log_dir = work / "eventlog"
        spark = get_spark(
            app_name="pass-jobs", master=MASTER, extra_conf=spark_conf(work, log_dir)
        )
        windows = []
        try:
            spark.sparkContext.setLogLevel("ERROR")
            _tag_sites(spark.sparkContext)
            for i in range(3):
                t0 = time.time()
                pipeline.run_transform(
                    spark, work / "rules.json", inputs, work / "out" / f"p{i}",
                    person_table=PERSON_TABLE,
                )
                windows.append((t0, time.time()))
        finally:
            spark.stop()
        (log,) = [p for p in log_dir.iterdir() if p.is_file() and p.name[0] != "."]
        t0, t1 = windows[-1]
        sites = Counter(site for t, site in _jobs(log) if t0 <= t <= t1)
        problems, digest = check_pass(work / "out" / "p2", exp)
    for site, n in sorted(sites.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:4d}  {site}")
    print(
        json.dumps(
            {
                "workload": workload,
                "seed": seed,
                "pass_s": [round(b - a, 3) for a, b in windows],
                "jobs": sum(sites.values()),
                "digest": digest,
                "problems": problems,
            }
        )
    )


if __name__ == "__main__":
    main()
