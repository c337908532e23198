"""One measured ETL session: ``session.get_spark`` in a fresh process,
one cold ``run_transform`` pass, then exactly ``--warm`` warm passes. Every pass writes real outputs through the default single-file TSV
sink into its own directory, so the parent can check each one after this
process has exited (checking here would inflate the driver's RSS).

Run by perfbench/run.py; the result goes to ``<work>/result.json``.

    python3 perfbench/worker.py --work DIR --master local[3] --warm 1
"""

from __future__ import annotations

import argparse
import json
import resource
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.workloads import PERSON_TABLE  # noqa: E402


def spark_conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    """Keep every file the JVM writes inside the work directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(event_log)
        # one plain JSON-lines file, which trace.parse_event_log reads
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--warm", type=int, required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    work: Path = args.work

    from carrot_transform_spark.session import get_spark

    event_log = work / "eventlog" if args.trace else None
    conf = spark_conf(work, event_log)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=args.master, extra_conf=conf)
    setup_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from carrot_transform_spark import pipeline

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)

        rules = work / "rules.json"
        inputs = work / "inputs"
        passes = []

        def one_pass(i: int) -> None:
            out = work / "out" / f"p{i}"
            # the traced run leaves the cold pass untraced, then alternates
            # untraced and traced warm passes: their difference is the
            # tracing overhead
            traced = tracer is not None and i > 0 and i % 2 == 0
            if tracer is not None:
                tracer.begin_pass(i)
                if traced:
                    tracer.install()
            t = time.perf_counter()
            try:
                pipeline.run_transform(spark, rules, inputs, out, person_table=PERSON_TABLE)
                ok, err = True, None
            except Exception:  # a failed pass is a failed operation, not a crash
                ok, err = False, traceback.format_exc(limit=5)
                print(err, file=sys.stderr)
            passes.append({"s": time.perf_counter() - t, "ok": ok, "error": err})
            if tracer is not None:
                tracer.end_pass(i, passes[-1]["s"], traced)
                tracer.uninstall()

        # a fixed number of passes, so every run's etl_s is the same pass
        for i in range(1 + args.warm):
            one_pass(i)
        result = {
            "setup_s": setup_s,
            "passes": passes,
            "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        if tracer is not None:
            result["trace"] = tracer.report()
        (work / "result.json").write_text(json.dumps(result), encoding="utf-8")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
