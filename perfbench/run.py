"""End-to-end benchmark of `carrot-transform run mapstream`.

    python3 perfbench/run.py --workload mapstream_fanout --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed (pure Python, before any JVM
starts), then drives ``pipeline.run_transform`` in a fresh worker process:
``session.get_spark``, one cold pass, then a fixed number of warm passes.
Every pass writes real outputs through the default single-file TSV sink
and is checked here afterwards. ``--seconds`` is accepted but does not size
the run: a pass count that depended on elapsed time would make ``etl_s``
a different pass from run to run.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` where ``attempted``
counts ETL passes. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics of a traced session (see
perfbench/trace.py). Metric names and units are those of BENCHMARK.json. Earlier lines give the workload's fixed facts and
every pass time, which is the evidence for the warm-up choice.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import workloads  # noqa: E402
from perfbench.checks import check_pass  # noqa: E402
from perfbench.trace import host_steal_s, layer_metrics, parse_event_log  # noqa: E402

# local[N] with N below the 4 cores of the benchmark machine: the spare
# core absorbs the Spark driver, JIT and host noise, which keeps passes
# tighter
MASTER = "local[3]"
# warm passes per untraced run: the time budget of 4 + 22 runs per workload
# in 3420 s leaves room for one after a cold pass of ~25-35 s
WARM_PASSES = 1
# the traced session's warm passes: untraced, traced, untraced
TRACED_WARM_PASSES = 3
# every run must end within this many seconds
RUN_LIMIT_S = 170

WORKLOADS = {
    "mapstream_fanout": (workloads.gen_fanout, {"persons": 2000, "events": 12000, "files": 1}),
    "mapstream_rejects": (workloads.gen_rejects, {"persons": 2000, "events": 12000, "files": 2}),
    "mapstream_wide": (workloads.gen_wide, {"tables": 8, "rows": 150}),
}



def _metric_units(key: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    return {m["name"]: m["unit"] for m in spec[key]}


def _run_worker(work: Path, args: list[str], deadline: float) -> int | None:
    """Run perfbench/worker.py in its own session and return its exit
    code, or None when it outlived the deadline. Whatever it leaves
    behind (the Spark JVM) is killed with it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp),
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [sys.executable, str(HERE / "worker.py"), "--work", str(work), "--master", MASTER, *args]
    # the worker's output is diagnostics: keep it off the result stream
    proc = subprocess.Popen(cmd, env=env, cwd=work, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S
    # a terminated run still kills its worker and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        gen, size = WORKLOADS[args.workload]
        _, inputs, exp = gen(work, args.seed, **size)
        input_bytes = sum(p.stat().st_size for p in inputs.iterdir())
        facts = {
            "workload": args.workload,
            "seed": args.seed,
            "master": MASTER,
            "input_rows": sum(exp.input_rows.values()),
            "input_bytes": input_bytes,
            "output_rows": exp.table_rows,
        }

        # a traced session's traced warm pass is compared with the untraced
        # ones around it
        warm = TRACED_WARM_PASSES if args.trace else WARM_PASSES
        wargs = ["--warm", str(warm)]
        if args.trace:
            wargs.append("--trace")
        steal0 = host_steal_s()
        code = _run_worker(work, wargs, deadline)
        # a contended host shows here instead of hiding in the times
        facts["host_steal_s"] = round(host_steal_s() - steal0, 2)
        facts["host_loadavg"] = os.getloadavg()[0]
        result_file = work / "result.json"
        if code != 0 or not result_file.is_file():
            _fail(f"worker ended with {code} and no result")
        result = json.loads(result_file.read_text(encoding="utf-8"))

        passes = result["passes"]
        digest0 = None
        failed = 0
        for i, p in enumerate(passes):
            if p["ok"]:
                problems, digest = check_pass(work / "out" / f"p{i}", exp)
            else:
                problems, digest = [p["error"]], ""
            if p["ok"] and not problems:
                digest0 = digest0 or digest
                if digest != digest0:
                    problems = ["output differs from the first pass"]
            if problems:
                failed += 1
                p["ok"] = False
                print(f"pass {i} failed: {problems[:5]}", file=sys.stderr)
        if args.trace:
            metrics, layers = _trace_metrics(work, result, input_bytes)
        else:
            values = {
                "setup_s": result["setup_s"],
                "cold_etl_s": passes[0]["s"],
                "etl_s": statistics.median(p["s"] for p in passes[1:]),
                "driver_peak_rss_mb": result["driver_peak_rss_mb"],
            }
            units = _metric_units("end_to_end")
            metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        # printed only once a result follows: a run that fails before this
        # point ends without a JSON line
        facts["pass_s"] = [round(p["s"], 3) for p in passes]
        print(json.dumps(facts))
        if args.trace:
            print(json.dumps({"layers": layers}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(passes),
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass


def _trace_metrics(work: Path, result: dict, input_bytes: int) -> tuple[dict, dict]:
    """The per-layer metrics of a traced session, and every per-span figure."""
    logs = [p for p in (work / "eventlog").iterdir() if p.is_file() and p.name[0] != "."]
    if len(logs) != 1:
        _fail(f"expected one event log, found {len(logs)}")
    trace = result["trace"]
    jobs = parse_event_log(logs[0])
    values = layer_metrics(trace, jobs, input_bytes, result["setup_s"])
    # a layer the pass never entered has no span: it reads 0
    units = _metric_units("per_layer")
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}
    return metrics, {k: round(v, 4) for k, v in sorted(values.items())}


if __name__ == "__main__":
    sys.exit(main())
