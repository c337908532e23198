"""Per-layer tracing for the traced benchmark run.

Spans come from the benchmark's own wrappers around each layer's public
functions, patched at the name the caller resolves (the module attribute
or class attribute ``pipeline.run_transform`` reaches). Each wrapper opens
a span on the calling thread and sets a Spark job group naming it, so the
event log attributes every job to a layer. Jobs submitted from the
compiler's worker threads carry no group; ``attribute_jobs`` gives them to
the innermost span open at their submission time.

Spans live in memory; ``Tracer.report`` returns them with per-pass JVM
samples, and the parent joins them with the event log after the worker
exits (``parse_event_log`` + ``layer_metrics``).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass
from pathlib import Path

# (module, attribute path, span name): patched where the caller resolves it
WRAPS = [
    ("carrot_transform_spark.pipeline", "run_transform", "pipeline"),
    ("carrot_transform_spark.pipeline", "load_schemas", "omop.load_schemas"),
    ("carrot_transform_spark.pipeline", "load_rules", "rules.load_rules"),
    ("carrot_transform_spark.sources.registry", "CsvDirSource.read", "sources.read"),
    ("carrot_transform_spark.plans.compiler", "CarrotPlanner.person_map", "plans.person_map"),
    (
        "carrot_transform_spark.plans.compiler",
        "CarrotPlanner.target_records",
        "plans.target_records",
    ),
    ("carrot_transform_spark.plans.compiler", "CarrotPlanner.flush_metrics", "plans.flush_metrics"),
    ("carrot_transform_spark.plans.compiler", "with_dense_ids", "ids.with_dense_ids"),
    (
        "carrot_transform_spark.metrics.rollup",
        "MetricsCollector.add_output_records",
        "metrics.add_output_records",
    ),
    ("carrot_transform_spark.sinks.tsv", "TsvDirSink.write", "sinks.write"),
    ("carrot_transform_spark.sinks.tsv", "TsvDirSink.write_rows", "sinks.write_rows"),
]

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_idx: int
    start: float  # epoch seconds
    end: float = 0.0
    driver_cpu_s: float = 0.0
    rows: int = 0
    cached_mb: float = 0.0


def _resolve(module: str, path: str):
    import importlib

    owner = importlib.import_module(module)
    *head, attr = path.split(".")
    for h in head:
        owner = getattr(owner, h)
    return owner, attr


def _tsv_rows(path: Path) -> int:
    with path.open("rb") as fh:
        return max(0, sum(1 for _ in fh) - 1)


class Tracer:
    """Wraps the layer functions of one Spark session and records spans."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.passes: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self._pass = -1
        self._main_stack = self._stack()
        jvm = spark._jvm
        self.java_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        mgmt = jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mgmt.getGarbageCollectorMXBeans())
        self._pass_start: dict = {}

    # -- patching -----------------------------------------------------------

    def install(self) -> None:
        for module, path, name in WRAPS:
            owner, attr = _resolve(module, path)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span.id}", span.name)

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            # a worker thread's first span nests under the main thread's
            # innermost span, which submitted the work
            outer = stack or tracer._main_stack
            with tracer._lock:
                span = Span(
                    len(tracer.spans),
                    name,
                    outer[-1].id if outer else None,
                    tracer._pass,
                    time.time(),
                )
                tracer.spans.append(span)
            stack.append(span)
            tracer._set_group(span)
            cpu0 = time.process_time()
            try:
                return fn(*args, **kwargs)
            finally:
                span.driver_cpu_s = time.process_time() - cpu0
                span.end = time.time()
                stack.pop()
                tracer._set_group(stack[-1] if stack else None)
                # bookkeeping outside the span's interval
                if name == "sinks.write" and len(args) >= 2:
                    sink, table = args[0], args[1]
                    if not getattr(sink, "is_url", True):
                        span.rows = _tsv_rows(sink.directory / f"{table}.tsv")
                elif name == "ids.with_dense_ids":
                    span.cached_mb = tracer._cached_mb()

        wrapper.__wrapped__ = fn
        return wrapper

    # -- JVM and host samples ---------------------------------------------

    def _cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def _jvm_sample(self) -> dict:
        with open(f"/proc/{self.java_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        cpu = (int(fields[11]) + int(fields[12])) / CLK_TCK
        hwm = 0.0
        with open(f"/proc/{self.java_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) / 1024
        cg = self._codegen
        compile_hist = cg.METRIC_COMPILATION_TIME()
        return {
            "cpu_s": cpu,
            "gc_s": sum(b.getCollectionTime() for b in self._gc_beans) / 1000,
            "peak_rss_mb": hwm,
            "codegen_classes": int(cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount()),
            # histogram of per-compile ms: count x mean of its sample
            "codegen_compile_s": compile_hist.getCount()
            * compile_hist.getSnapshot().getMean()
            / 1000,
            "steal_s": host_steal_s(),
        }

    def begin_pass(self, i: int) -> None:
        self._pass = i
        self._pass_start = self._jvm_sample()
        self._pass_start["t"] = time.time()

    def end_pass(self, i: int, wall_s: float, traced: bool = True) -> None:
        end = self._jvm_sample()
        start = self._pass_start
        self.passes.append(
            {
                "pass": i,
                "traced": traced,
                "wall_s": wall_s,
                "start": start["t"],
                "end": time.time(),
                "jvm.cpu_s": end["cpu_s"] - start["cpu_s"],
                "jvm.gc_s": end["gc_s"] - start["gc_s"],
                "jvm.peak_rss_mb": end["peak_rss_mb"],
                "jvm.codegen_classes": end["codegen_classes"] - start["codegen_classes"],
                "jvm.codegen_compile_s": end["codegen_compile_s"] - start["codegen_compile_s"],
                "host.steal_s": end["steal_s"] - start["steal_s"],
            }
        )
        self._pass = -1

    def report(self) -> dict:
        return {
            "spans": [s.__dict__ for s in self.spans],
            "passes": self.passes,
            "host.loadavg": os.getloadavg()[0],
        }


def host_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / CLK_TCK if len(cpu) > 8 else 0.0


# -- event log ----------------------------------------------------------------


@dataclass
class Job:
    id: int
    submit: float  # epoch seconds
    group: str | None
    stages: list[int]
    executor_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    tasks: int = 0


JOB_FIELDS = (
    "executor_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "tasks",
)


def parse_event_log(path: Path) -> list[Job]:
    """Jobs of one Spark event log with their tasks' metrics summed. A
    stage is charged to the first job that lists it (later jobs that list
    it again skip it)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with path.open(encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    ev["Submission Time"] / 1000,
                    props.get("spark.jobGroup.id"),
                    list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for s in job.stages:
                    stage_job.setdefault(s, job.id)
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if job_id is None or not m:
                    continue
                j = jobs[job_id]
                j.tasks += 1
                j.executor_s += m.get("Executor Run Time", 0) / 1000
                j.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1000
                sw = m.get("Shuffle Write Metrics") or {}
                j.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                j.spill_mb += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
                inp = m.get("Input Metrics") or {}
                j.input_mb += inp.get("Bytes Read", 0) / 2**20
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute_jobs(jobs: list[Job], spans: list[dict]) -> tuple[dict[int, list[Job]], list[Job]]:
    """span id -> its jobs. A job goes to the span its job group names;
    an untagged job goes to the innermost span open when it was submitted.
    Returns the map and the jobs no span covers."""
    by_span: dict[int, list[Job]] = {s["id"]: [] for s in spans}
    unattributed = []
    for job in jobs:
        sid = None
        if job.group and job.group.startswith("span-"):
            sid = int(job.group[5:])
        else:
            best = None
            for s in spans:
                if s["start"] <= job.submit <= s["end"] and (
                    best is None or s["start"] >= best["start"]
                ):
                    best = s
            sid = best["id"] if best else None
        if sid is None or sid not in by_span:
            unattributed.append(job)
        else:
            by_span[sid].append(job)
    return by_span, unattributed


def _self_s(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    iv = sorted((c["start"], c["end"]) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span["end"] - span["start"] - covered


def layer_metrics(
    trace: dict, jobs: list[Job], input_bytes: int, setup_s: float
) -> dict[str, float]:
    """Per-layer figures of one traced session: the span-derived ones are
    medians over the traced warm passes, with each span's executor CPU, GC,
    shuffle, spill, input and task totals; ``jvm.codegen_*`` and
    ``jvm.cold_cpu_s`` come from the cold pass.

    The session alternates untraced and traced warm passes after the
    untraced cold one; the traced passes' median wall time minus the
    untraced warm passes' median is ``trace.overhead_s``."""
    spans = trace["spans"]
    passes = trace["passes"]
    by_span, unattributed = attribute_jobs(jobs, spans)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    warm = passes[1:]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]

    per_pass: dict[str, list[float]] = {}
    for p in traced:
        ps = [s for s in spans if s["pass_idx"] == p["pass"]]
        acc: dict[str, float] = {}

        def bump(k: str, v: float) -> None:
            acc[k] = acc.get(k, 0.0) + v

        pass_jobs: list[Job] = []
        for s in ps:
            n = s["name"]
            js = by_span[s["id"]]
            pass_jobs += js
            bump(f"{n}_s", s["end"] - s["start"])
            bump(f"{n}.self_s", _self_s(s, children.get(s["id"], [])))
            bump(f"{n}.calls", 1)
            bump(f"{n}.jobs", len(js))
            bump(f"{n}.driver_cpu_s", s["driver_cpu_s"])
            for field in JOB_FIELDS:
                bump(f"{n}.{field}", sum(getattr(j, field) for j in js))
            bump("sinks.rows", s["rows"])
            acc["ids.cached_mb"] = max(acc.get("ids.cached_mb", 0.0), s["cached_mb"])
        in_mb = sum(j.input_mb for j in pass_jobs)
        acc["sources.read_calls"] = acc.get("sources.read.calls", 0.0)
        acc["sources.input_mb"] = in_mb
        acc["sources.read_amplification"] = in_mb * 2**20 / input_bytes
        acc["pass.jobs"] = len(pass_jobs)
        acc["pass.executor_s"] = sum(j.executor_s for j in pass_jobs)
        acc["pass.shuffle_write_mb"] = sum(j.shuffle_write_mb for j in pass_jobs)
        acc["pass.spill_mb"] = sum(j.spill_mb for j in pass_jobs)
        # the root span's self time plus its descendants' self times is the
        # root's duration, so this is the share of the pass the spans explain
        acc["trace.accounted_share"] = acc.get("pipeline_s", 0.0) / p["wall_s"]
        acc["trace.unattributed_jobs"] = sum(
            1 for j in unattributed if p["start"] <= j.submit <= p["end"]
        )
        for k in ("jvm.cpu_s", "jvm.gc_s", "jvm.peak_rss_mb", "host.steal_s"):
            acc[k] = p[k]
        for k, v in acc.items():
            per_pass.setdefault(k, []).append(v)

    out = {k: statistics.median(v) for k, v in per_pass.items()}
    cold = passes[0]
    out["session.get_spark_s"] = setup_s
    out["jvm.codegen_classes"] = cold["jvm.codegen_classes"]
    out["jvm.codegen_compile_s"] = cold["jvm.codegen_compile_s"]
    out["jvm.cold_cpu_s"] = cold["jvm.cpu_s"]
    out["trace.etl_s"] = statistics.median(p["wall_s"] for p in traced)
    base = statistics.median(p["wall_s"] for p in untraced) if untraced else out["trace.etl_s"]
    out["trace.overhead_s"] = out["trace.etl_s"] - base
    out["host.loadavg"] = trace["host.loadavg"]
    return out
