"""Event-log parsing and job attribution on a tiny tagged run."""

import time
from concurrent.futures import ThreadPoolExecutor

from perfbench.trace import Tracer, _self_s, attribute_jobs, parse_event_log


def _sum(spark, n):
    # no shuffle, so exactly one job
    return sum(r.id for r in spark.range(n).collect())


def _event_log(spark, logdir):
    # the listener bus is asynchronous: drain it so the log holds every job
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    (log,) = [p for p in logdir.iterdir() if p.is_file() and not p.name.startswith(".")]
    return log


def test_jobs_are_attributed_to_spans(traced_spark):
    spark, logdir = traced_spark
    tracer = Tracer(spark)
    since = time.time()

    inner = tracer._wrap(lambda: _sum(spark, 10), "inner")

    def body():
        _sum(spark, 100)  # tagged with the outer span's job group
        inner()  # its own span and group
        # a worker thread's job carries no group: attributed by time
        with ThreadPoolExecutor(1) as ex:
            ex.submit(_sum, spark, 5).result()

    outer = tracer._wrap(body, "outer")
    tracer.begin_pass(1)
    t = time.perf_counter()
    outer()
    tracer.end_pass(1, time.perf_counter() - t)
    _sum(spark, 3)  # outside every span

    jobs = [j for j in parse_event_log(_event_log(spark, logdir)) if j.submit >= since - 1]
    spans = tracer.report()["spans"]
    by_name = {s["name"]: s for s in spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]

    by_span, unattributed = attribute_jobs(jobs, spans)
    outer_jobs = by_span[by_name["outer"]["id"]]
    assert len(outer_jobs) == 2
    assert sum(1 for j in outer_jobs if j.group is None) == 1
    assert len(by_span[by_name["inner"]["id"]]) == 1
    assert len(unattributed) == 1
    assert all(j.tasks >= 1 and j.executor_s >= 0 for j in jobs)

    # pass samples read the gateway JVM through /proc and py4j
    (p,) = tracer.passes
    assert p["jvm.cpu_s"] > 0 and p["jvm.peak_rss_mb"] > 0


def test_self_time_subtracts_the_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 7.0, "end": 8.0}]
    assert _self_s(parent, kids) == 10.0 - 4.0 - 1.0
