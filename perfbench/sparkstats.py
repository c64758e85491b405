"""Reads Spark's own status stores after a measured window.

Stage and job data come from the core ``AppStatusStore``; per-operator
SQL metrics (scan time, Python worker time and bytes) from the SQL
``SQLAppStatusStore``. Both work with ``spark.ui.enabled=false``. All of
it is read once, after the measured work, so the untraced run does not
pay for it.
"""

from __future__ import annotations

import re

from perfbench.stats import covered_seconds

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)")
_MAP_KEY = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")

# SQL metric name -> (per-layer metric, kind)
SQL_METRICS = {
    "scan time": ("sources.scan_s", "time"),
    "size of files read": ("sources.scan_bytes", "size"),
    "time to run Python workers": ("functions.python_run_s", "time"),
    "time to start Python workers": ("functions.python_start_s", "time"),
    "time to initialize Python workers": ("functions.python_start_s", "time"),
    "data sent to Python workers": ("functions.bytes_to_python", "size"),
    "data returned from Python workers": ("functions.bytes_from_python", "size"),
}


def parse_metric_value(text: str, kind: str) -> float:
    """Parse a formatted SQL metric (``"1.2 s"``, ``"114.5 KiB"``,
    ``"6,000"`` or the multi-task ``"total (min, med, max ...)\\n<total> (...)"``)
    into seconds, bytes or a count."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    if kind == "size":
        return float(parts[0]) * _SIZE_UNITS[parts[1]]
    if kind == "time":
        return float(parts[0]) * _TIME_UNITS[parts[1]]
    return float(parts[0])


def _java_empty(spark):
    jvm = spark._jvm
    return jvm.java.util.ArrayList(), spark.sparkContext._gateway.new_array(jvm.double, 0)


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def stages(spark) -> list[dict]:
    """Every stage the status store still holds, with its wall interval
    and task metrics."""
    store = spark.sparkContext._jsc.sc().statusStore()
    empty, no_q = _java_empty(spark)
    out = []
    it = store.stageList(empty, False, False, no_q, empty).iterator()
    while it.hasNext():
        s = it.next()
        start, end = _ms(s.submissionTime()), _ms(s.completionTime())
        if start is None or end is None:
            continue
        out.append(
            {
                "start": start,
                "end": end,
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
            }
        )
    return out


def job_starts(spark) -> list[float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    empty, _ = _java_empty(spark)
    out = []
    it = store.jobsList(empty).iterator()
    while it.hasNext():
        t = it.next().submissionTime()
        if t.isDefined():
            out.append(t.get().getTime() / 1000.0)
    return out


def sql_metrics(spark, t0: float, t1: float) -> dict[str, float]:
    """Sum the SQL metrics named in ``SQL_METRICS`` over every SQL
    execution submitted within [t0, t1]."""
    store = spark._jsparkSession.sharedState().statusStore()
    totals = {name: 0.0 for name, _ in SQL_METRICS.values()}
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if not t0 <= e.submissionTime() / 1000.0 <= t1:
            continue
        wanted = {
            acc: SQL_METRICS[name]
            for name, acc, _kind in _PLAN_METRIC.findall(e.metrics().toString())
            if name in SQL_METRICS
        }
        if not wanted:
            continue
        values = _split_metric_map(store.executionMetrics(e.executionId()).toString())
        for acc, (metric, kind) in wanted.items():
            if acc in values:
                totals[metric] += parse_metric_value(values[acc], kind)
    return totals


def _split_metric_map(text: str) -> dict[str, str]:
    """Split a Scala ``Map(id -> value, ...)`` string into {id: value}."""
    keys = list(_MAP_KEY.finditer(text))
    out = {}
    for i, m in enumerate(keys):
        end = keys[i + 1].start() if i + 1 < len(keys) else len(text) - 1
        out[m.group(1)] = text[m.end() : end]
    return out


def window_summary(spark, t0: float, t1: float) -> dict[str, float]:
    """Stage, job and SQL metrics of everything that ran in [t0, t1],
    plus ``spark.driver_s``: the part of the window no stage was running."""
    # stage times have millisecond resolution
    st = [s for s in stages(spark) if t0 - 1e-3 <= s["start"] <= t1]
    out = {
        "spark.jobs": float(sum(1 for t in job_starts(spark) if t0 - 1e-3 <= t <= t1)),
        "spark.stages": float(len(st)),
        "spark.tasks": float(sum(s["tasks"] for s in st)),
        "spark.executor_run_s": sum(s["run_s"] for s in st),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in st),
        "spark.gc_s": sum(s["gc_s"] for s in st),
        "spark.shuffle_read_bytes": float(sum(s["shuffle_read_bytes"] for s in st)),
        "spark.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in st)),
        "spark.spill_bytes": float(sum(s["spill_bytes"] for s in st)),
        "spark.driver_s": (t1 - t0)
        - covered_seconds([(s["start"], s["end"]) for s in st], t0, t1),
    }
    out.update(sql_metrics(spark, t0, t1))
    return out
