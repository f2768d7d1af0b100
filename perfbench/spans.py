"""Spans around layer calls, with Spark status-store metrics per span.

A span is (id, name, parent, run_id, start, end). Each span runs under its
own Spark job group, so the jobs it launched -- and through them the
stages and SQL executions -- can be attributed to it after the fact.
Spans stay in memory; ``Tracer.report`` reads the status stores once, at
the end of the run. Jobs launched from helper threads (which do not
inherit the job group) are attributed to the innermost span whose wall
window contains their submission time.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager

# SQL metric names (Spark 4.x) -> the short keys this benchmark reports
SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "number of written files": "files_written",
    "written output": "bytes_written_sql",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """Total of one SQL status-store metric string. Aggregated metrics read
    'total (min, med, max (...))\\n12.3 MiB (...)'; single ones '12.3 MiB'.
    Sizes come back in bytes, durations in seconds, counts as numbers."""
    if text is None:
        return None
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._report: list[dict] | None = None

    @contextmanager
    def span(self, name: str, run_id: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": run_id,
        }
        rec["group"] = f"perfbench-{rec['id']}"
        self._set_group(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["duration_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["duration_s"]
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["group"], rec["name"])

    def report(self) -> list[dict]:
        """Spans (in start order) with self time, Spark job ids and the
        status-store metrics of those jobs attached. Computed once."""
        if self._report is not None:
            return self._report
        spans = sorted(self.spans, key=lambda s: s["start"])
        by_group = {s["group"]: s for s in spans}
        for s in spans:
            s["jobs"] = []
        if self.spark is not None:
            _attach_status(self.spark, spans, by_group)
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in spans:
            s["self_s"] = s["duration_s"] - _covered(children.get(s["id"], []))
        self._report = spans
        return spans


def _covered(kids: list[dict]) -> float:
    """Length of the union of the children's [start, end] intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for k in sorted(kids, key=lambda k: k["start"]):
        if cur_end is None or k["start"] > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = k["start"], k["end"]
        else:
            cur_end = max(cur_end, k["end"])
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _status_json(spark) -> tuple[list, list, list]:
    """(jobs, stages, SQL executions) from Spark's status stores, each read
    with one JVM call and serialized by Spark's own Jackson/Scala mapper."""
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    store = spark.sparkContext._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    sql = spark._jsparkSession.sharedState().statusStore()
    return tuple(
        json.loads(mapper.writeValueAsString(x))
        for x in (store.jobsList(None), stages, sql.executionsList())
    )


def _attach_status(spark, spans: list[dict], by_group: dict) -> None:
    jobs, stages, executions = _status_json(spark)
    stage_by_id: dict[int, list[dict]] = {}
    for st in stages:
        stage_by_id.setdefault(st["stageId"], []).append(st)
    job_span: dict[int, dict] = {}
    counted: set[int] = set()  # a reused shuffle stage is listed by later jobs too
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        span = by_group.get(j.get("jobGroup"))
        if span is None and j.get("submissionTime"):
            t = j["submissionTime"] / 1000.0
            inside = [s for s in spans if s["start"] - 0.002 <= t <= s["end"] + 0.002]
            span = max(inside, key=lambda s: s["start"]) if inside else None
        if span is None:
            continue
        span["jobs"].append(j["jobId"])
        job_span[j["jobId"]] = span
        for sid in j["stageIds"]:
            if sid in counted:
                continue
            counted.add(sid)
            for st in stage_by_id.get(sid, []):
                _add(span, "tasks", st["numTasks"])
                _add(span, "exchange.bytes_written", st["shuffleWriteBytes"])
                _add(span, "exchange.write_s", st["shuffleWriteTime"] / 1e9)
                _add(span, "exchange.fetch_wait_s", st["shuffleFetchWaitTime"] / 1e3)
                _add(span, "scan.bytes_read", st["inputBytes"])
    for ex in executions:
        owners = [job_span[int(k)] for k in ex.get("jobs", {}) if int(k) in job_span]
        if not owners:
            continue
        names = {int(m["accumulatorId"]): m["name"] for m in ex.get("metrics", [])}
        for acc, text in (ex.get("metricValues") or {}).items():
            key = SQL_METRICS.get(names.get(int(acc)))
            value = parse_metric(text) if key else None
            if value is not None:
                _add(owners[0], key, value)


def _add(span: dict, key: str, value: float) -> None:
    metrics = span.setdefault("metrics", {})
    metrics[key] = metrics.get(key, 0) + value
