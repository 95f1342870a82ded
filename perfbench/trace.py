"""Spans and Spark REST harvesting for the traced run.

Spans are recorded by the benchmark around calls into the package's
public functions: around its own calls, and, where the package makes
the call (``curate.run``, the ``/answer`` handler), by swapping the
module attribute for a timing wrapper during one traced op.  The
package's code is not changed.  Each stage of a traced job runs under
its own Spark job group, so the REST API (``/api/v1``) attributes
jobs, stages and SQL operator metrics to that stage afterwards.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  A span is a dict with ``name``,
    ``kind``, ``start``/``end`` (perf_counter seconds), ``parent`` and
    ``op`` (one id per job or request)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str, kind: str = "stage", parent: int | None = None):
        idx = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": idx, "name": name, "kind": kind, "op": op,
                           "parent": parent, "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def add(self, name: str, op: str, start: float, end: float, parent: int | None,
            kind: str = "stage") -> int:
        """Record a span measured elsewhere (e.g. on a server thread)."""
        self.spans.append({"id": len(self.spans), "name": name, "kind": kind, "op": op,
                           "parent": parent, "start": start, "end": end})
        return len(self.spans) - 1

    def self_times(self, op: str) -> dict[str, float]:
        """Per span name: duration minus the part its children cover
        (children of one parent never overlap here)."""
        spans = [s for s in self.spans if s["op"] == op]
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            key = f"{s['kind']}:{s['name']}"
            out[key] = out.get(key, 0.0) + own
        return out


_UNITS = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "min": 60.0, "h": 3600.0, "B": 1.0, "KiB": 2**10, "MiB": 2**20,
          "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]*)")


def sql_metric_value(text: str) -> float:
    """Parse a formatted SQL metric: ``"1,000"``, ``"7.4 KiB"`` or
    ``"total (min, med, max ...)\\n11.2 s (...)"`` → seconds / bytes /
    count as a float."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkRest:
    """Reads the live application's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._sql_seen = 0  # SQL executions are listed in id order

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, groups: set[str], timeout_s: float = 10.0) -> list[dict]:
        """Jobs of ``groups`` once the status store shows none running."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") in groups]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs

    def harvest(self, groups: set[str]) -> dict:
        """Per job group: jobs, completed stages and SQL executions."""
        jobs = self.settle(groups)
        group_of_job = {j["jobId"]: j["jobGroup"] for j in jobs}
        stage_group = {}
        for j in jobs:
            for sid in j["stageIds"]:
                stage_group[sid] = j["jobGroup"]
        stages = [s for s in self.get("/stages")
                  if s["stageId"] in stage_group and s["status"] == "COMPLETE"]
        out = {g: {"jobs": [], "stages": [], "sql": []} for g in groups}
        for j in jobs:
            out[j["jobGroup"]]["jobs"].append(j)
        for s in stages:
            out[stage_group[s["stageId"]]]["stages"].append(s)
        execs = self.get(f"/sql?details=true&planDescription=true"
                         f"&offset={self._sql_seen}&length=1000000")
        self._sql_seen += len(execs)
        for e in execs:
            ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
            owners = {group_of_job[i] for i in ids if i in group_of_job}
            if len(owners) == 1:
                out[owners.pop()]["sql"].append(e)
        return out

    def storage_mb(self) -> float:
        return sum(x.get("memoryUsed", 0) for x in self.get("/executors")) / 2**20

    def task_skew(self, stages: list[dict]) -> float:
        """Max ÷ median task run time of the stage that ran longest."""
        if not stages:
            return 0.0
        s = max(stages, key=lambda s: s.get("executorRunTime", 0))
        q = self.get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                     "?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] else 0.0


def node_metric(execs: list[dict], node: str, metric: str) -> float:
    return sum(
        sql_metric_value(m["value"])
        for e in execs for n in e.get("nodes", ()) if n["nodeName"] == node
        for m in n.get("metrics", ()) if m["name"] == metric
    )


def rows_into(execs: list[dict], node: str) -> float:
    """Rows entering ``node``: the output-row count of the nearest
    descendant that reports one (edges run child → parent)."""
    total = 0.0
    for e in execs:
        nodes = {n["nodeId"]: n for n in e.get("nodes", ())}
        child_of = {}
        for edge in e.get("edges", ()):
            child_of.setdefault(edge["toId"], []).append(edge["fromId"])
        for n in nodes.values():
            if n["nodeName"] != node:
                continue
            todo = list(child_of.get(n["nodeId"], ()))
            while todo:
                c = nodes.get(todo.pop(0))
                if c is None:
                    continue
                rows = [m for m in c.get("metrics", ()) if m["name"] == "number of output rows"]
                if rows:
                    total += sql_metric_value(rows[0]["value"])
                    break
                todo.extend(child_of.get(c["nodeId"], ()))
    return total


def stage_sum(stages: list[dict], field: str) -> float:
    return float(sum(s.get(field, 0) for s in stages))


def spark_totals(groups: dict) -> dict[str, float]:
    """Spark's own per-op totals over every job group of one op."""
    jobs = [j for g in groups.values() for j in g["jobs"]]
    stages = [s for g in groups.values() for s in g["stages"]]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": stage_sum(stages, "numCompleteTasks"),
        "spark.executor_cpu_s": stage_sum(stages, "executorCpuTime") / 1e9,
        "spark.executor_run_s": stage_sum(stages, "executorRunTime") / 1e3,
        "spark.shuffle_write_mb": stage_sum(stages, "shuffleWriteBytes") / 2**20,
        "spark.spill_mb": stage_sum(stages, "diskBytesSpilled") / 2**20,
        "spark.gc_s": stage_sum(stages, "jvmGcTime") / 1e3,
        "plans.fetch_wait_s": stage_sum(stages, "shuffleFetchWaitTime") / 1e3,
        "operators.floor_exchanges": len({
            pid for g in groups.values() for e in g["sql"]
            for pid in repartition_by_num(e.get("planDescription", ""))
        }),
    }


_BLOCK = re.compile(r"^\((\d+)\) Exchange\n(.*?)(?=^\(\d+\) |\Z)", re.M | re.S)


def repartition_by_num(plan: str) -> set[str]:
    """plan_ids of the fixed-count repartition exchanges (what
    ``operators.parallelism.scan_floor`` adds) in the executed plan
    (AQE's final plan when there is one)."""
    tree, _, details = plan.partition("\n\n")
    final = tree.split("== Initial Plan ==")[0]
    ids = set(re.findall(r"Exchange \((\d+)\)", final))
    out = set()
    for m in _BLOCK.finditer(details):
        if m.group(1) in ids and "REPARTITION_BY_NUM" in m.group(2):
            pid = re.search(r"plan_id=(\d+)", m.group(2))
            out.add(pid.group(1) if pid else m.group(1))
    return out
