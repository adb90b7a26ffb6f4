"""Spans kept in memory, plus Spark status/SQL REST reads per span.

Spans are recorded by the benchmark's own code around each call into a
layer's public function; nothing inside the program is instrumented. A
span that wraps Spark actions is tagged with a Spark job group, so the
stages and SQL executions it caused can be read back from the REST API
after the span ends (``spark.ui.enabled=true`` in the traced run).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager

from perfbench import host


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, spark=None, python: bool = False):
        """Record ``name`` around the body. With ``spark`` the body's jobs
        run in their own job group; with ``python`` the /proc CPU time of
        the pyspark daemon and its workers is sampled around the body."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}:{sid}"
        if spark is not None:
            spark.sparkContext.setJobGroup(group, name)
            self._groups.append(group)
        py0 = host.cpu_seconds(host.python_worker_pids()) if python else None
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if python:
                # workers that exited since py0 are in the daemon's cutime
                rec["py_proc_cpu_s"] = (
                    host.cpu_seconds(host.python_worker_pids()) - py0)
            if spark is not None:
                self._groups.pop()
                sc = spark.sparkContext
                if self._groups:  # jobs after this span belong to the parent
                    sc.setJobGroup(self._groups[-1], "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                rec["job_group"] = group

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40}
_VALUE = re.compile(r"^([0-9.,]+)\s*([A-Za-z]+)?")

# SQL-node metrics of ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
# (Spark 4.1 names), mapped to the benchmark's metric names
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}


def parse_sql_metric(value: str) -> float:
    """Total of a SQL UI metric string: '1.2 s', '0 ms', '3.4 KiB', or the
    'total (min, med, max ...)\\n<total> (...)' form."""
    line = value.split("\n", 1)[1] if value.startswith("total") else value
    m = _VALUE.match(line.strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric value {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


class SparkRest:
    """Reads per-job-group stage and SQL metrics from the REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def group_metrics(self, groups: set[str]) -> dict[str, dict]:
        """Metrics of every job group in ``groups``, read in one pass once
        the listener bus has delivered every finished event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs: dict[str, list[dict]] = {}
        for j in self._get("/jobs"):
            if j.get("jobGroup") in groups:
                jobs.setdefault(j["jobGroup"], []).append(j)
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages?status=complete"):
            stages.setdefault(st["stageId"], []).append(st)
        executions = self._get("/sql?details=true&planDescription=false"
                               "&offset=0&length=1000000")
        return {g: self._one_group(jobs.get(g, []), stages, executions)
                for g in groups}

    def _one_group(self, jobs, stages, executions) -> dict:
        job_ids = {j["jobId"] for j in jobs}
        out = {"n_jobs": len(jobs), "n_stages": 0, "jvm_cpu_s": 0.0,
               "run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "task_skew": 0.0}
        longest = -1
        # stages a job skipped (shuffle reuse) are absent: they did no work
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for st in stages.get(sid, []):
                out["n_stages"] += 1
                out["jvm_cpu_s"] += st["executorCpuTime"] / 1e9
                out["run_s"] += st["executorRunTime"] / 1e3
                out["gc_s"] += st["jvmGcTime"] / 1e3
                out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                out["spill_bytes"] += (st["memoryBytesSpilled"]
                                       + st["diskBytesSpilled"])
                # task skew of the stage that ran longest: the one that
                # blocks the leg
                if st["executorRunTime"] > longest:
                    longest = st["executorRunTime"]
                    out["task_skew"] = 1.0
                    if st["numCompleteTasks"] > 1:
                        q = self._get(
                            f"/stages/{sid}/{st['attemptId']}/taskSummary"
                            "?quantiles=0.5,1.0")["duration"]
                        out["task_skew"] = q[1] / max(q[0], 1.0)
        py = dict.fromkeys(PY_METRICS.values(), 0.0)
        for ex in executions:
            if not job_ids & set(ex.get("successJobIds", [])
                                 + ex.get("failedJobIds", [])
                                 + ex.get("runningJobIds", [])):
                continue
            for node in ex["nodes"]:
                for m in node.get("metrics", []):
                    if m["name"] in PY_METRICS:
                        py[PY_METRICS[m["name"]]] += parse_sql_metric(
                            m["value"])
        out.update(py)
        return out

