"""Spark's own counters per job group, read from the status REST API of the
running application (``/jobs``, ``/stages`` and ``/sql?details=true``).

Only traced runs read them, after an operation has finished: the listener
that feeds the REST store runs asynchronously, so ``group_counters`` first
waits until every job of the group and its stages show as finished."""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime
from typing import Dict, Iterable, List

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"([\d,.]+)\s*([A-Za-z]*)")

# MapInPandas node metric -> benchmark name
_PYTHON_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_start_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}


def parse_metric(text: str) -> float:
    """A SQL node metric as the UI formats it (``"8.8 MiB"``, ``"19,984"``,
    ``"total (min, med, max ...)\\n15.0 s (...)"``) -> seconds, bytes or a
    plain number."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.match(line.strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    return number


def _gmt(stamp: str) -> datetime:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z")


class SparkStats:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def job_seconds(self, job_id: int) -> float:
        job = self._get(f"/jobs/{job_id}")
        return (_gmt(job["completionTime"]) - _gmt(job["submissionTime"])).total_seconds()

    def _settled_jobs(self, groups: List[str], timeout: float) -> List[dict]:
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids]
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                s["status"] not in ("ACTIVE", "PENDING") for s in stages
            )
            if done or time.monotonic() > deadline:
                return jobs

    def group_counters(self, groups: Iterable[str], timeout: float = 20.0) -> Dict[str, float]:
        """Engine counters summed over every job of ``groups``, plus the
        counters of the plans that ran the parse UDF (``MapInPandas``)."""
        groups = list(groups)
        jobs = self._settled_jobs(groups, timeout)
        job_ids = {j["jobId"] for j in jobs}
        stage_of_job = {j["jobId"]: set(j["stageIds"]) for j in jobs}
        stages = {}
        for s in self._get("/stages"):
            if any(s["stageId"] in ids for ids in stage_of_job.values()):
                stages.setdefault(s["stageId"], []).append(s)
        ran = [a for attempts in stages.values() for a in attempts if a["status"] != "SKIPPED"]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len({a["stageId"] for a in ran}),
            "spark.tasks": sum(a["numCompleteTasks"] for a in ran),
            "spark.executor_run_s": sum(a["executorRunTime"] for a in ran) / 1e3,
            "spark.executor_cpu_s": sum(a["executorCpuTime"] for a in ran) / 1e9,
            "spark.gc_s": sum(a["jvmGcTime"] for a in ran) / 1e3,
            "spark.shuffle_read_bytes": sum(a["shuffleReadBytes"] for a in ran),
            "spark.shuffle_write_bytes": sum(a["shuffleWriteBytes"] for a in ran),
            "spark.spill_bytes": sum(a["diskBytesSpilled"] for a in ran),
            "spark.input_bytes": sum(a["inputBytes"] for a in ran),
            "spark.output_bytes": sum(a["outputBytes"] for a in ran),
        }
        pipeline = dict.fromkeys(
            ["tasks", "scan_s", "shuffle_write_bytes", *_PYTHON_METRICS.values()], 0.0
        )
        parse_jobs = set()
        for ex in self._get("/sql?details=true&planDescription=false"):
            ex_jobs = set(ex["successJobIds"]) | set(ex["failedJobIds"]) | set(ex["runningJobIds"])
            if not ex_jobs & job_ids:
                continue
            names = [n["nodeName"] for n in ex["nodes"]]
            if "MapInPandas" not in names:
                continue
            parse_jobs |= ex_jobs & job_ids
            for node in ex["nodes"]:
                for metric in node["metrics"]:
                    if node["nodeName"] == "MapInPandas" and metric["name"] in _PYTHON_METRICS:
                        pipeline[_PYTHON_METRICS[metric["name"]]] += parse_metric(metric["value"])
                    elif metric["name"] == "scan time":
                        pipeline["scan_s"] += parse_metric(metric["value"])
        parse_stages = {s for j in parse_jobs for s in stage_of_job[j]}
        for a in ran:
            if a["stageId"] in parse_stages:
                pipeline["tasks"] += a["numCompleteTasks"]
                pipeline["shuffle_write_bytes"] += a["shuffleWriteBytes"]
        out.update({f"pipeline.{k}": v for k, v in pipeline.items()})
        return out
