"""Per-stage attribution from Spark's own status REST API.

The benchmark tags one action with a job group, and after the action has
finished it reads the group's jobs, stages and SQL executions from the
driver UI (``/api/v1/applications/<app>/...``). Nothing here runs inside
the program under test.

The Python stage (the OCR ``mapInArrow``) is found through the SQL plan:
the plan node's metrics carry ``(stage N.A: task T)`` annotations that name
the stage it ran in.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from datetime import datetime

_STAGE_REF = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")

# fields kept from each payload entry (the rest is not used)
_JOB_KEYS = ("jobId", "jobGroup", "status", "stageIds", "submissionTime",
             "completionTime")
_STAGE_KEYS = ("stageId", "attemptId", "status", "numTasks",
               "numCompleteTasks", "submissionTime", "firstTaskLaunchedTime",
               "completionTime", "executorRunTime", "executorCpuTime",
               "jvmGcTime", "inputBytes", "outputBytes", "shuffleReadBytes",
               "shuffleWriteBytes", "taskSummary")
_SQL_KEYS = ("id", "status", "description", "submissionTime", "duration",
             "nodes")


def is_python_node(name: str) -> bool:
    """Plan nodes that run Python workers (mapInArrow and its kin)."""
    return "Python" in name or "InArrow" in name or "InPandas" in name


class Rest:
    """Reader for the driver's status REST API (local UI port)."""

    def __init__(self, ui_url: str, app_id: str):
        port = ui_url.rsplit(":", 1)[1].strip("/")
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def snapshot(self, group: str, timeout_s: float = 30.0) -> dict:
        """Jobs, stages (with task-time quantiles) and SQL executions of
        job group ``group``, read once every one of them has finished."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            ids = {s for j in jobs for s in j["stageIds"]}
            stages = [s for s in self.get("/stages") if s["stageId"] in ids]
            sql = [e for e in self.get("/sql?details=true&planDescription=false"
                                       "&offset=0&length=100000")
                   if e.get("description") == group]
            done = (
                jobs
                and all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
                and all(s["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                        for s in stages)
                and all(e["status"] in ("COMPLETED", "FAILED") for e in sql)
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        for s in stages:
            if s["status"] == "COMPLETE":
                s["taskSummary"] = self.get(
                    f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                    "?quantiles=0.5,1.0"
                )
        return trim({"jobs": jobs, "stages": stages, "sql": sql})


def trim(snap: dict) -> dict:
    """Keep only the fields the metrics use (the stored trace stays small)."""
    def keep(d, keys):
        return {k: d[k] for k in keys if k in d}

    def node(n):
        return {"nodeName": n["nodeName"],
                "metrics": [m for m in n.get("metrics", [])
                            if _STAGE_REF.search(m["value"])]}

    sql = []
    for e in snap["sql"]:
        e = keep(e, _SQL_KEYS)
        e["nodes"] = [node(n) for n in e.get("nodes", [])
                      if is_python_node(n["nodeName"])]
        sql.append(e)
    stages = []
    for s in snap["stages"]:
        s = keep(s, _STAGE_KEYS)
        if "taskSummary" in s:
            s["taskSummary"] = {"executorRunTime":
                                s["taskSummary"]["executorRunTime"]}
        stages.append(s)
    return {"jobs": [keep(j, _JOB_KEYS) for j in snap["jobs"]],
            "stages": stages, "sql": sql}


def _ts(s: str) -> float:
    """Spark REST timestamp ('2026-10-17T02:59:33.816GMT') → epoch s."""
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def python_stage_ids(snap: dict) -> set[tuple[int, int]]:
    """(stageId, attemptId) of every stage a Python plan node ran in."""
    ids = set()
    for e in snap["sql"]:
        for n in e["nodes"]:
            if is_python_node(n["nodeName"]):
                for m in n["metrics"]:
                    ids.update((int(a), int(b))
                               for a, b in _STAGE_REF.findall(m["value"]))
    return ids


def _span(items) -> tuple[float, float]:
    """(first submission, last completion) of jobs or stages."""
    starts = [_ts(i["submissionTime"]) for i in items if i.get("submissionTime")]
    ends = [_ts(i["completionTime"]) for i in items if i.get("completionTime")]
    return (min(starts), max(ends)) if starts and ends else (0.0, 0.0)


def _exec_span(e: dict) -> tuple[float, float]:
    t = _ts(e["submissionTime"])
    return t, t + e["duration"] / 1e3


def group_span(snap: dict) -> tuple[float, float]:
    """Start and end of the whole action: its SQL executions (which
    include driver-side planning) and its jobs."""
    spans = [_span(snap["jobs"])] + [_exec_span(e) for e in snap["sql"]]
    return min(a for a, _ in spans), max(b for _, b in spans)


def pipeline_metrics(snap: dict, cores: int) -> dict:
    """``pipeline.*`` (the whole action) and ``ocr_stage.*`` metrics."""
    done = [s for s in snap["stages"] if s["status"] == "COMPLETE"]
    t0, t1 = group_span(snap)
    ocr_ids = python_stage_ids(snap)
    ocr = [s for s in done if (s["stageId"], s["attemptId"]) in ocr_ids]
    if not ocr:
        raise RuntimeError("no stage ran the Python (OCR) plan node")
    o0, o1 = _span(ocr)
    ocr_wall = o1 - o0
    run_s = sum(s["executorRunTime"] for s in ocr) / 1e3
    # task-time quantiles of the OCR stage with the most run time
    main = max(ocr, key=lambda s: s["executorRunTime"])
    p50, pmax = main["taskSummary"]["executorRunTime"]
    return {
        "pipeline.job_wall_s": t1 - t0,
        "pipeline.non_ocr_wall_s": (t1 - t0) - ocr_wall,
        "pipeline.stages": len(done),
        "pipeline.tasks": sum(s["numCompleteTasks"] for s in done),
        "pipeline.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in done) / 1e6,
        "pipeline.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in done) / 1e6,
        "pipeline.scan_mb": sum(s["inputBytes"] for s in done) / 1e6,
        "ocr_stage.wall_s": ocr_wall,
        "ocr_stage.executor_run_s": run_s,
        "ocr_stage.executor_cpu_s": sum(s["executorCpuTime"] for s in ocr) / 1e9,
        "ocr_stage.packing": run_s / (cores * ocr_wall) if ocr_wall else 0.0,
        "ocr_stage.tasks": sum(s["numCompleteTasks"] for s in ocr),
        "ocr_stage.task_p50_s": p50 / 1e3,
        "ocr_stage.task_max_s": pmax / 1e3,
        "ocr_stage.gc_s": sum(s["jvmGcTime"] for s in ocr) / 1e3,
    }


def checkpoint_phases(snap: dict) -> dict:
    """Split a ``run_resumable`` call's wall into plan / write / manifest:
    the SQL execution that runs the Python node is the results write;
    everything before it plans (fingerprints, completed buckets),
    everything after it writes the manifest."""
    execs = sorted(snap["sql"], key=lambda e: e["id"])
    write = [e for e in execs
             if any(is_python_node(n["nodeName"]) for n in e["nodes"])]
    if not write:
        raise RuntimeError("no SQL execution ran the Python (OCR) plan node")
    w0, w1 = _exec_span(write[0])
    t0, t1 = group_span(snap)
    return {
        "checkpoint.plan_s": w0 - t0,
        "checkpoint.write_s": w1 - w0,
        "checkpoint.manifest_s": t1 - w1,
    }
