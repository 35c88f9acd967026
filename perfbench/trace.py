"""Per-superstep attribution of Spark work, read from the event log.

A traced run tags every Spark job with the ``bench.span`` local property
(``{op}:step{n}``, set from the public ``post_superstep`` hook, or
``{op}:finalize`` once the call returns) and writes an uncompressed
event log.  After the session stops, the log is folded per span: jobs,
completed stages, tasks, the union of job intervals, and the stage
accumulables for shuffle, spill, GC, executor CPU and the Python
workers' bytes and time.
"""

from __future__ import annotations

import glob
import json
import os
import re

SPAN_KEY = "bench.span"

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    # the default zstd codec needs a reader this benchmark does not have
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# stage accumulable -> (record key, scale to the reported unit)
_ACCUMS = {
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "data sent to Python workers": ("python_sent_mb", 1 / 2**20),
    "data returned from Python workers": ("python_returned_mb", 1 / 2**20),
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
}
FIELDS = ("jobs", "stages", "tasks", "job_busy_s") + tuple(k for k, _ in _ACCUMS.values())


def _number(v) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    m = re.match(r"\s*(-?[\d.]+)", str(v))
    return float(m.group(1)) if m else 0.0


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def _event_files(log_dir: str) -> list[str]:
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))]
    return sorted(files, key=lambda f: [int(x) if x.isdigit() else x
                                        for x in re.split(r"(\d+)", os.path.basename(f))])


def spans_from_eventlog(log_dir: str) -> dict[str, dict[str, float]]:
    """span -> summed Spark work of the jobs carrying that span tag."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_KEY)
                    jobs[ev["Job ID"]] = {"span": span, "start": ev["Submission Time"], "end": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {}
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in _ACCUMS:
                            key, scale = _ACCUMS[a["Name"]]
                            acc[key] = acc.get(key, 0.0) + _number(a.get("Value", 0)) * scale
                    stages[info["Stage ID"]] = {"tasks": info.get("Number of Tasks", 0), **acc}
    out: dict[str, dict[str, float]] = {}
    intervals: dict[str, list] = {}
    for jid, job in jobs.items():
        if job["span"] is None:
            continue
        rec = out.setdefault(job["span"], dict.fromkeys(FIELDS, 0.0))
        rec["jobs"] += 1
        if job["end"] is not None:
            intervals.setdefault(job["span"], []).append((job["start"], job["end"]))
    for sid, st in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is None or job["span"] is None:
            continue
        rec = out[job["span"]]
        rec["stages"] += 1
        for k, v in st.items():
            rec[k] += v
    for span, iv in intervals.items():
        out[span]["job_busy_s"] = _union_seconds(iv)
    return out
