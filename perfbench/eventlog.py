"""Per-job totals from an uncompressed Spark event log (JSON lines).

Each Spark job is keyed by its job description (``setJobDescription``), which
the traced run sets to the span name around every layer call.  A job's
figures are the sums of its completed stages' accumulables: executor CPU and
run time, GC time, shuffle bytes written, spill, and the Python SQL metrics
("time to run Python workers", "data sent to Python workers", ...).  A stage
that several jobs list counts once, for the first job that ran it.
"""

import json
import os

# accumulable name -> (field, scale to the reported unit)
STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 2**-20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**-20),
    # Spark 4.1 records the Python worker timings in milliseconds
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("to_python_mb", 2**-20),
    "data returned from Python workers": ("from_python_mb", 2**-20),
}
FIELDS = sorted({field for field, _ in STAGE_METRICS.values()}
                | {"tasks", "stages"})


def _number(value) -> float:
    if isinstance(value, (int, float)):
        return float(value)
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def log_path(event_dir: str) -> str:
    """The one application log under ``spark.eventLog.dir``."""
    entries = [e for e in os.listdir(event_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log in {event_dir}, found "
                         f"{entries}")
    return os.path.join(event_dir, entries[0])


def read_events(path: str):
    """Events of a single-file log, or of a rolling log directory
    (``eventlog_v2_<app>/events_<n>_<app>``, read in ``n`` order)."""
    if os.path.isdir(path):
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for name in files:
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def job_starts(path: str) -> dict:
    """``{description: [submission time in epoch ms, ...]}``."""
    out = {}
    for event in read_events(path):
        if event.get("Event") == "SparkListenerJobStart":
            desc = (event.get("Properties") or {}).get(
                "spark.job.description") or ""
            out.setdefault(desc, []).append(event.get("Submission Time", 0))
    return out


def job_totals(path: str) -> dict:
    """``{description: {"jobs": n, "stages": n, "tasks": n, <field>: x}}``
    over every job in the log; jobs without a description are listed under
    the empty string."""
    stage_owner = {}   # stage id -> job description (first job wins)
    stages = {}        # stage id -> Stage Info of the completed attempt
    jobs = {}
    for event in read_events(path):
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            jobs.setdefault(desc, 0)
            jobs[desc] += 1
            for stage_id in event.get("Stage IDs", []):
                stage_owner.setdefault(stage_id, desc)
        elif kind == "SparkListenerStageCompleted":
            info = event["Stage Info"]
            if "Failure Reason" not in info:
                stages[info["Stage ID"]] = info
    totals = {desc: {"jobs": n, **{f: 0.0 for f in FIELDS}}
              for desc, n in jobs.items()}
    for stage_id, info in stages.items():
        desc = stage_owner.get(stage_id, "")
        row = totals.setdefault(desc, {"jobs": 0, **{f: 0.0 for f in FIELDS}})
        row["stages"] += 1
        row["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            spec = STAGE_METRICS.get(acc.get("Name"))
            if spec is not None:
                field, scale = spec
                row[field] += _number(acc.get("Value")) * scale
    return totals


def sum_totals(totals: dict, descriptions) -> dict:
    """Field-wise sum over the named job descriptions."""
    out = {"jobs": 0, **{f: 0.0 for f in FIELDS}}
    for desc in descriptions:
        for key, value in totals.get(desc, {}).items():
            out[key] += value
    return out
