"""Attribute Spark's event log to benchmark ops and repo modules.

Jobs and stages are matched to ops by the job group the traced loop sets
before each op (``spark.jobGroup.id`` in the stage properties). Each
stage is matched to a module by its PySpark call site, e.g.
``collect at .../qbeast_spark_spark/index/analyzer.py:123``; a stage
whose call site is the benchmark's own file is the op's final query
(``query``), and one with no Python call site at all is ``jvm``.
Task metrics come from ``SparkListenerTaskEnd``; Python worker metrics
from the SQL metrics of plan nodes that run Python (their accumulator
ids are read from the SQL execution plan events).
"""

import json
import re
from collections import defaultdict

# module path under qbeast_spark_spark/ -> layer
MODULE_LAYERS = (
    ("sources/log", "log"), ("sources/metadata", "log"),
    ("sources/reader", "reader"), ("sources/predicates", "reader"),
    ("sources/pyds", "pyds"),
    ("index/", "index"),
    ("sources/writer", "writer"),
    ("sources/dml", "dml"), ("sources/deletion_vectors", "dml"),
    ("operators/", "operators"),
)
MODULES = tuple(dict.fromkeys(layer for _, layer in MODULE_LAYERS)) \
    + ("other", "query", "jvm")

_REPO_SITE = re.compile(r"qbeast_spark_spark/([\w/]+)\.py:\d+")
_BENCH_SITE = re.compile(r"perfbench/\w+\.py:\d+")

TASK_FIELDS = ("tasks", "task_s", "task_cpu_s", "gc_s", "input_bytes",
               "input_records", "shuffle_write_bytes", "shuffle_read_bytes",
               "shuffle_records", "output_bytes", "spill_bytes",
               "failed_tasks")
# "time to initialize Python workers" is left out: Spark 4.1 reports a
# reused worker's age there (seconds for a 0.3 s task), not work done.
PY_METRICS = {
    "time to start Python workers": ("boot_s", 1e-3),
    "time to run Python workers": ("run_s", 1e-3),
    "data sent to Python workers": ("bytes_sent", 1),
    "data returned from Python workers": ("bytes_received", 1),
}
PY_FIELDS = tuple(v[0] for v in PY_METRICS.values()) + ("rows_received",)


def module_of(call_site: str) -> str:
    """Module (layer) name of a stage call site."""
    m = _REPO_SITE.search(call_site)
    if m:
        path = m.group(1)
        for prefix, layer in MODULE_LAYERS:
            if path.startswith(prefix):
                return layer
        return "other"
    return "query" if _BENCH_SITE.search(call_site) else "jvm"


def _python_accumulators(plan: dict, out: dict) -> None:
    """Collect {accumulator id: (field, scale)} for plan nodes that run
    Python, including their output row counts."""
    metrics = plan.get("metrics", [])
    if any(m["name"] in PY_METRICS for m in metrics):
        for m in metrics:
            if m["name"] in PY_METRICS:
                out[m["accumulatorId"]] = PY_METRICS[m["name"]]
            elif m["name"] == "number of output rows":
                out[m["accumulatorId"]] = ("rows_received", 1)
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _task_values(ev: dict) -> dict:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    failed = ev.get("Task End Reason", {}).get("Reason") != "Success"
    return {
        "tasks": 1,
        "task_s": tm.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": (sr.get("Local Bytes Read", 0)
                               + sr.get("Remote Bytes Read", 0)),
        "shuffle_records": sw.get("Shuffle Records Written", 0),
        "output_bytes": tm.get("Output Metrics", {}).get("Bytes Written", 0),
        "spill_bytes": (tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)),
        "failed_tasks": int(failed),
    }


def _union_seconds(intervals) -> float:
    total, reach = 0.0, None
    for lo, hi in sorted(intervals):
        if reach is None or lo > reach:
            total += hi - lo
            reach = hi
        elif hi > reach:
            total += hi - reach
            reach = hi
    return total


def parse(lines) -> dict:
    """Per job group: {"jobs", "stages", "job_span_s", task fields,
    python fields, "modules": {module: {"jobs", "task_s"}}}.

    ``lines`` is an iterable of event-log JSON lines."""
    jobs = {}                      # job id -> [group, submit ms, end ms]
    job_stages, active = {}, set()
    stage_group, stage_module = {}, {}
    tasks = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    py_accs = {}
    task_accs = []                 # (stage id, [(acc id, update)])
    job_modules = defaultdict(set)
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = [props.get("spark.jobGroup.id"),
                                  ev["Submission Time"], None]
            job_stages[ev["Job ID"]] = set(ev.get("Stage IDs", []))
            active.add(ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev["Completion Time"]
            active.discard(ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info, props = ev["Stage Info"], ev.get("Properties") or {}
            sid = info["Stage ID"]
            stage_group[sid] = props.get("spark.jobGroup.id")
            # the Python call site of the action, else the stage's own
            mod = module_of(props.get("callSite.short", ""))
            if mod == "jvm":
                mod = module_of(info["Stage Name"])
            stage_module[sid] = mod
            # the stage runs for the newest active job that lists it
            owners = [j for j in active if sid in job_stages[j]]
            if owners:
                job_modules[max(owners)].add(stage_module[sid])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            vals = _task_values(ev)
            for k, v in vals.items():
                tasks[sid][k] += v
            info = ev.get("Task Info") or {}
            accs = [(a["ID"], a.get("Update", 0))
                    for a in info.get("Accumulables", [])
                    if a.get("Metadata") == "sql"]
            if accs:
                task_accs.append((sid, accs))
        elif kind.endswith("SparkListenerSQLExecutionStart") \
                or kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_accs)

    out = defaultdict(lambda: dict(
        {"jobs": 0, "stages": 0, "job_intervals": []},
        **dict.fromkeys(TASK_FIELDS, 0), **dict.fromkeys(PY_FIELDS, 0),
        modules=defaultdict(lambda: {"jobs": 0, "task_s": 0.0})))
    for job_id, (group, t0, t1) in jobs.items():
        if group is None:
            continue
        rec = out[group]
        rec["jobs"] += 1
        if t1 is not None:
            rec["job_intervals"].append((t0 / 1e3, t1 / 1e3))
    # a job counts once for each module its stages ran under
    for job_id, mods in job_modules.items():
        group = jobs.get(job_id, [None])[0]
        if group is not None:
            for mod in mods:
                out[group]["modules"][mod]["jobs"] += 1
    for sid, group in stage_group.items():
        if group is None:
            continue
        rec = out[group]
        rec["stages"] += 1
        for k, v in tasks[sid].items():
            rec[k] += v
        rec["modules"][stage_module[sid]]["task_s"] += tasks[sid]["task_s"]
    for sid, accs in task_accs:
        group = stage_group.get(sid)
        if group is None:
            continue
        for acc_id, update in accs:
            field = py_accs.get(acc_id)
            if field is not None:
                out[group][field[0]] += float(update) * field[1]
    result = {}
    for group, rec in out.items():
        rec["job_span_s"] = _union_seconds(rec.pop("job_intervals"))
        rec["modules"] = {m: dict(v) for m, v in rec["modules"].items()}
        result[group] = rec
    return result


def parse_file(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)
