"""Per-layer metrics of a traced loop: the benchmark's spans and counters
joined with Spark's event log, per op, then averaged.

Time metrics (unit ``s``) average over every traced op. Count metrics
average over the first ``min_ops`` ops only, which every traced run
executes whatever the machine's speed, so two traced runs of one seed
report the same counts.
"""

import statistics

import eventlog

OPERATOR_CLASSES = ("lsh_cc", "decontaminate", "quantized_topk",
                    "cosine_topk", "chunk_split")

# span name -> metric
SPAN_METRICS = {
    "log": "log.snapshot_s", "reader": "reader.select_s",
    "df_build": "plan.df_build_s", "plan": "plan.s",
    "exec": "exec.collect_s", "write": "writer.write_s", "dml": "dml.s",
    "readback": "dml.readback_s", "operators": "operators.build_s",
}

# (name, unit, better)
PER_LAYER = (
    [("log.snapshot_s", "s", "lower"),
     ("log.commits_replayed", "count", "lower"),
     ("log.live_files", "count", "lower"),
     ("log.commit_bytes", "B", "lower"),
     ("log.checkpoint_bytes", "B", "lower"),
     ("reader.select_s", "s", "lower"),
     ("reader.files_selected_frac", "fraction", "lower"),
     ("reader.rows_scanned_per_row_returned", "count", "lower"),
     ("reader.bytes_scanned", "B", "lower"),
     ("plan.df_build_s", "s", "lower"),
     ("plan.s", "s", "lower"),
     ("exec.collect_s", "s", "lower")]
    + [(f"exec.{k}", "s" if k.endswith("_s") else
        ("B" if k.endswith("bytes") else "count"), "lower")
       for k in eventlog.TASK_FIELDS + ("jobs", "stages")]
    + [("exec.job_span_s", "s", "lower"),
       ("exec.driver_only_s", "s", "lower")]
    + [(f"exec.{m}.{k}", "s" if k == "task_s" else "count", "lower")
       for m in eventlog.MODULES for k in ("jobs", "task_s")]
    + [(f"py.{k}", "s" if k.endswith("_s") else
        ("B" if k.startswith("bytes") else "count"), "lower")
       for k in eventlog.PY_FIELDS]
    + [("writer.write_s", "s", "lower"),
       ("writer.bytes_written", "B", "lower"),
       ("index.files_per_write", "count", "lower"),
       ("index.rows_per_file", "count", "higher"),
       ("dml.s", "s", "lower"),
       ("dml.readback_s", "s", "lower"),
       ("dml.files_matched", "count", "lower"),
       ("dml.files_rewritten", "count", "lower"),
       ("dml.dv_files_written", "count", "lower"),
       ("dml.rows_rewritten_per_row_changed", "count", "lower"),
       ("dml.live_dv_files", "count", "lower"),
       ("operators.build_s", "s", "lower")]
    + [(f"operators.{c}_s", "s", "lower") for c in OPERATOR_CLASSES]
    + [("op.self_s", "s", "lower"),
       ("proc.jvm_rss_mb", "MB", "lower"),
       ("proc.py_rss_mb", "MB", "lower"),
       ("trace.overhead_frac", "fraction", "lower")]
)
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def parse_events(paths) -> dict:
    out = {}
    for path in paths:
        out.update(eventlog.parse_file(path))
    return out


def op_metrics(rec, ev) -> dict:
    """Metrics that apply to one traced op."""
    m = {}
    for span, (seconds, _own) in rec.layers.items():
        if span in SPAN_METRICS:
            m[SPAN_METRICS[span]] = seconds
    if "op" in rec.layers:
        m["op.self_s"] = rec.layers["op"][1]
    c = rec.counts
    for k in ("commits_replayed", "live_files", "commit_bytes",
              "checkpoint_bytes"):
        if k in c:
            m[f"log.{k}"] = c[k]
    if "files_selected" in c:
        m["reader.files_selected_frac"] = \
            c["files_selected"] / max(1, c["live_files"])
    if "bytes_selected" in c:
        m["reader.bytes_scanned"] = c["bytes_selected"]
    if "bytes_written" in c:
        m["writer.bytes_written"] = c["bytes_written"]
    if "files_added" in c:
        m["index.files_per_write"] = c["files_added"]
        m["index.rows_per_file"] = c["rows_added"] / max(1, c["files_added"])
    for k in ("files_matched", "files_rewritten", "dv_files_written",
              "live_dv_files"):
        if k in c:
            m[f"dml.{k}"] = c[k]
    if "rows_rewritten" in c:
        m["dml.rows_rewritten_per_row_changed"] = \
            c["rows_rewritten"] / max(1, rec.rows_changed)
    if rec.cls in OPERATOR_CLASSES:
        m[f"operators.{rec.cls}_s"] = rec.t
    for k in eventlog.TASK_FIELDS + ("jobs", "stages", "job_span_s"):
        m[f"exec.{k}"] = ev.get(k, 0)
    m["exec.driver_only_s"] = rec.t - ev.get("job_span_s", 0.0)
    mods = ev.get("modules", {})
    for mod in eventlog.MODULES:
        m[f"exec.{mod}.jobs"] = mods.get(mod, {}).get("jobs", 0)
        m[f"exec.{mod}.task_s"] = mods.get(mod, {}).get("task_s", 0.0)
    for k in eventlog.PY_FIELDS:
        m[f"py.{k}"] = ev.get(k, 0)
    if rec.kind == "read" and "rows_returned" in c:
        m["reader.rows_scanned_per_row_returned"] = \
            ev.get("input_records", 0) / max(1, c["rows_returned"])
    return m


def _is_time(name: str) -> bool:
    return UNITS[name] == "s"


def _mean_over(per_op, names):
    out = {}
    for name in names:
        vals = [m[name] for m in per_op if name in m]
        out[name] = statistics.fmean(vals) if vals else 0.0
    return out


def per_layer(traced, events: dict, untraced, min_ops: int, proc: dict):
    """(metric -> value for the result line, per-class breakdown)."""
    per_op = [op_metrics(r, events.get(r.group, {})) for r in traced]
    names = [n for n, _, _ in PER_LAYER
             if not n.startswith(("proc.", "trace."))]
    times = [n for n in names if _is_time(n)]
    counts = [n for n in names if not _is_time(n)]
    out = _mean_over(per_op, times)
    out.update(_mean_over(per_op[:min_ops], counts))
    # an upper bound: the untraced replay also reuses the plans and
    # generated code the traced pass compiled
    m = min(len(traced), len(untraced))
    out["trace.overhead_frac"] = (
        statistics.median(r.t for r in traced[:m])
        / statistics.median(r.t for r in untraced[:m]) - 1.0)
    out["proc.jvm_rss_mb"] = proc["jvm_rss_mb"]
    out["proc.py_rss_mb"] = proc["py_rss_mb"]
    classes = {}
    for r, mo in zip(traced, per_op):
        classes.setdefault(r.cls, []).append(mo)
    per_class = {c: {k: v for k, v in _mean_over(ms, names).items() if v}
                 for c, ms in classes.items()}
    return {n: out[n] for n, _, _ in PER_LAYER}, per_class
