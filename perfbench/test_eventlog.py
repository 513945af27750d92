"""Self-tests of the event-log attribution and the span arithmetic.

``testdata/events_small.jsonl`` is a real Spark 4.1 event log, trimmed
to the fields the parser reads, of four traced ops: an indexed append
(perfbench-op-0), a deletion-vector DELETE with its read-back (op-1),
LSH dedup into connected components (op-2) and an int8 top-k that runs a
``mapInArrow`` kernel (op-3). Run: ``python3 -m pytest perfbench -q``.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import spans  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata",
                   "events_small.jsonl")


def _parsed():
    return eventlog.parse_file(LOG)


def test_jobs_map_to_ops_by_group():
    ops = _parsed()
    assert sorted(ops) == [f"perfbench-op-{i}" for i in range(4)]
    assert [ops[f"perfbench-op-{i}"]["jobs"] for i in range(4)] \
        == [10, 8, 21, 3]


def test_every_task_of_a_grouped_stage_is_counted_once():
    grouped, tasks = set(), 0
    with open(LOG, encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh]
    for ev in events:
        if ev["Event"] == "SparkListenerStageSubmitted" \
                and ev["Properties"].get("spark.jobGroup.id"):
            grouped.add(ev["Stage Info"]["Stage ID"])
    tasks = sum(1 for ev in events if ev["Event"] == "SparkListenerTaskEnd"
                and ev["Stage ID"] in grouped)
    assert sum(op["tasks"] for op in _parsed().values()) == tasks == 115


def test_append_spans_writer_index_and_jvm_modules():
    mods = _parsed()["perfbench-op-0"]["modules"]
    assert set(mods) == {"writer", "index", "jvm"}
    assert (mods["writer"]["jobs"], mods["index"]["jobs"],
            mods["jvm"]["jobs"]) == (5, 3, 2)


def test_dedup_op_spans_operators_query_and_jvm():
    op = _parsed()["perfbench-op-2"]
    assert set(op["modules"]) == {"operators", "query", "jvm"}
    module_task_s = sum(m["task_s"] for m in op["modules"].values())
    assert abs(module_task_s - op["task_s"]) < 1e-9


def test_dml_op_attributes_its_own_stages_and_the_readback():
    mods = _parsed()["perfbench-op-1"]["modules"]
    assert set(mods) == {"dml", "query"}


def test_python_sql_metrics_of_the_arrow_kernel():
    op = _parsed()["perfbench-op-3"]
    assert op["rows_received"] == 160        # 4 queries x k=10, 4 tasks
    assert op["bytes_sent"] == 553_888
    assert op["run_s"] > 0
    assert _parsed()["perfbench-op-2"]["rows_received"] == 0


def test_job_span_is_the_union_of_job_intervals():
    for op in _parsed().values():
        assert 0 < op["job_span_s"] < 60
    assert eventlog._union_seconds([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4


def test_module_of_call_sites():
    site = "collect at /x/qbeast_spark_spark/index/analyzer.py:123"
    assert eventlog.module_of(site) == "index"
    assert eventlog.module_of(
        "collect at /x/qbeast_spark_spark/sources/metadata.py:9") == "log"
    assert eventlog.module_of(
        "toPandas at /x/qbeast_spark_spark/core/cube.py:9") == "other"
    assert eventlog.module_of("collect at /c/perfbench/workloads.py:70") \
        == "query"
    assert eventlog.module_of("count at NativeMethodAccessorImpl.java:0") \
        == "jvm"


def test_self_time_subtracts_children():
    tracer = spans.Tracer(True)
    with tracer.span("op") as root:
        with tracer.span("log"):
            time.sleep(0.02)
        with tracer.span("exec"):
            time.sleep(0.03)
    times = spans.layer_times(root)
    own = times["op"][1]
    assert abs(times["op"][0] - own - times["log"][0] - times["exec"][0]) \
        < 1e-9
    assert own < 0.02


def test_disabled_tracer_records_nothing():
    tracer = spans.Tracer(False)
    with tracer.span("op") as root:
        pass
    assert root is None
