"""The event-log read-back: a small synthetic log plus a span list must
turn into the named per-layer metrics."""

from run import SPARK_FIELDS, layer_metrics, per_layer_units
from spans import Span, Tracer, harvest, layer
from workloads import Outcome

RUN = "r1"
T0 = 1_000.0


def _job(job_id, group, t, stages, execution=None):
    props = {"spark.jobGroup.id": f"{RUN}:{group}"}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": int(t * 1000), "Stage IDs": stages, "Properties": props}


def _task(stage, cpu_ns, run_ms, *, read=0, written=0, shuffle=0, spill=0, ok=True,
          storage=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Executor Metrics": {"OnHeapStorageMemory": storage},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": written},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill,
        },
    }


def _spans():
    close = Span("close", T0, T0 + 10.0, None, RUN, f"{RUN}:close")
    tr = Tracer(RUN)
    tr.spans.append(close)
    tr.add_children(close, {"dq_sweep": 6.0, "fact_write": 3.0})
    tr.spans.append(Span("queries", T0 + 20, T0 + 24, None, RUN, f"{RUN}:queries"))
    tr.spans.append(Span("q1", T0 + 20, T0 + 22, "queries", RUN, f"{RUN}:queries/q1"))
    return tr.spans


def _events():
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "time": int((T0 + 1.0) * 1000)},
        _job(0, "close", T0 + 1.5, [0], execution=0),      # in dq_sweep
        _task(0, 2_000_000_000, 2_500, read=100, shuffle=40),
        _task(0, 1_000_000_000, 1_500, read=50, ok=False),
        _job(1, "close", T0 + 7.0, [1, 2]),                 # in fact_write
        _task(1, 500_000_000, 800, written=70, spill=9, storage=3 * 2**20),
        _task(2, 500_000_000, 400, written=30),
        _job(2, "queries/q1", T0 + 20.5, [3]),
        _task(3, 100_000_000, 200),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 3, "Accumulables": [
                {"Name": "data sent to Python workers", "Value": "1000"},
                {"Name": "data returned from Python workers", "Value": "234"},
                {"Name": "number of output rows", "Value": "5"}]}},
        _job(3, "someone-else", T0 + 3.0, [4]),             # not ours
        _task(4, 9_000_000_000, 9_000, read=10**9),
    ]


def test_jobs_land_in_the_child_span_of_their_window():
    h = harvest(_events(), _spans())
    dq = h["paths"]["close/dq_sweep"]
    assert dq["jobs"] == 1
    assert dq["task_cpu_s"] == 3.0
    assert dq["input_bytes"] == 150 and dq["shuffle_write_bytes"] == 40
    assert abs(dq["planning_s"] - 0.5) < 1e-9
    fw = h["paths"]["close/fact_write"]
    assert fw["output_bytes"] == 100 and fw["spill_bytes"] == 9
    assert h["failed_tasks"] == 1
    assert h["peak_storage_mb"] == 3.0
    # the job from another group is not counted anywhere
    assert sum(r["input_bytes"] for r in h["paths"].values()) == 150


def test_layer_rolls_up_children_and_divides_busy_time_by_cores():
    h = harvest(_events(), _spans())
    q = layer(h, "queries", cores=4)
    assert q["py_bytes"] == 1234
    assert abs(q["core_busy"] - 0.2 / (4.0 * 4)) < 1e-12
    close = layer(h, "close", cores=4)
    assert abs(close["task_cpu_s"] - 4.0) < 1e-9
    assert abs(close["core_busy"] - 5.2 / (10.0 * 4)) < 1e-12


def test_per_layer_metrics_are_named_and_complete():
    out = Outcome()
    out.layers.update({"pipeline.dq_sweep_s": 6.0, "session.start_s": 5.0})
    queries = ("q1",)
    values = layer_metrics(out, "close_csv", queries, harvest(_events(), _spans()), cores=4)
    units = per_layer_units(queries)
    assert list(values) == list(units)
    assert values["pipeline.dq_sweep_s"] == 6.0
    assert values["spark.dq_sweep.task_cpu_s"] == 3.0
    assert values["spark.fact_write.output_bytes"] == 100
    assert values["spark.queries.py_bytes"] == 1234
    assert values["spark.failed_tasks"] == 1
    assert values["query.q1_s"] == 0.0
    assert all(f"spark.dq_sweep.{f}" in values for f, _ in SPARK_FIELDS)


def test_benchmark_json_lists_exactly_the_emitted_metrics():
    import json
    import os

    from workloads import QUERY_SET

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = per_layer_units(QUERY_SET)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(units.items())
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "cold_s", "warm_s"]
