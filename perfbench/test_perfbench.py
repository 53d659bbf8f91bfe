"""Fast checks of the benchmark's own logic (no Spark session).

    python3 -m pytest perfbench -q

The steadiness check itself is perfbench/steadiness.py; these tests pin
its arithmetic, the seeded sampling, the event-log reduction and that
BENCHMARK.json and run.py name the same workloads and metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
import steadiness  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_matches_run():
    spec = _spec()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (name, unit) for name, unit, _ in run.PER_LAYER
    ]
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads())
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_slots_hold_registered_keys_once():
    from parquet_playground_spark import registry

    registry.load_all()
    for slots in run.workloads().values():
        keys = [k for slot in slots for k in slot]
        assert len(keys) == len(set(keys))
        assert set(keys) <= set(registry.QUERIES)


def test_sample_is_a_function_of_the_seed():
    slots = run.workloads()["headline"]
    a, rng_a = run.pick_sample(slots, "headline", 5)
    b, rng_b = run.pick_sample(slots, "headline", 5)
    assert a == b
    assert rng_a.sample(a, len(a)) == rng_b.sample(b, len(b))
    assert all(k in slot for k, slot in zip(a, slots))
    samples = {tuple(run.pick_sample(slots, "headline", s)[0]) for s in range(20)}
    assert len(samples) > 1


def test_spread_and_drift():
    values = [10.0, 10.0, 11.0, 9.0, 10.0, 10.5, 9.5, 10.0, 10.0, 10.0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert steadiness.spread(values) == (q3 - q1) / med
    assert steadiness.worse_by(10.0, 11.0, "lower") == 0.1
    assert abs(steadiness.worse_by(1.0, 0.99, "higher") - 0.01) < 1e-12
    metrics = [
        {"name": "setup_s", "bound": 0.1, "better": "lower"},
        {"name": "batch_cpu_s", "bound": 0.1, "better": "lower"},
    ]
    steady = {"setup_s": [1.0, 5.0, 9.0, 2.0, 7.0], "batch_cpu_s": values[:5]}
    rows = steadiness.check([steady], metrics)
    assert [r["ok"] for r in rows] == [True, True]  # setup_s spread exempt
    slower = dict(steady, batch_cpu_s=[v * 1.2 for v in values[:5]])
    rows = steadiness.check([steady, slower], metrics)
    assert [r["ok"] for r in rows] == [True, False]


def test_eventlog_window(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1000,
         "Properties": {"spark.job.description": "p1.q:mat"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Submission Time": 1001}},
        {"Event": "SparkListenerTaskEnd", "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 1002, "Accumulables": [
             {"Name": eventlog.PY_BYTES_OUT, "Update": "70"},
             {"Name": eventlog.PY_BYTES_IN, "Update": "30"}]},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 2e8,
                          "JVM GC Time": 10, "Disk Bytes Spilled": 4,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
                          "Input Metrics": {"Bytes Read": 100},
                          "Output Metrics": {"Bytes Written": 50}}},
        {"Event": "SparkListenerTaskEnd",
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Launch Time": 5000}, "Task Metrics": {}},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"timestamp": "1970-01-01T00:00:01.003Z", "runId": "r",
                      "durationMs": {"triggerExecution": 400},
                      "stateOperators": [{"numRowsTotal": 7, "commitTimeMs": 20}]}},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"timestamp": "1970-01-01T00:00:01.004Z", "runId": "r",
                      "durationMs": {"triggerExecution": 600},
                      "stateOperators": [{"numRowsTotal": 9, "commitTimeMs": 30}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"},
    ]
    path = tmp_path / "events"
    path.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in lines))
    records = eventlog.read(str(path))
    assert len(records) == 6
    w = eventlog.window(records, 1000, 2000)
    assert (w["jobs"], w["stages"], w["tasks"], w["failed_tasks"]) == (1, 1, 1, 0)
    assert (w["executor_run_s"], w["executor_cpu_s"], w["gc_s"]) == (0.5, 0.2, 0.01)
    assert (w["shuffle_read_bytes"], w["shuffle_write_bytes"], w["spill_bytes"]) == (3, 3, 4)
    assert (w["input_bytes"], w["output_bytes"]) == (100, 50)
    assert (w["python_bytes_out"], w["python_bytes_in"]) == (70, 30)
    assert (w["stream_batches"], w["stream_batch_s"], w["stream_state_rows"]) == (2, 0.5, 9)
    assert w["stream_commit_s"] == 0.05
    assert eventlog.window(records, 4000, 6000)["failed_tasks"] == 1
    assert eventlog.jobs_by_description(records) == {"p1.q:mat": 1}


def test_trace_overhead_prefers_same_seed():
    history = [
        {"trace": 0, "seed": 1, "metrics": {"batch_cpu_s": 20.0}, "recorded": {"batch_wall_s": 10.0}},
        {"trace": 0, "seed": 2, "metrics": {"batch_cpu_s": 40.0}, "recorded": {"batch_wall_s": 20.0}},
        {"trace": 1, "seed": 1, "metrics": {"batch_cpu_s": 22.0}, "recorded": {"batch_wall_s": 11.0}},
    ]
    o = run.trace_overhead(history, 1, {"batch_cpu_s": 21.0}, {"batch_wall_s": 11.0})
    assert o["same_seed"] and o["untraced_batch_wall_s"] == 10.0
    assert abs(o["wall_overhead_frac"] - 0.1) < 1e-12
    assert abs(o["cpu_overhead_frac"] - 0.05) < 1e-12
    o = run.trace_overhead(history, 3, {"batch_cpu_s": 30.0}, {"batch_wall_s": 15.0})
    assert o["untraced_runs"] == 2 and o["untraced_batch_cpu_s"] == 30.0
    assert run.trace_overhead([], 1, {"batch_cpu_s": 1.0}, {"batch_wall_s": 1.0}) is None


def test_end_to_end_costs_each_key_at_its_cheaper_warm_run():
    def query(name, start, latency, cpu, jit, ok=True):
        return run.QueryRun(name, 1, start, end=start + latency, cpu=cpu, jit=jit, ok=ok)

    cold = run.PassRun(0, 0.0, 10.0, [query("a", 0.0, 6.0, 30.0, 20.0), query("b", 6.0, 4.0, 9.0, 5.0)])
    warm = [
        run.PassRun(1, 10.0, 14.0, [query("a", 10.0, 3.0, 9.0, 3.0), query("b", 13.0, 1.0, 2.0, 0.0),
                                    query("c", 14.0, 1.0, 5.0, 0.0, ok=False)]),
        run.PassRun(2, 14.0, 17.0, [query("b", 14.0, 1.0, 2.5, 0.5), query("a", 15.0, 2.0, 4.0, 0.0),
                                    query("c", 17.0, 1.0, 3.0, 0.0)]),
    ]
    assert run.key_costs(warm) == {"a": 4.0, "b": 2.0, "c": 3.0}  # JIT out, failed run out
    metrics, recorded = run.end_to_end(8.0, cold, warm, attempted=8, failed=1)
    assert metrics["cold_pass_cpu_s"] == 39.0  # the cold pass keeps its JIT
    assert metrics["batch_cpu_s"] == 9.0
    assert recorded["query_cpu_p50_s"] == 3.0
    assert metrics["ok_frac"] == 7 / 8
    assert (recorded["cold_pass_s"], recorded["batch_wall_s"]) == (10.0, 3.5)
    assert [name for name, _ in run.END_TO_END] == list(metrics)


def test_process_tree_cpu(tmp_path):
    total, jit = run.tree_cpu_s(os.getpid(), [])
    assert total > 0 and jit == 0
    assert run._stat_cpu_s("/proc/0/stat") == 0.0  # no such process
    # pid (comm) state ppid ... utime stime cutime cstime: fields 14-17
    stat = tmp_path / "stat"
    stat.write_text("7 (C2 Compiler) S 1 1 1 0 -1 0 0 0 0 0 300 100 20 10 20 0\n")
    tick = run._TICK_S
    assert abs(run._stat_cpu_s(str(stat)) - 430 * tick) < 1e-9
    assert abs(run._stat_cpu_s(str(stat), children=False) - 400 * tick) < 1e-9
