"""Unit tests of the benchmark's own machinery (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import os
from collections import Counter

import pytest

from perfbench import common, serve, trace
from perfbench.datagen import VOCAB

DATA = os.path.join(os.path.dirname(__file__), "data")


def _serve_stream(seed: int, n: int) -> list:
    return list(itertools.islice(serve.requests(seed, VOCAB, ["S001", "S002"]), n))


def test_generators_are_deterministic_for_a_seed():
    assert _serve_stream(7, 80) == _serve_stream(7, 80)
    assert _serve_stream(7, 80) != _serve_stream(8, 80)


def test_every_block_has_the_same_mix():
    block = len(serve.BLOCK)
    for seed in (1, 2):
        kinds = [k for k, _ in _serve_stream(seed, 3 * block)]
        for i in range(3):
            assert Counter(kinds[i * block:(i + 1) * block]) == Counter(serve.BLOCK)


def test_repeats_are_exact_copies_of_earlier_searches():
    seen = []
    for kind, params in _serve_stream(5, 200):
        if kind == "repeat":
            assert params["arguments"] in seen
        elif params["name"] == "recall_search":
            seen.append(params["arguments"])


def test_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        common.percentile(list(range(19)), 0.5)
    assert common.percentile(list(range(20)), 0.5) == 9
    with pytest.raises(ValueError):
        common.percentile(list(range(199)), 0.95)
    assert common.percentile(list(range(200)), 0.95) == 189


def test_latency_detail_covers_every_timed_op():
    cold, warm = [3.0] * 10, [0.5] * 10 + [0.7] * 11
    d = common.latency_detail(cold + warm)
    assert d["latency_p50_ms"] == pytest.approx(700.0)
    assert d["latency_mean_ms"] == pytest.approx(1000.0 * sum(cold + warm) / 31)
    assert d["timed_ops"] == 31


def test_op_metrics_report_mean_cpu_per_op():
    m = common.op_metrics([0.2, 0.4, 0.9], 2.0)
    assert m["cpu_ms_per_op"] == {"value": pytest.approx(500.0), "unit": "ms"}
    assert m["setup_s"] == {"value": 2.0, "unit": "s"}


def test_tree_cpu_counts_a_reaped_child():
    import subprocess
    import sys

    before = common.tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert common.tree_cpu_s(os.getpid()) - before >= 0.45


def test_self_time_subtracts_the_union_of_children():
    spans = [
        trace.Span(1, "root", 0.0, 10.0, None, "op"),
        trace.Span(2, "a", 1.0, 4.0, 1, "op"),
        trace.Span(3, "b", 3.0, 6.0, 1, "op"),  # overlaps a: union is 1..6
        trace.Span(4, "a.child", 2.0, 3.0, 2, "op"),
        trace.Span(5, "late", 9.5, 12.0, 1, "op"),  # clipped to the parent
    ]
    selfs = trace.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 5.0 - 0.5)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(1.0)


def test_tracer_records_parents_and_ops():
    tracer = trace.Tracer()
    inner = tracer.wrap(lambda: 1, "inner")
    tracer.op = "op-1"
    assert tracer.call("outer", inner) == 1
    outer = next(s for s in tracer.spans if s.name == "outer")
    child = next(s for s in tracer.spans if s.name == "inner")
    assert child.parent == outer.sid and outer.parent is None
    assert {s.op for s in tracer.spans} == {"op-1"}


def test_event_log_parser_on_a_captured_log():
    """The fixture is a real uncompressed event log: one ungrouped count,
    then one grouped count under job group ``op-1``, with RDD and
    accumulator detail cut for size."""
    events = trace.read_event_log(DATA)
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
            and e["Properties"].get("spark.jobGroup.id") == "op-1"]
    stages = {sid for j in jobs for sid in j["Stage IDs"]}
    ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]
    assert len(jobs) == 1 and len(stages) == 2 and ends

    stats = trace.spark_stats(events, {"op-1": (0.0, 0.0)})
    metrics = [e["Task Metrics"] for e in ends]
    cpu = sum(m["Executor CPU Time"] for m in metrics) / 1e6
    run = sum(m["Executor Run Time"] for m in metrics)
    gc = sum(m["JVM GC Time"] for m in metrics)
    written = sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"] for m in metrics)
    read = sum(m["Shuffle Read Metrics"]["Local Bytes Read"]
               + m["Shuffle Read Metrics"]["Remote Bytes Read"] for m in metrics)
    assert stats["spark.jobs"] == 1
    assert stats["spark.stages"] == 2
    assert stats["spark.tasks"] == len(ends)
    assert stats["spark.executor_cpu_ms"] == pytest.approx(cpu) and cpu > 0
    assert stats["spark.executor_run_ms"] == run > 0
    assert stats["spark.gc_ms"] == gc
    assert stats["spark.shuffle_write_mb"] * trace.MB == pytest.approx(written) and written > 0
    assert stats["spark.shuffle_read_mb"] * trace.MB == pytest.approx(read) and read > 0
    assert stats["spark.task_wait_ms"] >= 0
    # jobs of other ops, or outside every op's window, are not counted
    assert trace.spark_stats(events, {"op-2": (0.0, 0.0)}) == {}


class _FakeContext:
    """The two SparkContext calls ``op_scope`` makes, on a dict."""

    def __init__(self):
        self.props: dict = {}

    def setJobGroup(self, group, description):  # noqa: N802 - Spark's name
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description

    def setLocalProperty(self, key, value):  # noqa: N802 - Spark's name
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_op_scope_clears_the_job_group_on_exit():
    tracer = trace.Tracer()
    spark = type("Spark", (), {"sparkContext": _FakeContext()})()
    with trace.op_scope(tracer, spark, "op-1"):
        assert tracer.op == "op-1"
        assert spark.sparkContext.props["spark.jobGroup.id"] == "op-1"
    assert tracer.op is None and spark.sparkContext.props == {}
    with pytest.raises(RuntimeError), trace.op_scope(tracer, spark, "op-2"):
        raise RuntimeError
    assert tracer.op is None and spark.sparkContext.props == {}


def _job(job_id: int, group: str | None, submitted_ms: int) -> list[dict]:
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": [job_id],
         "Submission Time": submitted_ms, "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": job_id, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 10 ** job_id}},
    ]


def test_jobs_outside_every_op_are_left_out():
    """A job whose group is not an op (the calibration probe after the last
    op, say) counts only if it was submitted inside an op's window."""
    events = (
        _job(0, "op-1", 5_000)  # the op's own job
        + _job(1, None, 1_500)  # an ungrouped job inside op-1's window
        + _job(2, None, 9_000)  # after the last op
        + _job(3, "probe", 9_500)  # grouped, but not an op, after the last op
    )
    stats = trace.spark_stats(events, {"op-1": (1.0, 2.0)})
    assert stats["spark.jobs"] == 2
    assert stats["spark.executor_run_ms"] == 1 + 10


def test_batch_oracle_rechecks_a_result_that_differs():
    import pandas as pd

    from perfbench import batch

    oracle = batch.Oracle.__new__(batch.Oracle)
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    oracle.results, oracle.passed = {"q": want}, {}
    assert oracle.check("q", want.copy()) is None
    assert oracle.check("q", want.copy()) is None  # identical to a passed result
    assert "VALUES" in oracle.check("q", want.assign(v=[0.5, 2.5]))
    assert "ROWCOUNT" in oracle.check("q", want.head(1))


def test_layer_metrics_report_every_name_per_op():
    tracer = trace.Tracer()
    tracer.op = "1"
    tracer.call("mcp.recall_search", lambda: tracer.call("engine.recall", lambda: None))
    tracer.op = "2"
    tracer.call("mcp.validate_branch", lambda: None)
    out = trace.layer_metrics(tracer, {"1": (0.0, 1e12), "2": (0.0, 1e12)})
    assert list(out) == list(trace.PER_LAYER)
    recall = tracer.spans[1]
    assert out["mcp.recall_search_ms"]["value"] == pytest.approx(
        (recall.end - recall.start) * 1000.0 / 2
    )
    assert out["sources.deltalog.delta_merge_ms"] == {"value": 0.0, "unit": "ms"}


def test_replay_slice_counts_checkpoint_and_later_commits(tmp_path):
    log = tmp_path / "_delta_log"
    log.mkdir()
    for v in range(7):
        (log / f"{v:020d}.json").write_bytes(b"x" * (10 + v))
    (log / f"{5:020d}.checkpoint.parquet").write_bytes(b"c" * 1000)
    (log / "_last_checkpoint").write_text("{}")
    assert trace.replay_slice_mb(str(tmp_path), 3) * trace.MB == sum(10 + v for v in range(4))
    assert trace.replay_slice_mb(str(tmp_path)) * trace.MB == 1000 + 16
    assert trace.replay_slice_mb(str(tmp_path), 5) * trace.MB == 1000


def test_benchmark_json_names_what_the_runs_report():
    import json

    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = common.op_metrics([0.1] * 20, 1.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: v["unit"] for k, v in e2e.items()}
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (name, trace.unit_of(name), better) for name, better in trace.PER_LAYER.items()
    ]
