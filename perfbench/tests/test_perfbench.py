"""Tests for the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import re
import sys
import time
import types

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SPEC = run.load_spec()


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.pipeline_events(seed, 5, 60),
        lambda seed: gen.detector_events(seed, 3, 3),
        lambda seed: gen.stream_files(seed, 4, 5),
    ],
    ids=["pipeline", "detectors", "stream"],
)
def test_generator_is_deterministic(make):
    assert gen.digest(make(7)) == gen.digest(make(7))
    assert gen.digest(make(7)) != gen.digest(make(8))


def test_pipeline_events_have_the_stated_mix():
    props = gen.properties(gen.pipeline_events(3, 50, 400))
    assert props["series"] == 50
    assert props["duplicate_share"] == pytest.approx(0.2, abs=0.005)
    assert props["null_share"] == pytest.approx(1 / 7, abs=0.01)
    assert 0.002 < props["spike_share"] < 0.008


def test_digest_survives_a_parquet_round_trip(tmp_path):
    df = gen.pipeline_events(1, 4, 30)
    path = str(tmp_path / "events.parquet")
    gen.write(df, path)
    back = __import__("pandas").read_parquet(path)
    assert gen.digest(back) == gen.digest(df)


def test_no_percentile_without_ten_samples_beyond_it():
    for q in (0.5, 0.9, 0.99):
        for n in range(0, 1200, 7):
            values = list(range(n))
            p = measure.percentile(values, q)
            if p is None:
                continue
            assert sum(v > p for v in values) >= 10, (q, n)
    assert measure.percentile(list(range(89)), 0.9) is None
    assert measure.percentile(list(range(100)), 0.9) is not None


def test_self_time_subtracts_children():
    t = measure.Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.dump()
    assert inner["parent"] == outer["id"] and outer["run"] == "r"
    assert outer["self"] == pytest.approx(outer["end"] - outer["start"] - (inner["end"] - inner["start"]))


def test_spec_names_units_and_bounds():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]) for k in ("end_to_end", "per_layer") for m in SPEC[k])
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def _ctx(failed=0):
    return types.SimpleNamespace(ops=types.SimpleNamespace(attempted=3, failed=failed))


@pytest.mark.parametrize("trace", [False, True])
def test_printed_names_are_exactly_the_declared_ones(trace):
    declared = [m["name"] for m in SPEC["per_layer" if trace else "end_to_end"]]
    res = run._result(_ctx(), {n: 1.5 for n in declared}, SPEC, trace)
    assert list(res["metrics"]) == declared
    assert all(NAME.match(n) for n in res["metrics"])
    line = json.loads(json.dumps(res))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    with pytest.raises(RuntimeError):
        run._result(_ctx(), {**{n: 1.0 for n in declared}, "not_declared": 1.0}, SPEC, trace)


def test_missing_end_to_end_metric_is_an_error():
    names = [m["name"] for m in SPEC["end_to_end"]][1:]
    with pytest.raises(RuntimeError):
        run._result(_ctx(), {n: 1.0 for n in names}, SPEC, False)


def test_failed_operations_make_the_run_incorrect():
    names = [m["name"] for m in SPEC["end_to_end"]]
    assert run._result(_ctx(failed=1), {n: 1.0 for n in names}, SPEC, False)["correct"] is False


class _FakeEngine:
    def __init__(self, spark):
        pass

    def delta(self):
        return collections.defaultdict(int)


def _loop_ctx(trace: bool):
    return types.SimpleNamespace(
        seconds=0.0, spark=None, artifact={}, ops=measure.Ops(), tracer=measure.Tracer("r", trace)
    )


def test_closed_loop_reports_the_median_of_timed_iterations():
    import common

    durations = iter([0.05] + [0.04] * common.WARMUP_ITERATIONS + [0.03, 0.01, 0.02])

    def fn():
        time.sleep(next(durations))
        return "out"

    ctx = _loop_ctx(trace=False)
    metrics, last = common.closed_loop(ctx, "x", fn)
    assert last == "out" and ctx.ops.failed == 0
    assert ctx.ops.attempted == 1 + common.WARMUP_ITERATIONS + common.MIN_ITERATIONS
    assert metrics["first_result_s"] >= 0.05
    assert metrics["result_s"] == pytest.approx(0.02, abs=0.008)
    assert "trace.overhead_s" not in metrics and ctx.tracer.spans == []


def test_result_rel_divides_by_the_reference_timed_beside_the_loop():
    import common

    ref_calls = []

    def ref():
        ref_calls.append(1)
        time.sleep(0.01)

    ctx = _loop_ctx(trace=False)
    metrics, _ = common.closed_loop(ctx, "x", lambda: time.sleep(0.03) or "out", ref)
    timed = len(ctx.artifact["result_samples_s"])
    # the warm-up runs, then one before the timed loop and one after each timed iteration
    assert len(ref_calls) == common.REFERENCE_WARMUP + 1 + timed
    assert len(ctx.artifact["reference_samples_s"]) == 1 + timed
    assert metrics["result_rel"] == pytest.approx(
        metrics["result_s"] / metrics["reference.spark_query_s"]
    )
    assert 1.5 < metrics["result_rel"] < 4.5


def test_host_probe_divides_each_span_by_the_samples_taken_during_it():
    probe = measure.HostProbe()
    # the host runs twice as slow from t=10 on; a span of twice the work then reads the same
    probe.samples = [(t, 0.002) for t in range(10)] + [(t, 0.004) for t in range(10, 20)]
    rel, probe_s = probe.relative([(1.0, 3.0), (11.0, 6.0), (12.0, 6.0)])
    assert rel == pytest.approx(1500.0) and probe_s == pytest.approx(0.004)
    # a span no sample fell in uses the median of all samples
    assert probe.relative([(100.0, 3.0)])[1] == pytest.approx(0.003)


def test_traced_loop_runs_no_reference():
    import common

    ctx = _loop_ctx(trace=True)
    ctx.spark = None
    calls = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(common, "Engine", _FakeEngine)
        metrics, _ = common.closed_loop(ctx, "x", lambda: "out", lambda: calls.append(1))
    assert calls == [] and "result_rel" not in metrics


@pytest.mark.parametrize("seconds", [0.0, 0.05])
def test_traced_loop_warms_up_then_sandwiches_traced_iterations(monkeypatch, seconds):
    import common

    monkeypatch.setattr(common, "Engine", _FakeEngine)
    ctx = _loop_ctx(trace=True)
    ctx.seconds = seconds
    order = []

    def fn():
        order.append(ctx.tracer.enabled)
        time.sleep(0.01)
        return "out"

    metrics, _ = common.closed_loop(ctx, "x", fn)
    # the first and the warm-up iterations untraced, then untraced/traced
    # alternating, starting and ending untraced
    untimed = 1 + common.WARMUP_ITERATIONS
    timed = order[untimed:]
    assert not any(order[:untimed]) and len(timed) >= 3 and len(timed) % 2 == 1
    assert timed == [i % 2 == 1 for i in range(len(timed))]
    assert len(ctx.tracer.spans) == len(timed) // 2
    assert len(ctx.artifact["result_samples_s"]) == len(timed) // 2 + 1
    assert "trace.overhead_s" in metrics and "spark.jobs" in metrics
    assert ctx.tracer.enabled  # restored after the loop


def test_a_file_belongs_to_the_first_micro_batch_that_read_its_offset(tmp_path):
    """Batch 1 is a no-data batch (it repeats offset 0), so the files the
    source added at offset 1 were read by micro-batch 2, not 1."""
    pytest.importorskip("pyspark")
    import wl_stream_alerts

    sources, offsets = tmp_path / "sources" / "0", tmp_path / "offsets"
    sources.mkdir(parents=True)
    offsets.mkdir()
    for off, names in ((0, ["a"]), (1, ["b", "c"])):
        recs = [json.dumps({"path": f"file:///x/{n}.parquet", "batchId": off}) for n in names]
        (sources / str(off)).write_text("v1\n" + "\n".join(recs) + "\n")
    for batch, off in ((0, 0), (1, 0), (2, 1)):
        (offsets / str(batch)).write_text('v1\n{"batchWatermarkMs":0}\n' + json.dumps({"logOffset": off}))
    got = wl_stream_alerts.file_batches(str(tmp_path))
    assert got == {"a.parquet": 0, "b.parquet": 2, "c.parquet": 2}
