"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import pickle
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, metrics, stats, trace
from perfbench.workloads import DailyBatch, Ledger

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_well_formed():
    declared = {**metrics.END_TO_END, **metrics.PER_LAYER}
    for name, unit in declared.items():
        assert NAME_RE.fullmatch(name), name
        assert UNIT_RE.fullmatch(unit), (name, unit)
    assert "setup_s" in metrics.END_TO_END


def test_benchmark_json_lists_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _events(path: str, n: int = 2000) -> None:
    rng = np.random.default_rng(0)
    pq.write_table(
        pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(np.sort(rng.integers(0, 10**12, n)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 50, n)),
            "event_type": pa.array(["view"] * n),
            "value": pa.array(rng.random(n)),
            "props": pa.array(["{}"] * n),
        }),
        path,
    )


def test_same_seed_gives_byte_identical_delta_files(tmp_path):
    src = str(tmp_path / "events.parquet")
    _events(src)
    a, b, c = (str(tmp_path / d) for d in "abc")
    assert inputs.write_delta(src, a, seed=7) == 2000
    inputs.write_delta(src, b, seed=7)
    inputs.write_delta(src, c, seed=8)
    names = sorted(os.listdir(a))
    assert len(names) == inputs.DELTA_FILES
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _match, mismatch, _errors = filecmp.cmpfiles(a, c, names, shallow=False)
    assert mismatch


def test_delta_resends_ids_later_with_later_ts(tmp_path):
    src = str(tmp_path / "events.parquet")
    _events(src)
    inputs.write_delta(src, str(tmp_path / "d"), seed=3)
    first_seen: dict[int, tuple[int, int]] = {}
    resent = 0
    for k, name in enumerate(sorted(os.listdir(tmp_path / "d"))):
        t = pq.read_table(tmp_path / "d" / name)
        for eid, ts in zip(t.column("event_id").to_pylist(), t.column("ts").to_pylist()):
            if eid in first_seen:
                file0, ts0 = first_seen[eid]
                assert k > file0 and ts > ts0
                resent += 1
            else:
                first_seen[eid] = (k, ts)
    assert len(first_seen) == 2000
    assert 0.02 < resent / 2000 < 0.08


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(9)]
    order = inputs.pass_order(names, seed=5, pass_idx=0)
    assert sorted(order) == names
    assert order == inputs.pass_order(names, seed=5, pass_idx=0)
    assert order != inputs.pass_order(names, seed=6, pass_idx=0)


class _FakeSparkContext:
    def setJobDescription(self, _desc):
        pass


class _FakeSpark:
    sparkContext = _FakeSparkContext()


def test_a_failing_op_counts_in_fail_ratio():
    from skiliopay_datapipeline_customer_spark.pipelines.dag import Dag, Task

    from perfbench.workloads import Context

    ctx = Context(_FakeSpark(), "w", 0, "", "", "", trace.Tracer())

    def boom(_r):
        raise RuntimeError("injected")

    dag = Dag("t")
    dag.add(Task("1_medallion", DailyBatch._timed(ctx, "1_medallion", lambda r: 1, None)))
    dag.add(Task("2_warehouse", DailyBatch._timed(ctx, "2_warehouse", boom, None)))
    dag.add(Task(
        "3_dataset",
        DailyBatch._timed(ctx, "3_dataset", lambda r: 2, lambda out: ["wrong output"]),
    ))
    dag.run()
    led = ctx.ledger
    led.passes.append(led.busy_s)
    assert (led.attempted, led.failed, led.wrong) == (3, 2, 1)
    assert "RuntimeError: injected" in led.errors["2_warehouse"]
    out = metrics.end_to_end(ctx, setup_s=1.0, rss_mb=1.0)
    assert out["ok_ratio"][0] == pytest.approx(1 / 3)
    assert set(out) == set(metrics.END_TO_END)


@pytest.mark.parametrize(
    "n, pct",
    [(11, 9), (14, 28), (20, 50), (100, 90), (1000, 99)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(n, 0, -1)]
    value, got_pct, beyond = stats.tail(samples)
    assert got_pct == pct
    assert beyond >= 10
    assert sum(s > value for s in samples) == beyond


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_ledger_geomean_weighs_each_op_once():
    led = Ledger()
    for v in (1.0, 1.0, 1.0):
        led.ok("light", v)
    led.ok("heavy", 100.0)
    assert stats.per_op_geomean(led.samples) == pytest.approx(10.0)


def test_traced_wrapper_pickles_as_the_original_function():
    wrapper = trace._Traced(trace.Tracer(), "x", os.path.join)
    assert pickle.loads(pickle.dumps(wrapper)) is os.path.join


def test_jobs_go_to_the_innermost_open_span():
    tr = trace.Tracer()
    tr.enabled = True
    spans = tr.spans
    spans += [
        trace.Span("op", 10.0, None, "q", 0, end=20.0),
        trace.Span("queries.build", 10.0, 0, "q", 0, end=15.0),
        trace.Span("io.table", 11.0, 1, "q", 0, end=12.0),
        trace.Span("spark.force", 15.0, 0, "q", 0, end=20.0),
    ]
    log = trace.EventLog(jobs={
        1: trace.Job(1, 11.5, 11.9),
        2: trace.Job(2, 13.0, 14.0),
        3: trace.Job(3, 16.0, 19.0),
        4: trace.Job(4, 30.0, 31.0),
    })
    trace.assign_jobs(spans, log)
    assert [log.jobs[j].span for j in (1, 2, 3, 4)] == [2, 1, 3, None]
    assert trace.union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
