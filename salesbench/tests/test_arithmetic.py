"""Unit tests of the benchmark's arithmetic and input generation (no Spark)."""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

import inputs
import run
from tracing import (
    STEAL_EXPONENT,
    CpuMeter,
    Span,
    Tracer,
    cpu_ticks,
    file_latencies,
    layer_self_times,
    max_backlog,
    percentile,
    self_times,
    source_log_batches,
    steal_share,
    tail_percentile,
    union_length,
    without_steal,
)

BENCHMARK_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


# -- percentiles -----------------------------------------------------------
def test_percentile_nearest_rank():
    vals = [float(v) for v in range(1, 101)]  # 1..100
    assert percentile(vals, 50) == 50.0
    assert percentile(vals, 90) == 90.0
    assert percentile(vals, 100) == 100.0
    assert percentile(vals, 0.5) == 1.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


@pytest.mark.parametrize("n", [21, 45, 150, 151, 1000])
def test_tail_percentile_leaves_exactly_ten_beyond(n):
    vals = [float(v) for v in range(n)]
    pct = tail_percentile(n)
    tail = percentile(vals, pct)
    assert sum(1 for v in vals if v > tail) == 10


def test_tail_percentile_too_few_samples_is_the_maximum():
    # 15 samples would put the 10-beyond percentile at p33, 20 at p50:
    # neither is above the median
    assert tail_percentile(10) == tail_percentile(15) == tail_percentile(20) == 100.0
    assert 50.0 < tail_percentile(21) < 100.0
    assert percentile([1.0, 5.0, 2.0], tail_percentile(3)) == 5.0


def test_tail_percentile_of_100_live_files():
    assert tail_percentile(100) == pytest.approx(90.0)


# -- self time -----------------------------------------------------------------
def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10), (1, 2), (3, 4)]) == pytest.approx(10.0)


def span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "w", 1)


def test_self_time_subtracts_children_once():
    spans = [
        span(0, "plans.pipeline.run_sales_pipeline", 0.0, 10.0),
        span(1, "sinks.write_partitioned", 1.0, 5.0, parent=0),
        span(2, "sinks.write_partitioned", 4.0, 8.0, parent=0),  # overlaps the first
        span(3, "plans.sales_facts.itens_fact", 1.5, 2.5, parent=1),
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 7.0)
    assert own[1] == pytest.approx(4.0 - 1.0)
    assert own[2] == pytest.approx(4.0)
    assert own[3] == pytest.approx(1.0)
    layers = layer_self_times(spans, ["plans", "sinks", "streaming"])
    assert layers == pytest.approx({"plans": 4.0, "sinks": 7.0, "streaming": 0.0})


def test_tracer_nests_and_fosters_across_threads():
    import threading

    tr = Tracer("w", enabled=True)

    def callback() -> None:
        with tr.span("sinks.append_snapshot"):
            pass

    with tr.span("streaming.pipeline.run_multi_sink") as outer:
        tr.foster = outer.id
        t = threading.Thread(target=callback)
        with tr.span("sinks.read_appended"):
            pass
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["sinks.read_appended"].parent == outer.id
    assert by_name["sinks.append_snapshot"].parent == outer.id


def test_disabled_tracer_records_nothing():
    tr = Tracer("w", enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


# -- file-to-epoch latency -------------------------------------------------------
def test_file_latencies_from_due_time_to_batch_commit():
    due = {"a": 10.0, "b": 10.1, "c": 10.2, "d": 10.3}
    batches = {"a": 3, "b": 3, "c": 4}  # d never reached the source log
    commits = {3: 10.6, 5: 11.0}  # batch 4 never committed
    lat, missing = file_latencies(due, batches, commits)
    assert lat == pytest.approx({"a": 0.6, "b": 0.5})
    assert sorted(missing) == ["c", "d"]


def test_max_backlog_counts_landed_not_committed():
    landed = [0.0, 0.1, 0.2, 0.3, 1.0]
    committed = [0.5, 0.5, 0.5, 0.9, 1.2]
    assert max_backlog(landed, committed) == 4
    assert max_backlog([], []) == 0


def test_source_log_batches_reads_plain_and_compact_files(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    entry = lambda name, b: json.dumps({"path": f"file:///x/landing/{name}", "timestamp": 1, "batchId": b})
    (log / "9.compact").write_text("v1\n" + "\n".join(entry(f"f{i}.json", i) for i in range(10)))
    (log / "10").write_text("v1\n" + entry("f10.json", 10) + "\n" + entry("f11.json", 10))
    (log / ".10.crc").write_text("garbage")
    (log / "11").write_text("v1\n{\"path\": \"file:///x/f12")  # caught mid-write
    got = source_log_batches(str(tmp_path))
    assert got["f0.json"] == 0 and got["f9.json"] == 9
    assert got["f10.json"] == 10 and got["f11.json"] == 10
    assert "f12" not in " ".join(got)
    assert source_log_batches(str(tmp_path / "nope")) == {}


# -- stolen CPU time ---------------------------------------------------------------
def test_cpu_ticks_and_steal_share(tmp_path):
    stat = tmp_path / "stat"
    # user nice system idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 5 20 900 30 1 4 10 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    before = cpu_ticks(str(stat))
    assert before == (130, 10)
    stat.write_text("cpu  160 5 30 5000 30 1 4 40 0 0\n")
    after = cpu_ticks(str(stat))
    # 70 busy ticks and 30 stolen: idle time is not wanted time
    assert steal_share(before, after) == pytest.approx(0.3)
    assert steal_share(after, after) == 0.0
    assert cpu_ticks(str(tmp_path / "missing")) == (0, 0)


def meter(busy, stolen):
    cpu = CpuMeter()
    cpu.busy, cpu.stolen = busy, stolen
    return cpu


def test_cpu_meter_sums_its_windows(monkeypatch):
    import tracing

    readings = iter([(100, 10), (170, 40), (500, 40), (520, 50)])
    monkeypatch.setattr(tracing, "cpu_ticks", lambda: next(readings))
    cpu = CpuMeter()
    assert cpu.share == 0.0
    with cpu.window():
        pass
    with cpu.window():
        pass
    # the 330 ticks between the windows are not counted
    assert (cpu.busy, cpu.stolen) == (90, 40)
    assert cpu.share == pytest.approx(40 / 130)


def test_e2e_takes_the_stolen_share_of_each_window_out():
    from workloads import Measured

    m = Measured(latencies=[2.0, 4.0, 6.0], work=3, busy_s=12.0, lat_cpu=meter(75, 25))
    assert m.work_cpu is m.lat_cpu  # one window unless a workload splits them
    keep = 0.75 ** STEAL_EXPONENT
    assert m.e2e() == pytest.approx({"op_p50_s": 4.0 * keep, "op_tail_s": 6.0 * keep, "ops_per_s": 3 / (12.0 * keep)})
    assert m.e2e(adjusted=False) == pytest.approx({"op_p50_s": 4.0, "op_tail_s": 6.0, "ops_per_s": 0.25})
    split = Measured(latencies=[2.0], work=4, busy_s=2.0, lat_cpu=meter(90, 10), work_cpu=meter(50, 50))
    assert split.e2e() == pytest.approx(
        {"op_p50_s": without_steal(2.0, 0.1), "op_tail_s": without_steal(2.0, 0.1), "ops_per_s": 2.0 / 0.5**STEAL_EXPONENT}
    )


def test_without_steal():
    assert without_steal(3.0, 0.0) == 3.0
    assert without_steal(3.0, 0.2) == pytest.approx(3.0 * 0.8**STEAL_EXPONENT)


# -- seeded inputs -----------------------------------------------------------------
SMALL = inputs.Scale(orders=200, days=5, parts=50, customers=40)


def test_tables_are_a_function_of_the_seed(tmp_path):
    a = inputs.write_tables(str(tmp_path / "a"), 7, SMALL)
    b = inputs.write_tables(str(tmp_path / "b"), 7, SMALL)
    c = inputs.write_tables(str(tmp_path / "c"), 8, SMALL)
    assert a == b
    for t in ("orders", "lineitem", "part", "customer"):
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet")
    )
    assert c["orders"] == a["orders"]  # sizes do not depend on the seed


def test_tables_are_referentially_sound(tmp_path):
    counts = inputs.write_tables(str(tmp_path), 3, SMALL)
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    orders = pq.read_table(tmp_path / "orders.parquet").to_pandas()
    assert set(li.l_partkey) <= set(range(SMALL.parts))
    assert set(li.l_orderkey) <= set(orders.o_orderkey)
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert counts["orders_with_items"] == li.l_orderkey.nunique()
    assert orders.o_orderdate.dt.normalize().nunique() <= SMALL.days


def test_redelivery_share_and_order():
    docs = [json.dumps({"numero": i}) for i in range(200)]
    out = inputs.redelivered(docs, 5, 0.05)
    assert len(out) == 210
    assert sorted(set(out)) == sorted(docs)
    assert out == inputs.redelivered(docs, 5, 0.05)
    assert out != inputs.redelivered(docs, 6, 0.05)


def test_arrival_schedule_is_a_jittered_grid():
    s = inputs.arrival_schedule(100, 10.0, 1)
    step = 0.1
    assert np.all(s >= np.arange(100) * step)
    assert np.all(s < np.arange(100) * step + 0.25 * step + 1e-12)
    assert np.all(np.diff(s) > 0)
    assert np.array_equal(s, inputs.arrival_schedule(100, 10.0, 1))


def test_query_rounds_keep_the_mix_and_follow_the_seed():
    def take(seed, days=31, n=5):
        gen = inputs.query_rounds(seed, days)
        return [next(gen) for _ in range(n)]

    rounds = take(4)
    for r in rounds:
        assert sorted(k for k, _, _ in r) == sorted(inputs.QUERY_ROUND)
        for kind, first, n_days in r:
            assert n_days == min(inputs.RANGE_DAYS.get(kind, 31), 31)
            assert 0 <= first and first + n_days <= 31
    assert rounds == take(4)
    assert rounds != take(5)
    # a history shorter than a month clamps the windows to it
    assert all(first + n_days <= 5 for r in take(4, days=5) for _, first, n_days in r)


def test_same_answer_tolerates_summation_order_only():
    from workloads import same

    want = {"a": (1.0, 3), "b": (2.0, 4)}
    assert same({"a": (1.0 + 1e-12, 3), "b": (2.0, 4)}, want)
    assert not same({"a": (1.001, 3), "b": (2.0, 4)}, want)
    assert not same({"a": (1.0, 3)}, want)
    assert not same({"a": (1.0, 2), "b": (2.0, 4)}, want)
    assert same([(1, 5.0), (2, 4.0)], [(1, 5.0), (2, 4.0)])
    assert not same([(2, 4.0), (1, 5.0)], [(1, 5.0), (2, 4.0)])
    assert same({1, 2}, {2, 1}) and not same({1}, {1, 2})


def test_write_batches_splits_docs(tmp_path):
    docs = [f'{{"numero": {i}}}' for i in range(7)]
    assert inputs.write_batches(docs, str(tmp_path), 3) == 3
    lines = [l for f in sorted(os.listdir(tmp_path)) for l in (tmp_path / f).read_text().splitlines()]
    assert lines == docs


# -- BENCHMARK.json agrees with what the runner prints ------------------------------
def test_benchmark_json_matches_the_runner():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
