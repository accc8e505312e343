"""Tests of the benchmark's own arithmetic and inputs (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading

import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
from tracing import Span, Tracer, covered, self_times  # noqa: E402


# -- percentile selection ----------------------------------------------------
def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == 5.0
    assert stats.percentile(xs, 20) == 1.0  # rank ceil(1.0) = 1
    assert stats.percentile(xs, 21) == 2.0
    assert stats.percentile(xs, 100) == 5.0


def test_percentile_of_even_count_takes_lower_middle():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
    assert stats.percentile(list(range(1, 23)), 90) == 20  # 22 TPC-H queries
    assert stats.percentile(list(range(1, 101)), 90) == 90  # no float rounding up


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [1.0, 1.1, 0.9, 1.2, 1.05, 0.95, 1.0, 1.3, 0.8, 1.02]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / med)


# -- run-time figures --------------------------------------------------------
def test_tree_cpu_counts_a_reaped_child():
    import subprocess

    import run

    before = run.tree_cpu_ticks(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    spent = (run.tree_cpu_ticks(os.getpid()) - before) / os.sysconf("SC_CLK_TCK")
    assert spent >= 0.45


def test_end_to_end_scales_times_by_host_slowness():
    import run

    recs = [run.Record(op=None, trace_id=str(i), start=0.0, end=1.0) for i in range(4)]
    base = run.end_to_end(recs, 2.0, 8.0, [1.0, 3.0, 2.0], 100.0, 1.0)
    slow = run.end_to_end(recs, 2.0, 8.0, [1.0, 3.0, 2.0], 100.0, 2.0)
    assert base["cpu_ms_per_op"][0] == 2000.0
    assert base["throughput_ops_s"][0] == 2.0
    assert base["setup_s"][0] == 2.0
    assert slow["cpu_ms_per_op"][0] == 1000.0
    assert slow["throughput_ops_s"][0] == 4.0
    assert slow["setup_s"][0] == 1.0
    assert slow["peak_rss_mb"][0] == base["peak_rss_mb"][0] == 100.0


# -- span self time ----------------------------------------------------------
def _span(sid, parent, start, end, name="exec.x"):
    return Span(sid=sid, name=name, trace="t", parent=parent, start=start, end=end)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(3, 3), (6, 4)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0, "op.q"),
        _span(1, 0, 1.0, 4.0, "queries.build"),
        _span(2, 1, 2.0, 3.0, "catalog.load_tables"),
        _span(3, 0, 5.0, 9.0, "exec.collect"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 4)
    assert st[1] == pytest.approx(3 - 1)  # grandchild counts against its parent only
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(4)
    # a layer's self times add up to the root's duration
    assert sum(st.values()) == pytest.approx(10)


def test_self_time_with_overlapping_children_counts_union():
    spans = [_span(0, None, 0, 10), _span(1, 0, 1, 6), _span(2, 0, 4, 8)]
    assert self_times(spans)[0] == pytest.approx(10 - 7)


def test_tracer_nests_per_thread_and_inherits_trace():
    tracer = Tracer()
    with tracer.span("op.a", trace="c0-0"):
        with tracer.span("queries.build"):
            pass

    def other():
        with tracer.span("op.b", trace="c1-0"):
            with tracer.span("exec.collect"):
                pass

    t = threading.Thread(target=other)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["queries.build"].parent == by_name["op.a"].sid
    assert by_name["queries.build"].trace == "c0-0"
    assert by_name["exec.collect"].parent == by_name["op.b"].sid
    assert by_name["exec.collect"].trace == "c1-0"
    assert by_name["exec.collect"].layer == "exec"


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("op.a", trace="x"):
        pass
    assert tracer.spans == []


# -- inputs ------------------------------------------------------------------
def test_replicate_keeps_fanout_and_key_uniqueness():
    import numpy as np

    base = datagen.tpch_tables(np.random.default_rng(3), 0.001)
    rep = datagen.replicate(base, 3)
    for name in ("customer", "supplier", "part", "orders"):
        key = next(iter(datagen.SCALED_KEYS[name]))
        assert rep[name].num_rows == 3 * base[name].num_rows
        assert pc.count_distinct(rep[name][key]).as_py() == rep[name].num_rows
    assert rep["nation"].num_rows == base["nation"].num_rows
    # every lineitem still finds exactly its order, part and supplier
    for col, (owner, key) in {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    }.items():
        assert pc.all(pc.is_in(rep["lineitem"][col], rep[owner][key])).as_py()
    # copy i's orders point at copy i's customers
    n_cust = base["customer"].num_rows
    copy_of_order = pc.divide(rep["orders"]["o_orderkey"], base["orders"].num_rows)
    copy_of_cust = pc.divide(rep["orders"]["o_custkey"], n_cust)
    assert copy_of_order.equals(copy_of_cust)


def test_dataset_is_deterministic_per_seed(tmp_path):
    a = datagen.dataset(str(tmp_path / "a"), 5, 0.001, 2, 1)
    b = datagen.dataset(str(tmp_path / "b"), 5, 0.001, 2, 1)
    c = datagen.dataset(str(tmp_path / "c"), 6, 0.001, 2, 1)
    for name in ("lineitem", "documents", "embeddings"):
        pa_, pb, pc_ = (os.path.join(d, f"{name}.parquet") for d in (a, b, c))
        assert open(pa_, "rb").read() == open(pb, "rb").read()
        assert open(pa_, "rb").read() != open(pc_, "rb").read()


# -- BENCHMARK.json ------------------------------------------------------------
def test_benchmark_json_matches_metric_definitions():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert layers == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup_bound = next(m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in bench["end_to_end"])


def test_every_layer_metric_names_a_benchmark_workload():
    import workloads

    known = set(workloads.WORKLOADS) | {"all"}
    for name, (_u, _b, moves) in metrics.PER_LAYER.items():
        assert moves, name
        for e2e, on in moves:
            assert e2e in metrics.END_TO_END or e2e in metrics.REPORT_ONLY, name
            assert on in known, name
