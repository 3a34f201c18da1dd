"""Arithmetic of the benchmark's metrics and determinism of its inputs.

Run from the repository root:  python3 -m pytest perfbench/tests -q
No Spark session is started.
"""

from __future__ import annotations

import filecmp
import os

import pytest

from perfbench import gen, stats
from perfbench.trace import Span, Tracer


# ---------------------------------------------------------------- op_tail_s


@pytest.mark.parametrize(
    "n, pct",
    [
        (1, 100.0),
        (5, 100.0),
        (99, 100.0),  # p90 would leave 9.9 samples beyond it
        (100, 90.0),
        (999, 90.0),  # p99 would leave 9.99
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct):
    values = [float(i) for i in range(n)]
    _value, got_pct, got_n = stats.tail(values)
    assert (got_pct, got_n) == (pct, n)
    if pct < 100:
        beyond = sum(v > _value for v in values)
        assert beyond >= stats.TAIL_BEYOND


def test_tail_value_is_max_below_one_hundred_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_tail_value_is_interpolated_percentile():
    values = [float(i) for i in range(101)]  # p90 of 0..100 is exactly 90
    assert stats.tail(values) == (90.0, 90.0, 101)


def test_tail_interpolates_between_samples():
    values = [float(i) for i in range(0, 200, 2)]  # p90 falls between 178 and 180
    assert stats.tail(values) == (pytest.approx(178.2), 90.0, 100)


# ---------------------------------------------------------------- self time


def test_self_time_without_children():
    assert stats.self_time(0.0, 10.0, []) == 10.0


def test_self_time_disjoint_children():
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_overlapping_children_count_once():
    # (2,6) and (4,8) overlap on (4,6): together they cover 6 seconds
    assert stats.self_time(0.0, 10.0, [(2.0, 6.0), (4.0, 8.0)]) == 4.0


def test_self_time_nested_children_count_once():
    assert stats.self_time(0.0, 10.0, [(1.0, 9.0), (2.0, 3.0)]) == 2.0


def test_self_time_clips_children_to_the_span():
    assert stats.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == 2.0


def test_layer_metrics_subtract_children():
    tr = Tracer()
    tr.spans = [
        Span("plans.bi.refresh", 0, None, 0.0, 10.0, jobs=9, tasks=30, shuffle_bytes=500,
             py_worker_cpu_s=1.5, children=[1, 2]),
        Span("plans.ods.load_fact", 0, 0, 1.0, 4.0, jobs=4, tasks=10, shuffle_bytes=200,
             py_worker_cpu_s=0.5),
        Span("plans.ods.load_fact", 0, 0, 3.0, 5.0, jobs=2, tasks=5, shuffle_bytes=100),
    ]
    m = tr.layer_metrics(("plans.bi.refresh", "plans.ods.load_fact"))
    assert m["plans.bi.refresh.calls"] == 1
    assert m["plans.bi.refresh.busy_s"] == 6.0  # children cover (1,5)
    assert m["plans.bi.refresh.jobs"] == 3
    assert m["plans.bi.refresh.tasks"] == 15
    assert m["plans.bi.refresh.shuffle_bytes"] == 200
    assert m["plans.bi.refresh.py_worker_cpu_s"] == 1.0
    assert m["plans.ods.load_fact.calls"] == 2
    assert m["plans.ods.load_fact.busy_s"] == 5.0
    assert m["plans.ods.load_fact.jobs"] == 6


def test_paired_overhead_cancels_order_effect():
    ops = [
        # traced first and 10% slower for being first: ratio 1.1
        {"pair": (1, 0), "traced": True, "wall": 1.1},
        {"pair": (1, 0), "traced": False, "wall": 1.0},
        # untraced first and 10% slower for being first: ratio 1/1.1
        {"pair": (1, 1), "traced": False, "wall": 2.2},
        {"pair": (1, 1), "traced": True, "wall": 2.0},
        {"pair": None, "traced": False, "wall": 9.0},  # warming round
    ]
    assert stats.paired_overhead(ops) == pytest.approx(0.0)
    ops[0]["wall"] = 1.21  # a true 10% tracing cost on top
    ops[3]["wall"] = 2.2
    assert stats.paired_overhead(ops) == pytest.approx(0.1)


def test_union_length():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0


# ---------------------------------------------------------------- storage ratio


def test_stored_per_input_ratio():
    assert stats.stored_per_input(3000, 1000) == 3.0
    assert stats.stored_per_input(0, 1000) == 0.0


def test_stored_per_input_needs_input():
    with pytest.raises(ValueError):
        stats.stored_per_input(10, 0)


def test_dir_bytes_counts_every_regular_file(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "part-0.parquet").write_bytes(b"x" * 100)
    (tmp_path / "a" / ".part-0.parquet.crc").write_bytes(b"y" * 12)
    (tmp_path / "b.txt").write_bytes(b"z" * 3)
    assert gen.dir_bytes(str(tmp_path)) == (3, 115)


# ---------------------------------------------------------------- generators


def _same_tree(a: str, b: str) -> bool:
    """Same relative file names with byte-identical contents."""

    def files(root):
        return sorted(
            os.path.relpath(os.path.join(d, f), root) for d, _s, fs in os.walk(root) for f in fs
        )

    names = files(a)
    if names != files(b):
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_catalog_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.write_catalog(a, 7) == gen.write_catalog(b, 7)
    assert _same_tree(a, b)
    gen.write_catalog(c, 8)
    assert not _same_tree(a, c)


def test_catalog_keeps_gate_id_ranges(tmp_path):
    import pyarrow.parquet as pq

    from building_coffee_commodity_trading_data_warehouse_spark.catalog import TABLES

    gen.write_catalog(str(tmp_path), 3)
    assert sorted(os.listdir(tmp_path)) == sorted(f"{t}.parquet" for t in TABLES)
    for table, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        ids = sorted(pq.read_table(tmp_path / f"{table}.parquet").column(col).to_pylist())
        assert ids == list(range(gen.CATALOG_ROWS[table]))
        assert len(ids) > 375  # the gates split at 125, 250 and 375
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pydict()
    keys = list(zip(li["l_orderkey"], li["l_linenumber"]))
    assert len(set(keys)) == len(keys)  # window tiebreakers stay unique


def test_etl_deliveries_are_byte_identical_per_seed(tmp_path):
    trees = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        plan = gen.EtlPlan(seed, history=8, deliveries=4)
        root = tmp_path / name
        plan.write_history(str(root / "history"))
        for k in range(4):
            plan.write_delivery(str(root / f"day_{k}"), k)
        trees.append((root, plan.expected_quotes()))
    (a, qa), (b, qb), (c, _qc) = trees
    for sub in ("history", "day_0", "day_1", "day_2", "day_3"):
        assert _same_tree(str(a / sub), str(b / sub))
    assert qa == qb
    assert not _same_tree(str(a / "day_0"), str(c / "day_0"))


def test_etl_round_carries_every_load_path(tmp_path):
    plan = gen.EtlPlan(1, history=8, deliveries=gen.ROUND_LEN)
    plan.write_history(str(tmp_path / "h"))
    files = [plan.write_delivery(str(tmp_path / f"d{k}"), k) for k in range(gen.ROUND_LEN)]
    assert any("cot" in f for f in files)
    assert any("report_dir" in f for f in files)
    # the correction re-delivers earlier days on top of today's quotes
    assert any(f["quote_rows"] > len(gen.MONTHS) for f in files)
    assert len(plan.expected_quotes()) == (8 + gen.ROUND_LEN) * len(gen.MONTHS)


# ---------------------------------------------------------------- verification


def test_frames_equal_ignores_row_order_and_float_drift():
    import pandas as pd

    from perfbench.workloads import frames_equal

    got = pd.DataFrame({"k": [2, 1], "x": [0.3, 0.1 + 0.2], "s": ["b", None]})
    want = pd.DataFrame({"s": [None, "b"], "x": [0.3, 0.3], "k": [1, 2]})
    assert frames_equal(got, want, ["k"]) is None
    assert frames_equal(got.assign(x=[0.3, 0.31]), want, ["k"]) is not None
    assert frames_equal(got.assign(s=["b", "a"]), want, ["k"]) is not None
    assert frames_equal(got.head(1), want, ["k"]) is not None
    assert frames_equal(got.drop(columns="s"), want, ["k"]) is not None


def test_every_corpus_span_is_called():
    from perfbench import workloads

    w = workloads.CorpusScreen
    called = set(w.gates.values()) | set(w.probe_gates.values())
    assert called == set(workloads.CORPUS_SPANS) | set(workloads.BI_SPANS)
    assert not set(w.gates) & set(w.probe_gates)


# ---------------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_names_what_run_prints():
    import json

    from perfbench import run, trace, workloads

    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path, encoding="utf-8") as f:
        bench = json.load(f)
    assert tuple(run.SPAN_COUNTERS) == trace.COUNTERS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.layer_catalog(
        workloads.ALL_SPANS
    )
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
