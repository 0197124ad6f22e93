"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import gen, stats  # noqa: E402
from perfbench.run import Loop, end_to_end  # noqa: E402
from perfbench.trace import (TARGETS, Span, Tracer, layer_metrics, self_times,  # noqa: E402
                             union_length)

BENCH = Path(__file__).resolve().parent


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(list(range(999)), 99) is None
    assert stats.tail_percentile(list(range(1000)), 99) == pytest.approx(989.01)
    assert stats.tail_percentile(list(range(99)), 90) is None
    assert stats.tail_percentile(list(range(100)), 90) == pytest.approx(89.1)
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_gmean():
    assert stats.gmean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.gmean([]) is None


def _digests(root: str) -> dict[str, str]:
    return {fn: hashlib.sha256(Path(root, fn).read_bytes()).hexdigest()
            for fn in sorted(os.listdir(root))}


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    gen.generate(workload, 5, str(tmp_path / "a"), 1)
    gen.generate(workload, 5, str(tmp_path / "b"), 1)
    gen.generate(workload, 6, str(tmp_path / "c"), 1)
    a, b, c = (_digests(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c


def test_self_time_subtracts_the_union_of_children():
    assert union_length([(1, 3), (2, 5), (8, 9)]) == 5
    assert union_length([]) == 0
    spans = [
        Span(0, "outer", "call", 0.0, None, None, end=10.0),
        Span(1, "a", "call", 1.0, 0, None, end=3.0),
        Span(2, "b", "call", 2.0, 0, None, end=5.0),  # overlaps a
        Span(3, "c", "call", 8.0, 0, None, end=12.0),  # runs past outer
        Span(4, "d", "call", 3.5, 2, None, end=4.5),  # grandchild
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(3 - 1)
    assert st[4] == pytest.approx(1)


def test_layer_metrics_are_inclusive_and_count_nested_same_name_once():
    tr = Tracer()
    tr.spans = [
        Span(0, "m.f", "call", 0.0, None, None, end=4.0,
             counters={"jobs": 1, "stages": 1}),
        Span(1, "m.g", "call", 1.0, 0, None, end=2.0,
             counters={"jobs": 2, "stages": 3}),
        Span(2, "m.f", "call", 2.5, 0, None, end=3.0,
             counters={"jobs": 1, "stages": 0}),
    ]
    m = layer_metrics(tr)
    assert m["m.f.calls"] == 2
    assert m["m.f.s"] == pytest.approx(4.0)  # the nested m.f is inside
    assert m["m.f.self_s"] == pytest.approx(2.5 + 0.5)
    assert m["m.f.jobs"] == 4
    assert m["m.g.jobs"] == 2
    assert m["spark.jobs"] == 4


def test_a_failing_operation_is_counted_not_raised():
    loop = Loop()

    def boom():
        raise RuntimeError("injected")

    def bad_check(_):
        raise ValueError("oracle crashed")

    assert loop.op("x", boom) is None
    loop.op("x", lambda: 1, lambda r: r == 2)  # wrong result
    loop.op("x", lambda: 1, bad_check)
    loop.op("x", lambda: 1, lambda r: r == 1)
    assert (loop.attempted, loop.failed) == (4, 3)
    assert len(loop.lat["x"]) == 3  # the raising call has no latency


def test_run_cycle_issues_exactly_one_period():
    loop = Loop()
    steps = iter([("a", lambda: 0, None), ("b", lambda: 0, None)] * 3)
    loop.run_cycle(steps, 2)
    assert {k: len(v) for k, v in loop.lat.items()} == {"a": 1, "b": 1}


class _Workload:
    kinds = ("a", "b")
    mix = {"a": 3, "b": 1, "c": 1}  # "c" is weighed, not in the gmean


def test_end_to_end_weighs_medians_by_the_mix():
    m = end_to_end(_Workload, {"a": [0.001, 0.001, 0.5], "b": [0.004], "c": [0.003]}, 1.5)
    assert m["op_p50_gmean_ms"] == pytest.approx(2.0)
    assert m["ops_per_s"] == pytest.approx(5 / 0.010)


def test_end_to_end_leaves_out_a_kind_whose_every_call_failed():
    m = end_to_end(_Workload, {"a": [0.002, 0.002], "b": []}, 1.5)
    assert m["op_p50_gmean_ms"] == pytest.approx(2.0)
    assert m["ops_per_s"] == pytest.approx(500.0)
    m = end_to_end(_Workload, {}, 1.5)  # every call failed
    assert (m["op_p50_gmean_ms"], m["ops_per_s"], m["setup_s"]) == (0.0, 0.0, 1.5)


def test_online_period_spreads_every_kind_and_starts_with_the_rarest():
    period = gen.online_period()
    assert period[0] == "knn" and period.count("knn") == 1
    assert set(period) == {"get", "ann", "knn", "set"}
    assert period.count("get") == pytest.approx(8 * period.count("set"), abs=4)
    mix = gen.online_mix()
    assert mix["knn"] == 1
    assert mix["get"] == pytest.approx(gen.KNN_OVERSAMPLE * period.count("get"), abs=2)
    assert gen.interleave({"x": 1, "y": 3}) == ["x", "y", "y", "y"]


def test_online_sets_insert_new_keys_that_the_next_get_reads(tmp_path):
    import pyarrow.parquet as pq

    m = gen.generate("online_serve", 5, str(tmp_path), 1)
    req = pq.read_table(str(tmp_path / "requests.parquet"))
    kinds = req.column("kind").to_pylist()
    ents = req.column("entity").to_pylist()
    sets = [i for i, k in enumerate(kinds) if k == "set"]
    assert [ents[i] for i in sets] == list(range(m["entities"], m["entities"] + m["sets"]))
    for i in sets:
        if i + 1 < len(kinds) and kinds[i + 1] == "get":
            assert ents[i + 1] == ents[i]
    others = [e for i, e in enumerate(ents) if kinds[i] != "set" and i - 1 not in sets]
    assert max(others) < m["entities"]


def test_every_per_layer_metric_maps_to_a_layer_and_every_traced_call_is_mapped():
    layers = json.loads((BENCH / "metrics.json").read_text())["layers"]
    declared = json.loads((BENCH.parent / "BENCHMARK.json").read_text())["per_layer"]
    for m in declared:
        assert any(m["name"].startswith(k + ".") for k in layers), m["name"]
    traced = {f"{mod}.{qual}" for mod, qual in TARGETS}
    traced = {t + s for t in traced
              for s in (("-approx", "-exact") if t.endswith(".nearest_neighbor") else ("",))}
    assert traced <= set(layers)
