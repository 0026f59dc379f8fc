"""Unit tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
from model import EVENT_DELETE, KeyedModel  # noqa: E402


# -- percentile rule ----------------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    # nearest rank of p90 over n samples is ceil(0.9 n); n - rank must be >= 10
    assert measure.percentile(list(range(99)), 90) is None  # rank 90, 9 beyond
    assert measure.percentile(list(range(100)), 90) == 89  # rank 90, 10 beyond
    assert measure.percentile(list(range(1, 201)), 90) == 180


def test_percentile_is_order_free_and_empty_safe():
    xs = list(range(100))
    assert measure.percentile(xs[::-1], 90) == measure.percentile(xs, 90)
    assert measure.percentile([], 50) is None
    assert measure.percentile(list(range(30)), 50) == 14  # rank 15, 15 beyond


# -- intervals and span self time ---------------------------------------------

def test_union_merges_overlaps_and_drops_empty():
    assert measure.union([(3, 4), (0, 2), (1, 3), (5, 5)]) == [(0, 4)]
    assert measure.covered([(0, 1), (2, 4), (3, 5)]) == 4


def test_minus_cuts_holes():
    assert measure.minus([(0, 10)], [(2, 3), (5, 7), (9, 12)]) == [(0, 2), (3, 5), (7, 9)]
    assert measure.minus([(0, 1)], []) == [(0, 1)]


def test_self_time_subtracts_union_of_children_inside_the_span():
    spans = [
        measure.Span("op", 0.0, 10.0, 1),
        measure.Span("build", 0.0, 4.0, 1, "op"),
        measure.Span("action", 4.0, 10.0, 1, "op"),
        measure.Span("job-1", 5.0, 8.0, 1, "action"),
        measure.Span("job-2", 7.0, 9.0, 1, "action"),  # overlaps job-1
        measure.Span("job-9", 5.0, 9.0, 2, "action"),  # another op: ignored
        measure.Span("job-3", 9.5, 12.0, 1, "action"),  # clipped at the span end
    ]
    by = {s.name: s for s in spans}
    assert measure.self_time(by["op"], spans) == 0.0
    assert measure.self_time(by["action"], spans) == pytest.approx(6.0 - 4.0 - 0.5)
    assert measure.self_time(by["build"], spans) == 4.0


# -- driver.gap_ms arithmetic --------------------------------------------------

def test_decompose_parts_add_up_to_wall():
    parts = measure.decompose(
        op=(0.0, 10.0), build=(0.0, 3.0),
        catalyst=[(1.0, 2.0), (3.0, 4.0), (4.5, 6.0)],  # last one overlaps a job
        jobs=[(2.5, 3.5), (5.0, 8.0)])
    assert parts["jobs"] == pytest.approx(4.0)
    assert parts["catalyst"] == pytest.approx(1.0 + 0.5 + 0.5)
    assert parts["build"] == pytest.approx(3.0 - 1.0 - 0.5)  # minus catalyst and job
    assert parts["gap"] == pytest.approx(10.0 - 4.0 - 2.0 - 1.5)
    total = parts["build"] + parts["catalyst"] + parts["jobs"] + parts["gap"]
    assert total == pytest.approx(parts["wall"])


def test_decompose_clips_work_outside_the_op():
    # a cached plan's analysis ran long before this op; it must not count
    parts = measure.decompose(op=(100.0, 101.0), build=(100.0, 100.2),
                              catalyst=[(10.0, 11.0)], jobs=[(100.5, 102.0)])
    assert parts["catalyst"] == 0.0
    assert parts["jobs"] == pytest.approx(0.5)
    assert parts["gap"] == pytest.approx(0.3)
    assert parts["gap"] >= 0


def test_plan_node_count_reads_only_the_final_plan():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   *(2) Project [a]\n"
        "   +- MapInPandas f(x), [a]\n"
        "      +- PythonMapInArrow g(y), [b]\n"
        "+- == Initial Plan ==\n"
        "   MapInPandas f(x), [a]\n"
    )
    assert measure.plan_node_count(plan, {"MapInPandas", "PythonMapInArrow"}) == 2
    assert measure.plan_node_count(plan, {"MapInArrow"}) == 0


# -- pandas model of the mutation sequence ------------------------------------

def _frame(rows):
    return pd.DataFrame(rows, columns=["k", "v", "x"])


def test_model_follows_a_known_sequence():
    m = KeyedModel(_frame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]), "k")
    m.put(_frame([(2, "B", 20.0), (4, "d", 4.0)]))  # update 2, add 4
    m.update(3, {"v": "C"})
    m.update(99, {"v": "nope"})  # no such key: no-op
    m.delete(1)
    m.delete(42)  # no such key: no-op
    m.insert(_frame([(5, "e", 5.0)]))
    with pytest.raises(ValueError):
        m.insert(_frame([(5, "dup", 0.0)]))
    events = pd.DataFrame(
        [(6, "f", 6.0, 0, 0),  # insert
         (2, "x", 0.0, EVENT_DELETE, 1),  # delete ...
         (2, "B2", 22.0, 1, 2),  # ... then update: last event wins -> upsert
         (4, "d", 4.0, EVENT_DELETE, 3),  # delete
         (6, "F", 66.0, 1, 4)],  # insert then update conflates to the update
        columns=["k", "v", "x", "ev", "seq"])
    m.cdc(events.sample(frac=1.0, random_state=7), "ev", "seq")  # arrival order is irrelevant
    got = m.frame()
    assert list(got.itertuples(index=False, name=None)) == [
        (2, "B2", 22.0), (3, "C", 3.0), (5, "e", 5.0), (6, "F", 66.0)]
    assert m.lookup(3).to_dict("records") == [{"k": 3, "v": "C", "x": 3.0}]
    assert m.lookup(1).empty


# -- BENCHMARK.json matches what the command prints ---------------------------

def test_benchmark_json_names_the_printed_metrics():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    layers = {k: unit for k, (_, unit) in run.layer_metrics([], 0.0).items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# -- WITH ERROR check ---------------------------------------------------------

def test_ht_sums_of_a_weighted_sample():
    from workloads import Z_95, ht_sums

    got = ht_sums(pd.Series(["A", "A", "B"]), pd.Series([1.0, 2.0, 3.0]), pd.Series([10.0, 10.0, 2.0]))
    assert got["A"] == pytest.approx((30.0, Z_95 * (90.0 + 360.0) ** 0.5))
    assert got["B"] == pytest.approx((6.0, Z_95 * 18.0 ** 0.5))


def test_approx_answer_accepts_the_estimate_or_the_exact_rerun():
    from workloads import approx_answer_ok

    def answer(rows):
        return pd.DataFrame(rows, columns=["g", "rev", "absolute_error", "lower_bound", "upper_bound"])

    exact = {"A": 100.0, "B": 50.0}
    est = lambda: {"A": (90.0, 15.0), "B": (55.0, 2.0)}
    sampled = answer([("A", 90.0, 15.0, 75.0, 105.0), ("B", 55.0, 2.0, 53.0, 57.0)])
    rerun = answer([("A", 100.0, 0.0, 100.0, 100.0), ("B", 50.0, 0.0, 50.0, 50.0)])
    # B's interval misses the exact 50 and is still right: the estimate is
    # recomputed from the sample, coverage of the truth is not required
    assert approx_answer_ok(sampled, "rev", "g", exact, est)
    assert approx_answer_ok(rerun, "rev", "g", exact, est)
    assert not approx_answer_ok(answer([("A", 90.0, 15.0, 75.0, 105.0), ("B", 55.1, 2.0, 53.1, 57.1)]),
                                "rev", "g", exact, est)
    assert not approx_answer_ok(answer([("A", 90.0, 14.0, 76.0, 104.0), ("B", 55.0, 2.0, 53.0, 57.0)]),
                                "rev", "g", exact, est)
    assert not approx_answer_ok(answer([("A", 100.0, 0.0, 100.0, 100.0)]), "rev", "g", exact, est)


# -- cache keys ---------------------------------------------------------------

def test_checksum_follows_sources_not_bytecode(tmp_path):
    import run

    pkg = tmp_path / "pkg"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    (tmp_path / "tool.py").write_text("y = 2\n")
    key = lambda: run.checksum(("pkg", "tool.py"), "salt", root=str(tmp_path))
    first = key()
    (pkg / "__pycache__" / "a.cpython-311.pyc").write_bytes(b"\0")
    assert key() == first
    (pkg / "a.py").write_text("x = 2\n")
    second = key()
    assert second != first
    (pkg / "b.py").write_text("")
    assert key() != second
    assert run.checksum(("pkg", "tool.py"), "other", root=str(tmp_path)) != key()
