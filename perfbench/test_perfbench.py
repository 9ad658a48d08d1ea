"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


# -- percentile rule -----------------------------------------------------------
def test_tail_small_sample_falls_back_to_median_and_states_count():
    assert stats.tail([3.0, 1.0, 2.0]) == (50.0, 2.0, 3)
    assert stats.tail(list(range(10))) == (50.0, 4.5, 10)
    # 11..19 samples: the highest percentile with ten beyond is below p50
    assert stats.tail([float(i) for i in range(11)]) == (50.0, 5.0, 11)
    assert stats.tail([float(i) for i in range(19)]) == (50.0, 9.0, 19)


def test_tail_at_twenty_samples_is_the_median_rank():
    vals = [float(i) for i in range(1, 21)]
    assert stats.tail(vals) == (50.0, 10.0, 20)


def test_tail_keeps_ten_samples_beyond_the_percentile():
    vals = [float(i) for i in range(1, 31)]  # 30 samples
    p, v, n = stats.tail(vals)
    assert n == 30
    assert p == pytest.approx(100.0 * 20 / 30)
    assert v == 20.0
    assert sum(1 for x in vals if x > v) == 10


def test_tail_reaches_target_with_enough_samples():
    vals = [float(i) for i in range(1, 201)]  # 200 samples: p90 has 20 beyond
    assert stats.tail(vals) == (90.0, 180.0, 200)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail([])


# -- span self time --------------------------------------------------------------
def test_self_time_without_children_is_duration():
    assert stats.self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlap_once_and_clips_to_parent():
    kids = [(1.0, 4.0), (2.0, 5.0), (9.0, 12.0), (-2.0, 0.5)]
    # covered: [0, 0.5] + [1, 5] + [9, 10] = 5.5
    assert stats.self_time(0.0, 10.0, kids) == pytest.approx(4.5)


def test_self_time_ignores_empty_children():
    assert stats.self_time(0.0, 2.0, [(1.0, 1.0), (3.0, 4.0)]) == pytest.approx(2.0)


# -- metric names ------------------------------------------------------------------
@pytest.mark.parametrize("name", ["setup_s", "binding.read_s", "exec.busy_frac", "a", "9x"])
def test_valid_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"])
def test_invalid_names(name):
    assert not stats.valid_name(name)


def test_units():
    for unit in ("s", "ms", "B", "MB", "count", "ratio", "rows/s", "%"):
        assert stats.valid_unit(unit)
    for unit in ("", "a b", "x" * 17):
        assert not stats.valid_unit(unit)


def test_benchmark_json_matches_what_run_prints():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == {
        k: u for k, (u, _) in run.PER_LAYER.items()}
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"] + BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_name(n) for n in names)
    assert all(stats.valid_unit(m["unit"]) for m in BENCH["end_to_end"] + BENCH["per_layer"])
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)


# -- seeds -----------------------------------------------------------------------
def test_same_seed_same_plan():
    names = [f"q{i}" for i in range(12)]
    a, b = datagen.Plan(7), datagen.Plan(7)
    assert [a.order(names) for _ in range(3)] == [b.order(names) for _ in range(3)]
    assert a.stream_cuts(10_000, 3) == b.stream_cuts(10_000, 3)
    assert a.key_range(0, 15_000, 1_500) == b.key_range(0, 15_000, 1_500)


def test_other_seed_other_plan():
    names = [f"q{i}" for i in range(12)]
    assert datagen.Plan(1).order(names) != datagen.Plan(2).order(names)
    assert datagen.Plan(1).stream_cuts(10_000, 3) != datagen.Plan(2).stream_cuts(10_000, 3)


def test_stream_cuts_split_every_row_into_non_empty_files():
    for seed in range(20):
        cuts = datagen.Plan(seed).stream_cuts(10_000, 4)
        bounds = [0] + cuts + [10_000]
        sizes = [b - a for a, b in zip(bounds, bounds[1:])]
        assert len(sizes) == 4 and sum(sizes) == 10_000
        assert min(sizes) >= 10_000 // 16


def test_key_range_inside_bounds():
    for seed in range(20):
        lo, hi = datagen.Plan(seed).key_range(0, 15_000, 1_500)
        assert 0 <= lo and hi <= 15_000 and hi - lo == 1_500


def test_generated_tables_are_the_ones_answers_were_made_from():
    assert datagen.fingerprint(datagen.base_tables()) == run.load_expected()["fingerprint"]


# -- answer fingerprint ------------------------------------------------------------
def test_answer_ignores_row_and_column_order():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", None)]
    swapped = [("b", 2, None), ("a", 1, 0.3)]
    assert stats.answer(rows, ["k", "s", "x"]) == stats.answer(swapped, ["s", "k", "x"])


def test_answer_sees_a_changed_value():
    assert stats.answer([(1,)], ["k"]) != stats.answer([(2,)], ["k"])
