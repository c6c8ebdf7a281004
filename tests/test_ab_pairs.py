"""The paired A/B rule of tools/ab_pairs.py: a gain holds only when the
change wins at least nine tenths of the pairs (ties count for neither
side) and the medians differ by more than the parent's quartile
spread, in the metric's better direction."""

from __future__ import annotations

from tools.ab_pairs import compare, selected_metrics


def test_clear_gain_holds_both_directions():
    parent = [5.0, 5.1, 4.9, 5.2, 5.0, 4.8, 5.1, 5.0, 4.9, 5.3]
    change = [p * 0.8 for p in parent]
    res = compare(list(zip(parent, change)), "lower")
    assert res["wins"] == 10 and res["holds"]
    assert res["change"][1] < res["parent"][1]
    rates = compare([(1 / p, 1 / c) for p, c in zip(parent, change)], "higher")
    assert rates["wins"] == 10 and rates["holds"]
    assert not compare(list(zip(parent, change)), "higher")["holds"]


def test_eight_wins_of_ten_do_not_hold():
    pairs = [(5.0, 4.0)] * 8 + [(5.0, 6.0)] * 2
    res = compare(pairs, "lower")
    assert res["wins"] == 8 and not res["holds"]


def test_ties_count_for_neither_side():
    pairs = [(5.0, 4.0)] * 8 + [(5.0, 5.0)] * 2
    res = compare(pairs, "lower")
    assert res["wins"] == 8 and not res["holds"]


def test_win_inside_parent_spread_does_not_hold():
    parent = [4.0, 6.0, 4.0, 6.0, 4.0, 6.0, 4.0, 6.0, 4.0, 6.0]
    change = [p - 0.1 for p in parent]
    res = compare(list(zip(parent, change)), "lower")
    assert res["wins"] == 10 and not res["holds"]


def test_trace_adds_every_per_layer_metric_with_its_direction():
    bench = {
        "end_to_end": [
            {"name": "op_p50_s", "better": "lower"},
            {"name": "ops_per_s", "better": "higher"},
        ],
        "per_layer": [
            {"name": "exec.tasks", "better": "lower"},
            {"name": "protofeed.entities_per_s", "better": "higher"},
        ],
    }
    assert selected_metrics(bench, trace=False) == {
        "op_p50_s": (False, "lower"),
        "ops_per_s": (False, "higher"),
    }
    assert selected_metrics(bench, trace=True) == {
        "op_p50_s": (False, "lower"),
        "ops_per_s": (False, "higher"),
        "exec.tasks": (True, "lower"),
        "protofeed.entities_per_s": (True, "higher"),
    }
