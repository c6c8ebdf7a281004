"""Smoke test of tools/ab_keys.py: a one-pass paired cold sweep of two
keys, the checkout against itself."""

from __future__ import annotations

import os

from tools.ab_keys import main

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_paired_sweep_prints_medians_and_ratios(capsys):
    keys = ["q1_pricing_summary", "kpi_hourly"]
    assert main([
        "--parent", ROOT, "--change", ROOT, "--sf-dir", SF_DIR,
        "--passes", "1", "--keys", *keys,
    ]) == 0
    rows = {line.split()[0]: line.split() for line in capsys.readouterr().out.splitlines()}
    for key in [*keys, "TOTAL"]:
        parent_s, change_s, ratio = map(float, rows[key][1:4])
        assert parent_s > 0 and change_s > 0 and ratio > 0
