"""scripts/ab_run.py refuses an A/B that does not name exactly two values."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("vals", ["auto", "auto,persist,auto"])
def test_ab_vals_must_name_two_values(vals):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "ab_run.py"), "tpch_q1_pricing_summary"],
        env={**os.environ, "AB_VALS": vals},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 2
    assert "exactly two values" in out.stderr
