"""scripts/measure.py: query-name checks before any JVM, the A/B summary
and pair order (Spark-free), and one event-log profile."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEASURE = os.path.join(REPO, "scripts", "measure.py")
sys.path.insert(0, os.path.join(REPO, "scripts"))

import measure  # noqa: E402


def _run(args, env=None, timeout=120):
    return subprocess.run(
        [sys.executable, MEASURE, *args],
        env={**os.environ, **(env or {})},
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_unknown_query_exits_2_before_a_jvm_starts(tmp_path):
    # with no Spark installation to launch, any attempt to start a JVM
    # would fail with another error than the name check's exit 2
    no_spark = {"SPARK_HOME": str(tmp_path)}
    for args in (
        ["time", "no_such_query"],
        ["ab", "--a", REPO, "--b", REPO, "tpch_q1_pricing_summary", "no_such_query"],
    ):
        t0 = time.monotonic()
        out = _run(args, env=no_spark)
        assert time.monotonic() - t0 < 10
        assert out.returncode == 2, out.stderr
        assert "no_such_query" in out.stderr
        assert "tpch_q1_pricing_summary" not in out.stderr


def test_pairs_alternate_which_side_goes_first():
    assert [measure.pair_order(i) for i in range(4)] == [
        ("A", "B"), ("B", "A"), ("A", "B"), ("B", "A"),
    ]


def test_ab_summary_medians_quartiles_and_wins():
    sf = "sf"
    a = [{sf: {"q": v}} for v in (1.0, 2.0, 3.0, 4.0)]
    b = [{sf: {"q": v}} for v in (1.5, 1.0, 2.0, 5.0)]
    (line,) = measure.summary(a, b)
    # statistics.quantiles(n=4) of 1, 2, 3, 4 is 1.25, 2.5, 3.75
    assert "A 2.500 s [1.250, 3.750]" in line
    assert "B 1.750 s [1.125, 4.250]" in line
    assert "B faster in 2/4 pairs" in line
    (one,) = measure.summary([{sf: {"q": 2.0}}], [{sf: {"q": 1.0}}])
    assert "A 2.000 s [2.000, 2.000]" in one and "B faster in 1/1 pairs" in one


def test_profile_reports_event_log_layers():
    out = _run(["profile", "tpch_q6_forecast_revenue"], timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    row = json.loads(out.stdout.strip().splitlines()[-1])["tpch_q6_forecast_revenue"]
    assert row["jobs"] >= 1
    assert row["in_job_s"] > 0
    assert row["build_s"] > 0 and row["exec_s"] > 0
