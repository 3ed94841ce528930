"""Smoke tests of the benchmark itself: every workload on tiny inputs,
traced and untraced, with the per-pass correctness check, plus a check that
the recount catches a wrong verdict.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace),
         "--rows", "4000"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload",
                         ["flagship", "checks_persist", "service_tabular"])
def test_tiny_traced_run_is_correct_and_reports_every_layer(workload):
    res = _run(workload, trace=1)
    assert res["correct"] and res["failed"] == 0, res
    # warm-up, one timed pass, one traced pass
    assert res["attempted"] == 3
    assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert res["metrics"]["pass.jobs"]["value"] > 0
    assert res["metrics"]["pass.scan_ratio"]["value"] >= 1.0


def test_tiny_untraced_run_reports_end_to_end_metrics():
    res = _run("flagship", trace=0)
    assert res["correct"] and res["failed"] == 0, res
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


def test_recount_flags_a_wrong_verdict(tmp_path):
    import workloads

    wl = workloads.ChecksPersist(None, str(tmp_path), 3, 20000)
    from data_drift_monitoring_spark.generator import generate_sequences

    wl.cur_path = generate_sequences(str(tmp_path / "cur"), "cur_drifted",
                                     wl.rows, workloads.PARTS, 3)
    wl.ref_path = generate_sequences(str(tmp_path / "ref"), "ref", wl.rows,
                                     workloads.PARTS, 3)
    expect = wl.facts()
    assert expect["parts"][2]["null_doc_id"] > 0
    assert expect["parts"][3]["duplicate_rows"] > 0
    assert expect["parts"][4]["unknown_source"] > 0
    assert expect["parts"][5]["len_mismatch"] > 0

    verdicts = [
        {"part_id": p, "check": c, "column": col, "value": f[field],
         "passed": f[field] == 0}
        for p, f in expect["parts"].items()
        for (c, col), field in workloads._RECOUNTED.items()
    ] + [
        {"part_id": p, "check": c, "column": col, "value": 0.5,
         "passed": (p, col) not in wl.drifted}
        for p in expect["parts"] for c, col in workloads._DRIFT_ROWS
    ]
    score = [{"part_id": p} for p in expect["parts"]]
    assert wl.check_verdicts(verdicts, score) == []

    verdicts[0] = dict(verdicts[0], value=verdicts[0]["value"] + 1)
    assert len(wl.check_verdicts(verdicts, score)) == 1
