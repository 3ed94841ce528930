"""Scoring and verdict when-chains: field-for-field parity with the
reference formulas (quality_scorer.py, missing_values.py, duplicates.py,
outliers.py decision trees)."""

import pytest
from pyspark.sql import functions as F

from data_drift_monitoring_spark.functions import verdicts as V
from data_drift_monitoring_spark.functions.scoring import overall_score, quick_score


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


@pytest.mark.parametrize(
    "pct,expected",
    [(0.0, "low"), (9.99, "low"), (10.0, "medium"), (49.9, "medium"), (50.0, "high")],
)
def test_missing_severity(spark, pct, expected):
    assert _eval(spark, V.missing_severity(F.lit(pct))) == expected


@pytest.mark.parametrize(
    "pct,expected",
    [(0.0, "none"), (0.5, "low"), (1.0, "medium"), (4.9, "medium"), (5.0, "high")],
)
def test_duplicate_severity(spark, pct, expected):
    assert _eval(spark, V.duplicate_severity(F.lit(pct))) == expected


@pytest.mark.parametrize(
    "pct,expected",
    [
        (0.0, "no_action"),
        (0.5, "keep_first"),
        (3.0, "review_and_remove"),
        (10.0, "investigate_cause"),
        (25.0, "major_issue_investigate"),
    ],
)
def test_duplicate_recommendation(spark, pct, expected):
    assert _eval(spark, V.duplicate_recommendation(F.lit(pct))) == expected


@pytest.mark.parametrize(
    "pct,skew,expected",
    [
        (0.0, 0.0, "no_action"),
        (0.5, 0.0, "investigate"),
        (3.0, 2.0, "transform_log"),
        (3.0, 0.5, "winsorize"),
        (7.0, 0.0, "clip_bounds"),
        (15.0, 0.0, "investigate_data_quality"),
    ],
)
def test_outlier_recommendation(spark, pct, skew, expected):
    assert (
        _eval(spark, V.outlier_recommendation(F.lit(pct), F.lit(skew)))
        == expected
    )


@pytest.mark.parametrize(
    "psi,expected", [(0.05, "none"), (0.15, "moderate"), (0.30, "large")]
)
def test_psi_classification(psi, expected):
    from data_drift_monitoring_spark.operators.drift import psi_severity

    assert psi_severity(psi) == expected


@pytest.mark.parametrize(
    "score,expected",
    [
        (95.0, "Excellent"),
        (85.0, "Very Good"),
        (75.0, "Good"),
        (65.0, "Fair"),
        (55.0, "Poor"),
        (20.0, "Critical"),
    ],
)
def test_grade(spark, score, expected):
    assert _eval(spark, V.grade(F.lit(score))) == expected


def test_overall_score_weights(spark):
    # 10% missing, 0% dup, 0% outlier → 90*0.3 + 100*0.25 + 100*0.25 + 100*0.2
    got = _eval(
        spark, overall_score(F.lit(10.0), F.lit(0.0), F.lit(0.0))
    )
    assert got == round(90 * 0.30 + 100 * 0.25 + 100 * 0.25 + 100 * 0.20, 2)


def test_overall_score_clamps_at_zero(spark):
    got = _eval(
        spark, overall_score(F.lit(100.0), F.lit(100.0), F.lit(250.0))
    )
    assert got == 20.0  # only the schema component remains


def test_quick_score(spark):
    # quality_check.py:282: 100 - (miss*0.3 + dup*0.7)
    assert _eval(spark, quick_score(F.lit(10.0), F.lit(10.0))) == 90.0


def test_missing_recommendation_dtype_tree(spark):
    rec = V.missing_recommendation
    assert (
        _eval(spark, rec(F.lit(60.0), F.lit("double"), F.lit(0.0)))
        == "drop_column"
    )
    assert (
        _eval(spark, rec(F.lit(5.0), F.lit("double"), F.lit(2.0)))
        == "impute_median"
    )
    assert (
        _eval(spark, rec(F.lit(5.0), F.lit("double"), F.lit(0.2)))
        == "impute_mean"
    )
    assert (
        _eval(spark, rec(F.lit(5.0), F.lit("string"), F.lit(None).cast("double")))
        == "impute_mode"
    )
    assert (
        _eval(spark, rec(F.lit(5.0), F.lit("timestamp"), F.lit(0.0)))
        == "forward_fill"
    )


def test_remediation_rules_engine(spark, tmp_path):
    """Rules engine: failed verdicts → prioritized actions with snippet
    substitution; JSON rules file round-trips; unmatched (check, severity)
    falls back to investigate/medium."""
    import json

    from data_drift_monitoring_spark.functions.remediation import (
        DEFAULT_RULES,
        load_rules,
        remediation_plan,
        remediation_report,
    )

    verdicts = spark.createDataFrame(
        [
            (0, "missing_values", "name", 60.0, 60.0, "high", "drop_column", False),
            (0, "uniqueness", "doc_id", 5.0, 2.0, "medium", "review_and_remove", False),
            (1, "referential", "source", 1.0, 0.5, "low", "quarantine_unknown_sources", False),
            (1, "missing_values", "age", 0.0, 0.0, "low", "no_action", True),
            (1, "custom_check", "x", 1.0, 1.0, "weird", "n/a", False),
        ],
        "part_id int, check string, column string, value double, pct double,"
        " severity string, recommendation string, passed boolean",
    )
    plan = remediation_plan(verdicts).collect()
    by = {(r["part_id"], r["check"]): r for r in plan}
    assert len(plan) == 4  # the passed row is excluded
    assert by[(0, "missing_values")]["action"] == "drop_column"
    assert by[(0, "missing_values")]["snippet"] == "df = df.drop('name')"
    assert by[(0, "missing_values")]["priority"] == "high"
    assert by[(1, "custom_check")]["action"] == "investigate"
    assert by[(1, "custom_check")]["priority"] == "medium"
    # priority-sorted: first row is the high one
    assert plan[0]["priority"] == "high"

    # JSON rules file round-trip (remediation_rules.json semantics)
    p = tmp_path / "remediation_rules.json"
    p.write_text(json.dumps([
        {"check": c, "severity": s, "priority": pr, "action": a, "snippet": sn}
        for c, s, pr, a, sn in DEFAULT_RULES
    ]))
    assert load_rules(str(p)) == DEFAULT_RULES

    rep = {r["part_id"]: r for r in remediation_report(
        remediation_plan(verdicts), "r1").collect()}
    assert rep[0]["n_actions"] == 2 and rep[0]["n_high"] == 1
    assert "df = df.drop('name')" in rep[0]["actions_json"]
