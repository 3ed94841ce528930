"""Severity / recommendation when-chains (SURVEY.md §2.8 F3-F5).

Each function is a Column expression evaluated on the *tiny* aggregated stats
DataFrames — never on raw rows. Threshold provenance is in config.py; the
decision trees mirror:

- missing severity/recommendation: ``missing_values.py:63-69, 99-141``
- duplicate severity/recommendation: ``duplicates.py:146-184``
- outlier severity/recommendation: ``outliers.py:279-322``
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ..config import DEFAULT_CONFIG, Thresholds

_T = DEFAULT_CONFIG.thresholds


def missing_severity(pct: Column, t: Thresholds = _T) -> Column:
    return (
        F.when(pct >= t.missing_error_pct, "high")
        .when(pct >= t.missing_warn_pct, "medium")
        .otherwise("low")
    )


def missing_recommendation(
    pct: Column, dtype: Column, skewness: Column, t: Thresholds = _T
) -> Column:
    """dtype × pct × skew decision tree (missing_values.py:99-141)."""
    numeric = dtype.isin(
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ) | dtype.startswith("decimal")
    return (
        F.when(pct >= t.missing_error_pct, "drop_column")
        .when(
            numeric,
            F.when(
                F.abs(F.coalesce(skewness, F.lit(0.0)))
                > t.skew_transform_threshold,
                "impute_median",
            ).otherwise("impute_mean"),
        )
        .when(dtype == "string", "impute_mode")
        .when(dtype == "boolean", "impute_mode")
        .when(dtype.startswith("timestamp") | (dtype == "date"), "forward_fill")
        .otherwise("investigate")
    )


def duplicate_severity(pct: Column, t: Thresholds = _T) -> Column:
    return (
        F.when(pct == 0, "none")
        .when(pct < t.dup_low_pct, "low")
        .when(pct < t.dup_medium_pct, "medium")
        .otherwise("high")
    )


def duplicate_recommendation(pct: Column, t: Thresholds = _T) -> Column:
    return (
        F.when(pct == 0, "no_action")
        .when(pct < t.dup_low_pct, "keep_first")
        .when(pct < t.dup_medium_pct, "review_and_remove")
        .when(pct < t.dup_major_pct, "investigate_cause")
        .otherwise("major_issue_investigate")
    )


def outlier_severity(pct: Column, t: Thresholds = _T) -> Column:
    return (
        F.when(pct == 0, "none")
        .when(pct < t.outlier_low_pct, "low")
        .when(pct < t.outlier_medium_pct, "medium")
        .otherwise("high")
    )


def outlier_recommendation(
    pct: Column, skewness: Column, t: Thresholds = _T
) -> Column:
    return (
        F.when(pct == 0, "no_action")
        .when(pct < t.outlier_low_pct, "investigate")
        .when(
            pct < t.outlier_medium_pct,
            F.when(
                F.abs(F.coalesce(skewness, F.lit(0.0)))
                > t.skew_transform_threshold,
                "transform_log",
            ).otherwise("winsorize"),
        )
        .when(pct < t.outlier_clip_pct, "clip_bounds")
        .otherwise("investigate_data_quality")
    )


def grade(score: Column) -> Column:
    """Score → letter grade (quality_scorer.py:145-166)."""
    return (
        F.when(score >= 90, "Excellent")
        .when(score >= 80, "Very Good")
        .when(score >= 70, "Good")
        .when(score >= 60, "Fair")
        .when(score >= 50, "Poor")
        .otherwise("Critical")
    )
