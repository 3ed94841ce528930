"""Independent drift oracle: the statistics as Spark column algebra.

Every drift statistic the engine reports comes from the numpy kernel
``operators.drift._drift_from_counts``. This module computes the same
statistics a second way — windows, joins and aggregates over the
histogram rows — so tests can compare the two. Conventions by spec:
proportions clamped at ``PSI_EPS`` inside the PSI log, JS with
0·log(0)=0, chi-square over bins non-empty in either sample with
dof = nonzero_bins - 1, KS as the largest ECDF gap over the bin universe
(ref bins ∪ cur bins) in bin order. Numeric columns get KS from the
per-value histogram and PSI/JS/chi-square from reference-quantile
buckets (``numeric_drift``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from data_drift_monitoring_spark.config import DEFAULT_CONFIG, EngineConfig
from data_drift_monitoring_spark.functions.pvalues import (
    chi2_sf,
    ks_2samp_pvalue,
)

PSI_EPS = 1e-6


def psi_classification(psi, t=DEFAULT_CONFIG.thresholds):
    """README.md:49: <0.1 no drift, 0.1-0.25 moderate, >0.25 large."""
    return (
        F.when(psi < t.psi_moderate, "none")
        .when(psi < t.psi_large, "moderate")
        .otherwise("large")
    )


def drift_stats(
    cur_hist: DataFrame,
    ref_hist: DataFrame,
    partition_col: str | None = "part_id",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Compare per-partition current histograms against a reference.

    cur_hist: (part_id?, col, bin, cnt); ref_hist: (col, bin, cnt).

    Returns one row per (part_id?, col):
      n_cur, n_ref, psi, psi_drift, js_divergence, chi2_stat, chi2_dof,
      ks_stat — every statistic exact given the histograms.
    """
    keys = [partition_col, "col"] if partition_col else ["col"]
    ref = ref_hist.select("col", "bin", F.col("cnt").alias("ref_cnt"))
    cur = cur_hist.select(*keys, "bin", F.col("cnt").alias("cur_cnt")).cache()

    # bin universe per group = ref bins ∪ cur bins (ref side is broadcast)
    groups = cur.select(*keys).distinct()
    ref_bins = groups.join(
        F.broadcast(ref.select("col", "bin")), on="col", how="inner"
    ).select(*keys, "bin")
    universe = ref_bins.unionByName(cur.select(*keys, "bin")).distinct()

    m = (
        universe.join(cur, on=[*keys, "bin"], how="left")
        .join(F.broadcast(ref), on=["col", "bin"], how="left")
        .fillna(0, subset=["cur_cnt", "ref_cnt"])
    )

    w = Window.partitionBy(*keys)
    wo = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_cur = F.sum("cur_cnt").over(w)
    n_ref = F.sum("ref_cnt").over(w)
    p = F.col("cur_cnt") / n_cur
    q = F.col("ref_cnt") / n_ref
    p_c = F.greatest(p, F.lit(PSI_EPS))
    q_c = F.greatest(q, F.lit(PSI_EPS))
    mid = (p + q) / 2

    # chi-square 2×k contingency: E = row_total * col_total / grand_total
    tot = F.col("cur_cnt") + F.col("ref_cnt")
    e_cur = n_cur * tot / (n_cur + n_ref)
    e_ref = n_ref * tot / (n_cur + n_ref)

    terms = m.select(
        *keys,
        n_cur.alias("n_cur"),
        n_ref.alias("n_ref"),
        ((p - q) * F.log(p_c / q_c)).alias("psi_term"),
        (
            F.when(p > 0, 0.5 * p * F.log(p / mid)).otherwise(0.0)
            + F.when(q > 0, 0.5 * q * F.log(q / mid)).otherwise(0.0)
        ).alias("js_term"),
        F.when(
            tot > 0,
            F.pow(F.col("cur_cnt") - e_cur, 2) / e_cur
            + F.pow(F.col("ref_cnt") - e_ref, 2) / e_ref,
        )
        .otherwise(0.0)
        .alias("chi2_term"),
        (tot > 0).cast("long").alias("nonzero_bin"),
        F.abs(
            F.sum(F.col("cur_cnt")).over(wo) / n_cur
            - F.sum(F.col("ref_cnt")).over(wo) / n_ref
        ).alias("ecdf_gap"),
    )

    out = terms.groupBy(*keys).agg(
        F.first("n_cur").alias("n_cur"),
        F.first("n_ref").alias("n_ref"),
        F.sum("psi_term").alias("psi"),
        F.sum("js_term").alias("js_divergence"),
        F.sum("chi2_term").alias("chi2_stat"),
        (F.sum("nonzero_bin") - 1).alias("chi2_dof"),
        F.max("ecdf_gap").alias("ks_stat"),
    )
    return out.withColumn("psi_drift", psi_classification(F.col("psi")))


def quantile_edges_from_hist(
    ref_hist, col: str, bins: int = DEFAULT_CONFIG.drift_bins
) -> list[float]:
    """Quantile bin edges from a (tiny) reference per-value histogram:
    interior edges (ascending, deduplicated)."""
    rows = (
        ref_hist.filter(F.col("col") == col)
        .select(F.col("bin").cast("double").alias("v"), "cnt")
        .orderBy("v")
        .collect()
    )
    if not rows:
        return []
    vals = np.array([r["v"] for r in rows])
    cnts = np.array([r["cnt"] for r in rows], dtype=np.float64)
    cum = np.cumsum(cnts) / cnts.sum()
    targets = np.arange(1, bins) / bins
    idx = np.searchsorted(cum, targets)
    edges = sorted(set(vals[np.clip(idx, 0, len(vals) - 1)].tolist()))
    return [float(e) for e in edges]


def rebin_histogram(hist: DataFrame, col: str, edges: list[float]) -> DataFrame:
    """Map a per-value histogram's numeric bins into coarse quantile buckets:
    bucket = #edges ≤ value. Non-matching cols pass through untouched."""
    keys = [c for c in hist.columns if c not in ("col", "bin", "cnt")]
    v = F.col("bin").cast("double")
    bucket = sum((v > F.lit(e)).cast("int") for e in edges)
    target = hist.filter(F.col("col") == col)
    out = (
        target.select(
            *keys, "col", F.lpad(bucket.cast("string"), 6, "0").alias("bin"), "cnt"
        )
        .groupBy(*keys, "col", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    rest = hist.filter(F.col("col") != col)
    return out.unionByName(rest.select(*keys, "col", "bin", "cnt"))


def numeric_drift(
    cur_fine: DataFrame,
    ref_fine: DataFrame,
    col: str,
    partition_col: str | None = "part_id",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Composite numeric drift: KS from the exact per-value histogram,
    PSI/JS/chi-square from the quantile-rebinned histogram."""
    keys = [partition_col, "col"] if partition_col else ["col"]
    cur_fine = cur_fine.cache()
    edges = quantile_edges_from_hist(ref_fine, col, config.drift_bins)
    fine = drift_stats(cur_fine, ref_fine, partition_col, config).select(
        *keys, "n_cur", "n_ref", "ks_stat"
    )
    coarse = drift_stats(
        rebin_histogram(cur_fine, col, edges),
        rebin_histogram(ref_fine, col, edges),
        partition_col,
        config,
    ).drop("ks_stat", "n_cur", "n_ref")
    return fine.join(coarse, on=keys, how="inner")


def with_drift_pvalues(
    drift: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Attach asymptotic p-values (KS, chi-square) via pandas UDFs over the
    drift-stat rows, plus significance verdicts."""
    from pyspark.sql.functions import pandas_udf

    chi2_sf_vec = np.vectorize(chi2_sf, otypes=[np.float64])
    ks_2samp_pvalue_vec = np.vectorize(ks_2samp_pvalue, otypes=[np.float64])

    @pandas_udf("double")
    def _ks_p(d: pd.Series, n1: pd.Series, n2: pd.Series) -> pd.Series:
        return pd.Series(
            ks_2samp_pvalue_vec(
                d.to_numpy(float), n1.to_numpy(float), n2.to_numpy(float)
            )
        )

    @pandas_udf("double")
    def _chi2_p(stat: pd.Series, dof: pd.Series) -> pd.Series:
        return pd.Series(
            chi2_sf_vec(stat.to_numpy(float), dof.to_numpy(float))
        )

    t = config.thresholds
    return (
        drift.withColumn(
            "ks_pvalue", _ks_p(F.col("ks_stat"), F.col("n_cur"), F.col("n_ref"))
        )
        .withColumn(
            "chi2_pvalue",
            _chi2_p(F.col("chi2_stat"), F.col("chi2_dof").cast("double")),
        )
        .withColumn("ks_significant", F.col("ks_pvalue") < t.ks_alpha)
        .withColumn("chi2_significant", F.col("chi2_pvalue") < t.chi2_alpha)
        .withColumn(
            "drift_detected",
            (F.col("psi") >= t.psi_moderate)
            | F.col("ks_significant")
            | F.col("chi2_significant"),
        )
    )
