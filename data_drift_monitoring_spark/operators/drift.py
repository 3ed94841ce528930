"""Distribution drift: PSI, KS, Jensen-Shannon, chi-square.

The reference's drift modules are 0-byte stubs
(``backend/app/core/drift/{psi,ks_test,chi_square,jensen_shannon}.py``); the
promised semantics are in ``README.md:42-62``: KS two-sample test, PSI with
0.1/0.25 thresholds, chi-square contingency, Jensen-Shannon divergence.

Distributed shape: drift is computed from HISTOGRAMS, never raw rows. Spark
aggregates the current table into per-partition histograms and the
reference snapshot into one; both are bounded by partitions × bins rows
whatever the row count (32 × (2048 + sources) for the flagship's n_tok and
source). ``drift_stats`` collects the two histograms and finishes every
statistic, p-value and flag on the driver with one numpy kernel
(``_drift_from_counts``) per (partition, column) group, then returns the
rows as a local relation — no Python worker, no window or join stages.
Per-value bins on a bounded int domain (n_tok ∈ [1, 2048]) make the binned
ECDF, and so KS, exact; a global sort of 10^12 raw values is never needed
(SURVEY.md §7.4.4).

Zero-bin convention (documented, mirrored by the DuckDB oracle in
``__spark_entry__``): proportions are clamped at EPS=1e-6 inside the PSI log;
JS uses the 0·log(0)=0 convention; chi-square skips bins empty in both
samples and uses dof = nonzero_bins - 1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..config import DEFAULT_CONFIG, EngineConfig, Thresholds
from ..functions.pvalues import chi2_sf, ks_2samp_pvalue

PSI_EPS = 1e-6

# per-(partition?, col) statistics, in output column order
_STATS_SCHEMA = (
    "n_cur long, n_ref long, psi double, js_divergence double, "
    "ks_stat double, chi2_stat double, chi2_dof long, ks_pvalue double, "
    "chi2_pvalue double, psi_drift string, ks_significant boolean, "
    "chi2_significant boolean, drift_detected boolean"
)


def psi_severity(psi: float, t: Thresholds = DEFAULT_CONFIG.thresholds) -> str:
    """README.md:49: <0.1 no drift, 0.1-0.25 moderate, >0.25 large."""
    if psi < t.psi_moderate:
        return "none"
    return "moderate" if psi < t.psi_large else "large"


def _quantile_edges_from_counts(vals, cnts, bins: int) -> list[float]:
    """Interior reference-quantile edges (ascending, deduplicated) from
    (value, count) arrays."""
    order = np.argsort(vals)
    vals, cnts = np.asarray(vals, float)[order], np.asarray(cnts, float)[order]
    cum = np.cumsum(cnts) / cnts.sum()
    targets = np.arange(1, bins) / bins
    idx = np.searchsorted(cum, targets)
    return sorted(set(vals[np.clip(idx, 0, len(vals) - 1)].tolist()))


def _drift_from_counts(
    cur: dict, ref: dict, numeric: bool, config: EngineConfig = DEFAULT_CONFIG
) -> dict:
    """All drift statistics, p-values and flags for one (partition, column)
    group from two bin→count dicts. The bin universe is cur ∪ ref bins in
    bin order: KS from the fine per-value ECDF (exact on bounded int
    domains); PSI/JS/chi-square on reference-quantile buckets for numeric
    columns, raw categories otherwise; p-values from functions.pvalues."""
    all_bins = sorted(set(cur) | set(ref))
    c = np.array([float(cur.get(b, 0)) for b in all_bins])
    r = np.array([float(ref.get(b, 0)) for b in all_bins])
    n_cur, n_ref = c.sum(), r.sum()
    ks = (
        float(np.abs(np.cumsum(c) / n_cur - np.cumsum(r) / n_ref).max())
        if n_cur > 0 and n_ref > 0
        else float("nan")
    )

    if numeric and ref:
        edges = _quantile_edges_from_counts(
            [float(b) for b in ref], list(ref.values()), config.drift_bins
        )
        vals = np.array([float(b) for b in all_bins])
        bucket = np.searchsorted(np.array(edges), vals, side="left")
        # searchsorted(side=left) == sum(v > e): v in (e_{i-1}, e_i] → i
        nb = len(edges) + 1
        c = np.bincount(bucket, weights=c, minlength=nb)
        r = np.bincount(bucket, weights=r, minlength=nb)

    with np.errstate(divide="ignore", invalid="ignore"):
        p, q = c / n_cur, r / n_ref
        p_c = np.maximum(p, PSI_EPS)
        q_c = np.maximum(q, PSI_EPS)
        psi = float(((p - q) * np.log(p_c / q_c)).sum())
        mid = (p + q) / 2
        js = float(
            np.where(p > 0, 0.5 * p * np.log(p / mid), 0.0).sum()
            + np.where(q > 0, 0.5 * q * np.log(q / mid), 0.0).sum()
        )
        tot = c + r
        nz = tot > 0
        e_cur = n_cur * tot[nz] / (n_cur + n_ref)
        e_ref = n_ref * tot[nz] / (n_cur + n_ref)
        chi2 = float(
            ((c[nz] - e_cur) ** 2 / e_cur + (r[nz] - e_ref) ** 2 / e_ref).sum()
        )
    dof = int(nz.sum()) - 1
    t = config.thresholds
    ks_p = ks_2samp_pvalue(ks, n_cur, n_ref)
    chi2_p = chi2_sf(chi2, dof)
    ks_sig, chi2_sig = bool(ks_p < t.ks_alpha), bool(chi2_p < t.chi2_alpha)
    return {
        "n_cur": int(n_cur),
        "n_ref": int(n_ref),
        "psi": psi,
        "js_divergence": js,
        "ks_stat": ks,
        "chi2_stat": chi2,
        "chi2_dof": dof,
        "ks_pvalue": ks_p,
        "chi2_pvalue": chi2_p,
        "psi_drift": psi_severity(psi, t),
        "ks_significant": ks_sig,
        "chi2_significant": chi2_sig,
        "drift_detected": psi >= t.psi_moderate or ks_sig or chi2_sig,
    }


def _collect_counts(hist: DataFrame, keys: list[str]) -> dict[tuple, dict]:
    """(key values) → {bin: cnt} of a histogram frame, summed per bin."""
    out: dict[tuple, dict] = {}
    for *key, b, cnt in hist.select(*keys, "bin", "cnt").collect():
        g = out.setdefault(tuple(key), {})
        g[b] = g.get(b, 0) + cnt
    return out


def _local_frame(
    spark: SparkSession, rows: list[dict], schema: StructType
) -> DataFrame:
    """Driver-side rows as a DataFrame. Built from pandas so it plans as a
    LocalTableScan; a list of Rows would plan as a Python-side RDD scan."""
    pdf = pd.DataFrame(rows, columns=schema.names)
    return spark.createDataFrame(pdf, schema)


def drift_stats(
    cur_hist: DataFrame,
    ref_hist: DataFrame,
    partition_col: str | None = "part_id",
    config: EngineConfig = DEFAULT_CONFIG,
    numeric_cols: frozenset | set = frozenset(),
) -> DataFrame:
    """Compare per-partition current histograms against a reference.

    cur_hist: (part_id?, col, bin, cnt); ref_hist: (col, bin, cnt). Both
    are collected — a histogram has at most keys × bins rows — and every
    (part_id?, col) group of ``cur_hist`` gets one row:
      n_cur, n_ref, psi, js_divergence, ks_stat, chi2_stat, chi2_dof,
      ks_pvalue, chi2_pvalue, psi_drift, ks_significant, chi2_significant,
      drift_detected — every statistic exact given the histograms.
    Columns in ``numeric_cols`` carry per-value numeric bins: their PSI, JS
    and chi-square use reference-quantile buckets (``config.drift_bins``),
    their KS the per-value ECDF.
    """
    keys = [partition_col, "col"] if partition_col else ["col"]
    ref = _collect_counts(ref_hist, ["col"])
    rows = [
        {
            **dict(zip(keys, key)),
            **_drift_from_counts(
                cur, ref.get(key[-1:], {}), key[-1] in numeric_cols, config
            ),
        }
        for key, cur in _collect_counts(cur_hist, keys).items()
    ]
    part = [cur_hist.schema[partition_col]] if partition_col else []
    schema = StructType(
        part + StructType.fromDDL(f"col string, {_STATS_SCHEMA}").fields
    )
    return _local_frame(cur_hist.sparkSession, rows, schema)


def drift_stats_broadcast(
    cur_hist: DataFrame,
    ref_hist: DataFrame,
    numeric_cols: frozenset | set = frozenset(),
    partition_col: str = "part_id",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Alias of :func:`drift_stats`, kept only because the benchmark's traced
    replay (``perfbench/workloads.py``) imports and calls it by this name."""
    return drift_stats(cur_hist, ref_hist, partition_col, config, numeric_cols)


def token_unigram_histogram(
    df: DataFrame,
    tokens_col: str = "tokens",
    partition_col: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """Unigram histogram of a token-array column: (part_id?, col, bin, cnt).

    Scale shape: the explode is narrow (no shuffle) and the count
    partial-aggregates map-side, so the single exchange carries at most
    |vocab| rows per map task regardless of corpus size — at 10^12
    sequences the shuffled bytes are bounded by vocab x tasks, never by
    token occurrences. ``bin`` is the zero-padded token id (lexicographic
    == numeric order) so the result plugs into :func:`drift_stats`
    unchanged.
    """
    name = name or f"{tokens_col}_unigram"
    keys = [partition_col] if partition_col else []
    return (
        df.select(*keys, F.explode(F.col(tokens_col)).alias("tok"))
        .groupBy(*keys, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *keys,
            F.lit(name).alias("col"),
            # width 10 covers every int32 id (2147483646): Spark lpad
            # TRUNCATES strings longer than the pad width, so 8 would
            # silently merge distinct ids >= 10^8 into shared bins at
            # realistic vocab sizes (tokenize_words defaults to 2^31-1)
            F.lpad(F.col("tok").cast("string"), 10, "0").alias("bin"),
            "cnt",
        )
    )


def token_drift(
    cur: DataFrame,
    ref: DataFrame,
    tokens_col: str = "tokens",
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Unigram-distribution drift between two token-sequence tables.

    Drift on the token ids themselves (vocabulary usage) rather than the
    sequence-length proxy ``n_tok``: PSI / JS / chi-square from the same
    driver-side kernel as :func:`drift_stats` over the two collected,
    vocab-bounded unigram histograms, plus out-of-vocabulary evidence
    from those same histograms — ``new_tokens`` (ids occurring in
    ``cur`` but never seen in ``ref``) and ``oov_pct`` (share of current
    token OCCURRENCES on those unseen ids). ``ks_stat`` is dropped:
    hashed token ids carry no meaningful order, so an ECDF gap over them
    is noise.

    Reference parity note: the reference's drift modules are 0-byte stubs
    (``backend/app/core/drift/*.py``); this extends the promised
    column-level drift to the token payload itself (BASELINE.json
    north-star: drift checks over pre-tokenized training sequences).
    """
    cur_h = _collect_counts(token_unigram_histogram(cur, tokens_col), ["col"])
    ref_h = _collect_counts(token_unigram_histogram(ref, tokens_col), ["col"])
    rows = []
    for (col,), counts in cur_h.items():
        seen = ref_h.get((col,), {})
        unseen = [n for b, n in counts.items() if b not in seen]
        rows.append({
            "col": col,
            **_drift_from_counts(counts, seen, False, config),
            "new_tokens": len(unseen),
            "oov_pct": 100.0 * sum(unseen) / sum(counts.values()),
        })
    schema = StructType.fromDDL(
        "col string, n_cur long, n_ref long, psi double, "
        "js_divergence double, chi2_stat double, chi2_dof long, "
        "psi_drift string, new_tokens long, oov_pct double"
    )
    return _local_frame(cur.sparkSession, rows, schema)
