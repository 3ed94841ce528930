"""Property-based cross-check of the production drift kernel against an
independent oracle:

- ``drift.drift_stats``: the production path (histograms collected, the
  numpy kernel ``drift._drift_from_counts`` on the driver)
- ``_drift_oracle.drift_stats``: Spark column algebra (windows + joins + aggs)

Same universe/clamp/dof conventions by spec — hypothesis hunts the corners
(empty bins, singleton histograms, all-mass-in-one-bin, cur-only /
ref-only bins)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from _drift_oracle import drift_stats as oracle_drift_stats

from data_drift_monitoring_spark.operators.drift import drift_stats

# bin label universe: zero-padded ints so lexical sort == numeric sort,
# matching the engine's histogram bin convention
_BINS = [f"{i:06d}" for i in range(6)]


def _hist(draw_counts):
    return {b: c for b, c in zip(_BINS, draw_counts) if c > 0}


counts = st.lists(
    st.integers(min_value=0, max_value=50), min_size=6, max_size=6
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cur_counts=counts, ref_counts=counts)
def test_sql_and_numpy_drift_agree(spark, cur_counts, ref_counts):
    cur, ref = _hist(cur_counts), _hist(ref_counts)
    if sum(cur.values()) == 0 or sum(ref.values()) == 0:
        return  # degenerate: no distribution to compare
    cur_df = spark.createDataFrame(
        [("c", b, c) for b, c in cur.items()], "col string, bin string, cnt long"
    )
    ref_df = spark.createDataFrame(
        [("c", b, c) for b, c in ref.items()], "col string, bin string, cnt long"
    )
    np_out = drift_stats(cur_df, ref_df, partition_col=None).collect()[0]
    row = oracle_drift_stats(cur_df, ref_df, partition_col=None).collect()[0]

    assert row["n_cur"] == np_out["n_cur"]
    assert row["n_ref"] == np_out["n_ref"]
    assert row["chi2_dof"] == np_out["chi2_dof"]
    assert row["psi_drift"] == np_out["psi_drift"]
    for f in ("psi", "js_divergence", "ks_stat", "chi2_stat"):
        a, b = float(row[f]), float(np_out[f])
        assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12), (f, a, b)


# -- SimHash: vectorized segment-sum vs the straightforward per-row blank --

import numpy as np
import pandas as pd


def _simhash_perrow_blank(words_hashes):
    """Independent per-row reference implementation of the Charikar
    bit-vote (kept deliberately naive)."""
    out = np.zeros(len(words_hashes), dtype=np.int64)
    for i, hs in enumerate(words_hashes):
        if hs is None or len(hs) == 0:
            continue
        h = np.asarray(hs, dtype=np.uint64)
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
            np.int32
        )
        v = bits.sum(axis=0) * 2 - len(h)
        sig = np.uint64(0)
        for b in range(64):
            if v[b] > 0:
                sig |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sig.astype(np.int64))
    return pd.Series(out)


ragged = st.lists(
    st.one_of(
        st.none(),
        st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=0, max_size=40,
        ),
    ),
    min_size=0, max_size=30,
)


@settings(max_examples=200, deadline=None)
@given(rows=ragged)
def test_vectorized_simhash_matches_perrow(rows):
    from data_drift_monitoring_spark.operators.dedup import _simhash64

    series = pd.Series(
        [None if r is None else np.array(r, dtype=np.int64) for r in rows],
        dtype=object,
    )
    a = _simhash_perrow_blank(series)
    b = _simhash64.func(series)
    assert (a == b).all()
