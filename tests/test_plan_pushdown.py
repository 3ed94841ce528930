"""Scan-efficiency plan assertions: filters reach the parquet scan
(PushedFilters) and projections prune ReadSchema — the two properties
that keep a 100 TB scan from reading what the query doesn't need."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scans(df) -> list[str]:
    return [ln for ln in _plan(df).splitlines() if "FileScan" in ln]


def test_filter_pushdown_reaches_scan(spark):
    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "source")
    )
    d.collect()
    scans = _scans(d)
    assert scans and "LessThan(doc_id,300)" in scans[0]


def test_column_pruning_on_sequence_view(spark):
    """q_seq_stats swaps the token arrays for a constant so the scan must
    read only the columns the stats need — never text/n_chars/lang."""
    import __spark_entry__ as E

    out = E.queries()["q_seq_stats"](spark, SF_DIR)
    out.collect()
    scan = _scans(out)[0]
    read_schema = scan.split("ReadSchema:")[-1]
    assert "doc_id" in read_schema and "source" in read_schema
    for unneeded in ("n_chars", "lang"):
        assert unneeded not in read_schema, (unneeded, read_schema)


def test_narrow_projection_prunes_token_bytes(spark):
    """The prepared projection reads the token column once; a stats-only
    consumer of the narrow projection must not re-read raw text."""
    from data_drift_monitoring_spark.operators.stats import column_profile

    prof = column_profile(
        spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
            "part_id", F.lit(0)
        ),
        columns=["value"],
    )
    prof.collect()
    read_schema = _scans(prof)[0].split("ReadSchema:")[-1]
    assert "value" in read_schema
    assert "props" not in read_schema and "event_type" not in read_schema


def test_flagship_plan_runs_no_python(
    spark, ref_df, ref_corrupted_df, allowed_sources_df
):
    """The flagship verdict pass is JVM-only: drift is finished on the
    driver and joins the union as a local relation, so no Python worker
    stage or Python-side RDD scan appears in the executed plan."""
    from data_drift_monitoring_spark.operators.invariants import token_digests
    from data_drift_monitoring_spark.plans.pipeline import (
        build_verdicts,
        release_cached,
    )
    from data_drift_monitoring_spark.plans.reference import build_ref_stats

    v = build_verdicts(
        ref_corrupted_df, build_ref_stats(ref_df), allowed_sources_df,
        ref_digests=token_digests(ref_df),
    )
    v.collect()
    plan = _plan(v)
    release_cached(v)
    for python_node in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                        "BatchEvalPython", "Scan ExistingRDD"):
        assert python_node not in plan, python_node
    assert "LocalTableScan" in plan
