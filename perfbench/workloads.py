"""The three benchmark workloads.

Each workload drives the engine only through its public functions:
``setup`` generates seeded inputs and builds the reference or baseline,
``run_pass`` is one closed-loop call whose result is fully collected,
``check`` compares that result with the independent recount in ``inputs``,
and ``replay`` makes the standalone per-layer calls of a traced run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext

from pyspark import StorageLevel
from pyspark.sql import functions as F

from data_drift_monitoring_spark.generator import (
    generate_allowed_sources,
    generate_sequences,
)
from data_drift_monitoring_spark.operators.drift import (
    drift_stats,
    drift_stats_broadcast,
)
from data_drift_monitoring_spark.operators.histogram import (
    categorical_counts,
    numeric_histogram,
    value_histogram,
)
from data_drift_monitoring_spark.operators.invariants import (
    uniqueness_and_token_equality,
)
from data_drift_monitoring_spark.operators.outliers import outlier_stats
from data_drift_monitoring_spark.operators.stats import (
    column_profile,
    missing_patterns,
    sequence_stats_prepared,
)
from data_drift_monitoring_spark.operators.uniqueness import duplicate_stats
from data_drift_monitoring_spark.plans import reference
from data_drift_monitoring_spark.plans.pipeline import (
    RESULTS_TABLE,
    VIOLATIONS_TABLE,
    build_verdicts,
    build_violations,
    prepare_sequences,
    release_cached,
    run_checks,
    score_partitions,
)
from data_drift_monitoring_spark.service import ValidationService
from data_drift_monitoring_spark.sources import manifest
from data_drift_monitoring_spark.sources.tables import ParquetTableIO

import inputs

# every span a traced run reports, whichever workload enters it
SPANS = [
    "pipeline.build_verdicts",
    "pipeline.verdicts_action",
    "pipeline.score_partitions",
    "pipeline.prepare_sequences",
    "invariants.uniqueness_and_token_equality",
    "stats.sequence_stats_prepared",
    "histogram.categorical_counts",
    "histogram.value_histogram",
    "drift.drift_stats_broadcast",
    "drift.drift_stats",
    "manifest.prune_completed",
    "pipeline.build_violations",
    "tables.append",
    "manifest.stats_digests",
    "manifest.record_partitions",
    "pipeline.run_checks",
    "service.check_quality",
    "stats.column_profile",
    "stats.missing_patterns",
    "uniqueness.duplicate_stats",
    "outliers.outlier_stats",
    "service.detect_drift",
    "generator.generate_sequences",
    "reference.init_reference",
]

PARTS = 32
RUN_ID = "bench"


class NullTracer:
    """Stands in for ``trace.Tracer`` in untraced passes: no job groups."""

    def span(self, name):
        return nullcontext()


def md5_rows(*row_lists) -> str:
    h = hashlib.md5()
    for rows in row_lists:
        for r in sorted(repr(tuple(r)) for r in rows):
            h.update(r.encode())
        h.update(b"|")
    return h.hexdigest()


# the verdict ``value`` each recount field must equal, per part
_RECOUNTED = {
    ("missing_values", "doc_id"): "null_doc_id",
    ("missing_values", "tokens"): "null_tokens",
    ("missing_values", "source"): "null_source",
    ("length_consistency", "tokens"): "len_mismatch",
    ("uniqueness", "doc_id"): "duplicate_rows",
    ("referential", "source"): "unknown_source",
    ("token_equality", "tokens"): "token_mismatch",
}
_DRIFT_ROWS = [(c, col) for c in ("drift_psi", "drift_ks")
               for col in ("n_tok", "source")]


class _Sequences:
    """Set-up, checks and replays shared by the workloads over the generated
    ``sequences`` table."""

    variant = ""
    # (part_id, column) whose drift_psi verdict must fail; only for the
    # variant that injects drift
    drifted: tuple = ()

    def __init__(self, spark, work: str, seed: int, rows: int):
        self.spark, self.work, self.seed, self.rows = spark, work, seed, rows
        self.n_wh = 0

    def setup(self, rep: int, tr) -> None:
        d = os.path.join(self.work, f"setup{rep}")
        with tr.span("generator.generate_sequences"):
            generate_sequences(os.path.join(d, "ref"), "ref", self.rows,
                               PARTS, self.seed)
            generate_sequences(os.path.join(d, "cur"), self.variant,
                               self.rows, PARTS, self.seed)
            generate_allowed_sources(os.path.join(d, "allowed"))
        io = ParquetTableIO(self.spark, os.path.join(d, "ref_wh"))
        with tr.span("reference.init_reference"):
            reference.init_reference(
                self.spark, io,
                self.spark.read.parquet(os.path.join(d, "ref")),
                persist_sequences=False,
            )
        self.cur_path = os.path.join(d, "cur")
        self.ref_path = os.path.join(d, "ref")
        self.cur = self.spark.read.parquet(self.cur_path)
        self.allowed = self.spark.read.parquet(os.path.join(d, "allowed"))
        self.ref_stats = reference.load_ref_stats(io)
        self.ref_digests = reference.load_ref_digests(io)

    def facts(self) -> dict:
        self.expect = inputs.sequence_facts(self.cur_path, self.ref_path)
        return self.expect

    @property
    def volume(self) -> dict:
        return {"rows": self.expect["rows"], "tokens": self.expect["tokens"]}

    def _verdict_pass(self, tr):
        with tr.span("pipeline.build_verdicts"):
            v = build_verdicts(self.cur, self.ref_stats, self.allowed,
                               ref_digests=self.ref_digests)
        with tr.span("pipeline.verdicts_action"):
            verdicts = v.collect()
        with tr.span("pipeline.score_partitions"):
            score = score_partitions(v).collect()
        release_cached(v)
        return verdicts, score

    def check_verdicts(self, verdicts, score) -> list[str]:
        problems = []
        parts = self.expect["parts"]
        if len(verdicts) != len(parts) * (len(_RECOUNTED) + len(_DRIFT_ROWS)):
            problems.append(f"{len(verdicts)} verdict rows")
        by = {(r["part_id"], r["check"], r["column"]): r for r in verdicts}
        for p, f in parts.items():
            for (check, col), field in _RECOUNTED.items():
                r = by.get((p, check, col))
                want = f[field]
                if r is None or r["value"] != want or r["passed"] != (want == 0):
                    problems.append(f"part {p} {check}/{col}: want {want}, "
                                    f"got {None if r is None else r['value']}")
            for check, col in _DRIFT_ROWS:
                if (p, check, col) not in by:
                    problems.append(f"part {p} {check}/{col} missing")
        for p, col in self.drifted:
            r = by.get((p, "drift_psi", col))
            if r is not None and r["passed"]:
                problems.append(f"part {p} drift on {col} not flagged")
        if sorted(r["part_id"] for r in score) != sorted(parts):
            problems.append(f"{len(score)} score rows")
        return problems

    def replay_operators(self, tr) -> None:
        """Standalone calls to each operator of the verdict pass over one
        persisted projection, so each span holds only its own work."""
        cached = []
        with tr.span("pipeline.prepare_sequences"):
            prepared = prepare_sequences(self.cur).persist(
                StorageLevel.MEMORY_AND_DISK)
            prepared.count()
        cached.append(prepared)
        with tr.span("stats.sequence_stats_prepared"):
            sequence_stats_prepared(prepared).collect()
        with tr.span("invariants.uniqueness_and_token_equality"):
            uniqueness_and_token_equality(prepared, self.ref_digests).collect()
        with tr.span("histogram.categorical_counts"):
            src = categorical_counts(prepared, "source").cache()
            src.count()
        cached.append(src)
        with tr.span("histogram.value_histogram"):
            hist = value_histogram(prepared, "n_tok").cache()
            hist.count()
        cached.append(hist)
        with tr.span("drift.drift_stats_broadcast"):
            drift_stats_broadcast(hist.unionByName(src), self.ref_stats,
                                  numeric_cols={"n_tok"}).collect()
        for c in cached:
            c.unpersist()

    def _persist_pass(self, tr) -> dict:
        """run_checks with the violation export into a fresh warehouse,
        then the verdict and score rows read back from it."""
        self.n_wh += 1
        io = ParquetTableIO(self.spark,
                            os.path.join(self.work, f"wh{self.n_wh}"))
        with tr.span("pipeline.run_checks"):
            res = run_checks(
                self.spark, self.cur, io=io, run_id=RUN_ID,
                ref_stats=self.ref_stats, allowed_sources=self.allowed,
                ref_digests=self.ref_digests, export_violations=True,
            )
            verdicts = res.verdicts.drop("run_id").collect()
            score = res.score.drop("run_id").collect()
        return {"verdicts": verdicts, "score": score, "io": io}

    def check(self, res) -> tuple[list[str], str]:
        problems = self.check_verdicts(res["verdicts"], res["score"])
        io = res.get("io")
        if io is not None:
            n_viol = io.read_appended(VIOLATIONS_TABLE).count()
            if n_viol != self.expect["violations"]:
                problems.append(f"{n_viol} violation rows, want "
                                f"{self.expect['violations']}")
            done = [r["part_id"] for r in
                    io.read_appended(manifest.MANIFEST_TABLE)
                    .filter((F.col("run_id") == RUN_ID)
                            & (F.col("status") == "done"))
                    .select("part_id").collect()]
            if sorted(done) != sorted(self.expect["parts"]):
                problems.append(f"{len(done)} done manifest rows")
        return problems, md5_rows(res["verdicts"], res["score"])

    def finish_pass(self, res) -> None:
        if "io" in res:
            shutil.rmtree(res["io"].root, ignore_errors=True)

    def replay(self, tr, res) -> None:
        """Standalone calls into every sequences layer the pass did not
        trace itself: the verdict pipeline or run_checks, the operators,
        then the persistence layers over a warehouse run_checks wrote."""
        if "io" in res:
            self._verdict_pass(tr)
        else:
            res = self._persist_pass(tr)
        self.replay_operators(tr)
        io = res["io"]
        with tr.span("manifest.prune_completed"):
            manifest.prune_completed(self.cur, io, RUN_ID)
        with tr.span("pipeline.build_violations"):
            viol = build_violations(self.cur, self.allowed, self.ref_digests
                                    ).persist(StorageLevel.MEMORY_AND_DISK)
            viol.count()
        with tr.span("tables.append"):
            io.append(viol, VIOLATIONS_TABLE)
        viol.unpersist()
        with tr.span("manifest.stats_digests"):
            digests = manifest.stats_digests(
                io.read_appended(RESULTS_TABLE)
                .filter(F.col("run_id") == RUN_ID))
        with tr.span("manifest.record_partitions"):
            manifest.record_partitions(self.spark, io, RUN_ID + "_replay",
                                       sorted(digests), "done",
                                       digests=digests)
        self.finish_pass(res)


class Flagship(_Sequences):
    """build_verdicts + score_partitions of a corrupted copy of the
    reference, against the reference's stats and token digests."""

    name = "flagship"
    variant = "ref_corrupted"

    def run_pass(self, tr) -> dict:
        verdicts, score = self._verdict_pass(tr)
        return {"verdicts": verdicts, "score": score}


class ChecksPersist(_Sequences):
    """run_checks with the violation export into a fresh warehouse: the
    same verdicts plus results, score, violations and manifest writes."""

    name = "checks_persist"
    variant = "cur_drifted"
    drifted = ((4, "source"), (6, "n_tok"), (7, "n_tok"))

    def run_pass(self, tr) -> dict:
        return self._persist_pass(tr)


class ServiceTabular:
    """ValidationService.check_quality then detect_drift of a drifted
    tabular table against a baseline made by create_baseline."""

    name = "service_tabular"

    def __init__(self, spark, work: str, seed: int, rows: int):
        self.spark, self.work, self.seed, self.rows = spark, work, seed, rows

    def setup(self, rep: int, tr) -> None:
        d = os.path.join(self.work, f"setup{rep}")
        base = inputs.write_tabular(os.path.join(d, "baseline"), self.seed,
                                    self.rows, drifted=False)
        self.cur_path = inputs.write_tabular(os.path.join(d, "current"),
                                             self.seed, self.rows, drifted=True)
        self.svc = ValidationService(self.spark, os.path.join(d, "wh"))
        self.base = self.spark.read.parquet(base)
        self.svc.create_baseline(self.base)
        self.cur = self.spark.read.parquet(self.cur_path)

    def facts(self) -> dict:
        self.expect = inputs.tabular_facts(self.cur_path)
        return self.expect

    @property
    def volume(self) -> dict:
        return {"rows": self.expect["rows"],
                "cells": self.expect["rows"] * len(self.expect["nulls"])}

    def run_pass(self, tr) -> dict:
        t0 = time.perf_counter()
        with tr.span("service.check_quality"):
            report = self.svc.check_quality(self.cur)
        t1 = time.perf_counter()
        with tr.span("service.detect_drift"):
            drift = self.svc.detect_drift(self.cur)
        t2 = time.perf_counter()
        return {"report": report, "drift": drift,
                "check_quality_s": t1 - t0, "detect_drift_s": t2 - t1}

    def check(self, res) -> tuple[list[str], str]:
        rep, drift, want = res["report"], res["drift"], self.expect
        problems = []
        if rep["dataset_info"]["rows"] != want["rows"]:
            problems.append(f"rows {rep['dataset_info']['rows']}")
        got_nulls = {d["column"]: d["missing_count"]
                     for d in rep["missing_values"]["details"]}
        if got_nulls != {c: n for c, n in want["nulls"].items() if n}:
            problems.append(f"nulls {got_nulls}")
        if rep["duplicates"]["total_duplicates"] != want["duplicate_rows"]:
            problems.append(f"duplicates {rep['duplicates']['total_duplicates']}")
        iqr = {d["column"]: d["iqr_outliers"] for d in rep["outliers"]["details"]}
        if iqr.get(inputs.OUTLIER_COL, 0) < want["outliers_at_least"]:
            problems.append(f"outliers {iqr}")
        flagged = sorted(c for c, d in drift["columns"].items()
                         if d["drift_detected"])
        if flagged != want["drifted"]:
            problems.append(f"drifted {flagged}")
        stable = {k: v for k, v in rep.items()
                  if k not in ("report_id", "timestamp")}
        blob = json.dumps([stable, drift], sort_keys=True, default=str)
        return problems, hashlib.md5(blob.encode()).hexdigest()

    def finish_pass(self, res) -> None:
        pass

    def replay(self, tr, res) -> None:
        """The operators behind both service calls, standalone over the
        current table persisted once."""
        cols = self.cur.columns
        tagged = self.cur.withColumn("part_id", F.lit(0)).persist(
            StorageLevel.MEMORY_AND_DISK)
        tagged.count()
        with tr.span("stats.column_profile"):
            column_profile(tagged, partition_col="part_id").collect()
        with tr.span("stats.missing_patterns"):
            missing_patterns(tagged, partition_col="part_id").collect()
        with tr.span("uniqueness.duplicate_stats"):
            duplicate_stats(tagged, keys=cols, partition_col="part_id").collect()
        with tr.span("outliers.outlier_stats"):
            outlier_stats(tagged, profile=None).collect()
        cur_h, base_h = self._drift_histograms()
        with tr.span("drift.drift_stats"):
            d = drift_stats(cur_h, base_h, partition_col=None)
            d.collect()
        release_cached(d)
        for c in (tagged, cur_h, base_h):
            c.unpersist()

    def _drift_histograms(self):
        """The histograms detect_drift compares (shared min/max edges for
        numeric columns, exact counts for strings), persisted."""
        dt = dict(self.cur.dtypes)
        numeric = [c for c in self.cur.columns if dt[c] in ("double", "bigint")]
        strings = [c for c in self.cur.columns if dt[c] == "string"]
        aggs = [f(F.col(c).cast("double")).alias(f"{f.__name__}_{c}")
                for c in numeric for f in (F.min, F.max)]
        a = self.cur.agg(*aggs).collect()[0]
        b = self.base.agg(*aggs).collect()[0]
        out = []
        for src in (self.cur, self.base):
            pieces = []
            for c in numeric:
                lo = min(a[f"min_{c}"], b[f"min_{c}"])
                hi = max(a[f"max_{c}"], b[f"max_{c}"])
                pieces.append(numeric_histogram(
                    src, c, lo=lo, hi=hi if hi > lo else lo + 1.0, bins=20,
                    partition_col=None).select("col", "bin", "cnt"))
            pieces += [categorical_counts(src, c, partition_col=None,
                                          salted=False).select("col", "bin", "cnt")
                       for c in strings]
            h = pieces[0]
            for p in pieces[1:]:
                h = h.unionByName(p)
            h = h.cache()
            h.count()
            out.append(h)
        return out


WORKLOADS = {w.name: w for w in (Flagship, ChecksPersist, ServiceTabular)}
