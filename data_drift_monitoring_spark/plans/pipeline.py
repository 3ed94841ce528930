"""run_checks — the end-to-end validation + drift pipeline.

Distributed equivalent of ``POST /check_quality``
(``quality_check.py:25-191``), which runs missing → duplicates → outliers →
score sequentially over one in-memory DataFrame. Here (SURVEY.md §3.2):

    scan (partition-pruned by the resume manifest)
    → ONE wide groupBy(part_id) agg (stats + length-consistency + sketches)
    → uniqueness agg on doc_id (second shuffle, key-hash partitioned)
    → broadcast left-anti referential check (no shuffle)
    → per-partition histograms → drift vs broadcast reference histograms
    → optional per-row token-equality invariant vs the reference snapshot
    → verdict rows (severity when-chains) + violation rows + quality score
    → write: results table, violations table, manifest rows (lineage)

Verdict row shape: (run_id, part_id, check, column, value, pct, severity,
recommendation, passed) — the per-partition generalization of the
reference's report JSON (one nested dict per dataset → one row per
partition × check). A JSON rollup equivalent to the reference's report
document is derivable with ``F.to_json(F.struct(...))`` (report_json).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT_CONFIG, EngineConfig
from ..functions import verdicts as V
from ..functions.scoring import overall_score
from ..functions.verdicts import grade
from pyspark import StorageLevel

from ..operators.drift import drift_stats
from ..operators.histogram import categorical_counts, value_histogram
from ..operators.invariants import (
    token_digests,
    uniqueness_and_token_equality,
)
from ..operators.stats import sequence_stats_prepared
from ..operators.uniqueness import duplicate_stats, duplicate_violations
from ..schema import SEQUENCES_SCHEMA, validate_schema
from ..sources import manifest as M
from ..sources.tables import ParquetTableIO

RESULTS_TABLE = "check_results"
VIOLATIONS_TABLE = "violations"

_VERDICT_COLS = [
    "part_id",
    "check",
    "column",
    "value",
    "pct",
    "severity",
    "recommendation",
    "passed",
]


@dataclass
class RunResult:
    run_id: str
    verdicts: DataFrame
    score: DataFrame
    pruned_partitions: list[int] = field(default_factory=list)


def _verdict(df: DataFrame, check: str, column: str, value, pct, severity,
             recommendation, passed) -> DataFrame:
    return df.select(
        F.col("part_id"),
        F.lit(check).alias("check"),
        F.lit(column).alias("column"),
        value.cast("double").alias("value"),
        pct.cast("double").alias("pct"),
        severity.alias("severity"),
        recommendation.alias("recommendation"),
        passed.alias("passed"),
    )


def prepare_sequences(df: DataFrame, partition_col: str = "part_id") -> DataFrame:
    """ONE heavy scan of the sequence table → a narrow per-row projection
    (doc_id, n_tok, source, tok_len, tok_digest): the token arrays — the
    bulk of the bytes at 10^12 scale — are read exactly once; every check
    downstream (stats, uniqueness, referential, histograms, token-equality
    join) works off this ~40-byte/row projection. Persisted MEMORY_AND_DISK
    by ``build_verdicts`` so the multiple groupBy shuffles don't re-scan."""
    return df.select(
        F.col(partition_col),
        "doc_id",
        "n_tok",
        "source",
        F.size("tokens").alias("tok_len"),  # NULL iff tokens is NULL
        F.xxhash64("tokens").alias("tok_digest"),
    )


def release_cached(verdicts: DataFrame) -> None:
    """Unpersist the intermediates build_verdicts cached for this verdict
    DataFrame. Call once the verdict rows are materialized (written or
    collected) — a long-running stream invoking build_verdicts per
    micro-batch would otherwise grow the SQL CacheManager unboundedly."""
    for c in getattr(verdicts, "_cached_intermediates", ()):
        try:
            c.unpersist()
        except Exception:
            pass
    verdicts._cached_intermediates = ()


def build_verdicts(
    df: DataFrame,
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_sequences: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    ref_digests: DataFrame | None = None,
) -> DataFrame:
    """Assemble all per-partition verdict rows (no writes).

    ``ref_digests`` (doc_id, tok_digest) is the preferred reference-side
    artifact for the per-row token-equality invariant; ``ref_sequences``
    (full arrays) is accepted and digested on the fly.

    Cached intermediates are tracked on the returned DataFrame; callers
    that materialize the result should pass it to ``release_cached``."""
    t = config.thresholds
    _cached: list[DataFrame] = []
    prepared = prepare_sequences(df, config.partition_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _cached.append(prepared)
    # materialize the projection BEFORE assembling the fan-out: the verdict
    # union is one job whose first-level stages would otherwise start
    # concurrently and each recompute the heavy token-array scan while the
    # cache is still cold (a cache-fill race duplicating the dominant cost).
    prepared.count()
    seq = sequence_stats_prepared(prepared, config.partition_col).cache()
    _cached.append(seq)
    seq.count()

    pieces: list[DataFrame] = []

    # 1. missing values on every column of the contract (A1; severity chain
    #    missing_values.py:63-69)
    for col in ("doc_id", "tokens", "source"):
        pct = F.round(F.col(f"null_{col}") / F.col("n_rows") * 100, 2)
        pieces.append(
            _verdict(
                seq, "missing_values", col,
                F.col(f"null_{col}"), pct,
                V.missing_severity(pct),
                F.when(pct >= t.missing_error_pct, "drop_column")
                .when(pct > 0, "impute_mode" if col != "tokens" else "investigate")
                .otherwise("no_action"),
                pct == 0,
            )
        )

    # 2. token-array length consistency (A20 — the contract invariant)
    lm_pct = F.round(F.col("len_mismatch") / F.col("n_rows") * 100, 2)
    pieces.append(
        _verdict(
            seq, "length_consistency", "tokens",
            F.col("len_mismatch"), lm_pct,
            F.when(F.col("len_mismatch") == 0, "none").when(
                lm_pct < 1, "medium"
            ).otherwise("high"),
            F.when(F.col("len_mismatch") == 0, "no_action").otherwise(
                "repair_n_tok"
            ),
            F.col("len_mismatch") == 0,
        )
    )

    # 3. uniqueness on doc_id (A14; hash-partitioned distinct counts) — and,
    #    when reference digests exist, the per-row token-equality invariant
    #    from the SAME doc_id shuffle (one exchange for both checks)
    if ref_digests is None and ref_sequences is not None:
        ref_digests = token_digests(ref_sequences)
    te = None
    if ref_digests is not None:
        dup = uniqueness_and_token_equality(
            prepared, ref_digests, partition_col=config.partition_col
        ).cache()
        _cached.append(dup)
        te = dup
    else:
        dup = duplicate_stats(
            prepared.select(config.partition_col, "doc_id"),
            keys=["doc_id"],
            ignore_null_keys=True,
        )
    pieces.append(
        _verdict(
            dup, "uniqueness", "doc_id",
            F.col("duplicate_rows"), F.col("duplicate_pct"),
            V.duplicate_severity(F.col("duplicate_pct")),
            V.duplicate_recommendation(F.col("duplicate_pct")),
            F.col("duplicate_rows") == 0,
        )
    )

    # per-partition source counts: computed ONCE (salted two-level agg),
    # shared by the referential check and the drift comparison — shuffled
    # bytes are O(partitions x sources), never O(rows)
    src_counts = (
        categorical_counts(prepared, "source", config=config).cache()
        if (allowed_sources is not None or ref_stats is not None)
        else None
    )
    if src_counts is not None:
        _cached.append(src_counts)

    # 4. referential: source ∈ allowed dimension (J3). The dimension is tiny
    #    by definition, so it collapses to an isin over the histogram bins;
    #    violations = n_rows - matched (nulls therefore count as violations,
    #    same as the anti-join in operators.referential).
    if allowed_sources is not None:
        allowed = [
            r["source"]
            for r in allowed_sources.select("source").distinct().collect()
        ]
        matched = (
            src_counts.filter(F.col("bin").isin(allowed))
            .groupBy(config.partition_col)
            .agg(F.sum("cnt").alias("_matched"))
        )
        refc = seq.join(matched, on=config.partition_col, how="left").select(
            config.partition_col,
            "n_rows",
            (F.col("n_rows") - F.coalesce(F.col("_matched"), F.lit(0))).alias(
                "violations"
            ),
        ).withColumn(
            "violation_pct",
            F.round(F.col("violations") / F.col("n_rows") * 100, 2),
        )
        pieces.append(
            _verdict(
                refc, "referential", "source",
                F.col("violations"), F.col("violation_pct"),
                F.when(F.col("violations") == 0, "none")
                .when(F.col("violation_pct") < 1, "low")
                .when(F.col("violation_pct") < 5, "medium")
                .otherwise("high"),
                F.when(F.col("violations") == 0, "no_action").otherwise(
                    "quarantine_unknown_sources"
                ),
                F.col("violations") == 0,
            )
        )

    # 5. drift vs reference snapshot (PSI/KS/JS/chi² from histograms):
    #    per-partition histograms from the cached projection, collected
    #    with the reference histograms and finished on the driver
    if ref_stats is not None:
        fine = value_histogram(prepared, "n_tok").unionByName(src_counts)
        drift = drift_stats(
            fine, ref_stats, config.partition_col, config,
            numeric_cols={"n_tok"},
        )
        pieces.append(
            drift.select(
                F.col("part_id"),
                F.lit("drift_psi").alias("check"),
                F.col("col").alias("column"),
                F.col("psi").cast("double").alias("value"),
                F.lit(None).cast("double").alias("pct"),
                F.col("psi_drift").alias("severity"),
                F.when(F.col("psi") < t.psi_moderate, "no_action")
                .when(F.col("psi") < t.psi_large, "monitor_drift")
                .otherwise("retrain_or_investigate")
                .alias("recommendation"),
                (F.col("psi") < t.psi_moderate).alias("passed"),
            )
        )
        pieces.append(
            drift.select(
                F.col("part_id"),
                F.lit("drift_ks").alias("check"),
                F.col("col").alias("column"),
                F.col("ks_stat").cast("double").alias("value"),
                F.col("ks_pvalue").cast("double").alias("pct"),
                F.when(F.col("ks_significant"), "high").otherwise("none").alias(
                    "severity"
                ),
                F.when(F.col("ks_significant"), "investigate_distribution_shift")
                .otherwise("no_action")
                .alias("recommendation"),
                (~F.col("ks_significant")).alias("passed"),
            )
        )

    # 6. per-row token equality (input_hint invariant; digest fast path) —
    #    already computed in the shared doc_id pass above
    if te is not None:
        te_pct = F.round(F.col("token_mismatch") / F.col("n_rows") * 100, 2)
        pieces.append(
            _verdict(
                te, "token_equality", "tokens",
                F.col("token_mismatch"), te_pct,
                F.when(F.col("token_mismatch") == 0, "none").otherwise("high"),
                F.when(F.col("token_mismatch") == 0, "no_action").otherwise(
                    "recompute_tokens"
                ),
                F.col("token_mismatch") == 0,
            )
        )

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    out._cached_intermediates = _cached
    return out


def build_violations(
    df: DataFrame,
    allowed_sources: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Row-level violation export (north_rule: "violation rows"): one row
    per offending sequence with a check tag and a human-readable detail.
    Unified schema: (part_id, doc_id, check, detail).

    Separate from the verdict pass by design — verdicts are the always-on
    cheap aggregate; violations re-scan only when a consumer wants the
    offending rows (and at cluster scale would be partition-pruned to the
    partitions whose verdicts failed)."""
    part = config.partition_col
    p = prepare_sequences(df, part)

    def rows(src: DataFrame, check: str, detail) -> DataFrame:
        return src.select(
            F.col(part),
            F.col("doc_id"),
            F.lit(check).alias("check"),
            detail.cast("string").alias("detail"),
        )

    pieces = [
        rows(
            p.filter(F.col("doc_id").isNull()),
            "missing_values",
            F.lit("null doc_id"),
        ),
        rows(
            p.filter(F.col("tok_len").isNull()),
            "missing_values",
            F.lit("null tokens"),
        ),
        rows(
            p.filter(
                F.col("tok_len").isNotNull()
                & (F.col("tok_len") != F.col("n_tok"))
            ),
            "length_consistency",
            F.concat(
                F.lit("declared n_tok="),
                F.col("n_tok"),
                F.lit(" actual="),
                F.col("tok_len"),
            ),
        ),
    ]

    dup = duplicate_violations(
        p.select(part, "doc_id").filter(F.col("doc_id").isNotNull()),
        keys=["doc_id"],
        partition_col=part,
    )
    pieces.append(
        rows(
            dup,
            "uniqueness",
            F.concat(
                F.lit("group_size="),
                F.col("group_size"),
                F.lit(" occurrence="),
                F.col("occurrence"),
            ),
        )
    )

    if allowed_sources is not None:
        bad = p.join(
            F.broadcast(
                allowed_sources.select("source").distinct()
            ),
            on="source",
            how="left_anti",
        )
        pieces.append(
            rows(
                bad,
                "referential",
                F.concat(F.lit("unknown source="), F.coalesce(
                    F.col("source"), F.lit("NULL"))),
            )
        )

    if ref_digests is not None:
        r = ref_digests.select(
            "doc_id", F.col("tok_digest").alias("_rd")
        ).filter(F.col("doc_id").isNotNull())
        mism = (
            p.filter(F.col("doc_id").isNotNull())
            .join(r.hint("shuffle_hash"), on="doc_id", how="inner")
            .filter(F.col("tok_digest") != F.col("_rd"))
        )
        pieces.append(
            rows(mism, "token_equality", F.lit("token digest mismatch"))
        )

    out = pieces[0]
    for x in pieces[1:]:
        out = out.unionByName(x)
    return out


def score_partitions(
    verdicts: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per-partition weighted quality score + grade (quality_scorer.py:46-122
    generalized: dataset → partition). Components: missing = worst null pct,
    duplicate = doc_id dup pct, outlier(slot) = contract-violation pct
    (length mismatches + referential + token mismatches)."""
    p = verdicts.groupBy("part_id").pivot(
        "check",
        [
            "missing_values",
            "uniqueness",
            "referential",
            "length_consistency",
            "token_equality",
        ],
    ).agg(F.max("pct"))
    z = F.lit(0.0)
    missing = F.coalesce(F.col("missing_values"), z)
    dup = F.coalesce(F.col("uniqueness"), z)
    contract = F.least(
        F.lit(100.0),
        F.coalesce(F.col("referential"), z)
        + F.coalesce(F.col("length_consistency"), z)
        + F.coalesce(F.col("token_equality"), z),
    )
    sc = overall_score(missing, dup, contract, None, config.thresholds)
    return p.select(
        "part_id",
        F.round(missing, 2).alias("missing_pct"),
        F.round(dup, 2).alias("duplicate_pct"),
        F.round(contract, 2).alias("violation_pct"),
        sc.alias("overall_score"),
        grade(sc).alias("grade"),
    )


def verdict_rollup(verdicts: DataFrame) -> DataFrame:
    """Second-level rollup of the verdict table (SURVEY §2.4's one
    previously-unexercised aggregation shape): per (part_id, check)
    subtotals, per-part_id subtotals, and the grand total in ONE pass
    via ``rollup()`` — the grouping sets share a single map-side-combined
    exchange instead of three self-aggregations. Rolled-up key levels
    surface as part_id = -1 / check = 'ALL' (real part ids are >= 0).

    Aggregate choices are oracle-exact by construction: counts are
    integers, worst_pct is a max (order-independent), and the pct total
    is summed in centi-points as int64 — a float sum's result depends on
    accumulation order and would flip last bits between engines."""
    failed = F.when(F.col("passed") == False, 1).otherwise(0)  # noqa: E712
    return (
        verdicts.rollup("part_id", "check")
        .agg(
            F.count(F.lit(1)).alias("n_checks"),
            F.sum(failed).cast("long").alias("n_failed"),
            F.max("pct").alias("worst_pct"),
            F.sum(F.round(F.col("pct") * 100, 0).cast("long")).alias(
                "sum_pct_centi"
            ),
        )
        .select(
            F.coalesce(F.col("part_id"), F.lit(-1)).alias("part_id"),
            F.coalesce(F.col("check"), F.lit("ALL")).alias("check"),
            "n_checks",
            "n_failed",
            "worst_pct",
            "sum_pct_centi",
        )
    )


def report_json(verdicts: DataFrame, run_id: str) -> DataFrame:
    """Reference-shaped JSON rollup (S6, quality_check.py:171-174): one JSON
    document per partition."""
    per_check = verdicts.groupBy("part_id").agg(
        F.to_json(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.concat_ws(":", "check", "column"),
                        F.struct("value", "pct", "severity", "recommendation", "passed"),
                    )
                )
            )
        ).alias("checks_json"),
    )
    return per_check.select(
        F.lit(run_id).alias("run_id"), "part_id", "checks_json"
    )


def run_checks(
    spark: SparkSession,
    df: DataFrame,
    io: ParquetTableIO | None = None,
    run_id: str = "run_0",
    ref_stats: DataFrame | None = None,
    allowed_sources: DataFrame | None = None,
    ref_sequences: DataFrame | None = None,
    ref_digests: DataFrame | None = None,
    snapshot_id: str | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
    min_rows: int | None = None,
    now: datetime | None = None,
    export_violations: bool = True,
) -> RunResult:
    """Full pipeline with schema gate, resume pruning, and persistence.

    Raises ValueError on hard validation failures (min rows/cols — the
    reference's 422 path, file_handler.py:163-186)."""
    sv = validate_schema(df.schema, SEQUENCES_SCHEMA)
    if not sv.is_valid:
        raise ValueError(f"schema validation failed: {sv.errors}")
    t = config.thresholds
    n = df.limit((min_rows or t.min_rows)).count()
    if n < (min_rows or t.min_rows):
        raise ValueError(
            f"dataset has {n} rows; minimum is {min_rows or t.min_rows} "
            "(reference MIN_ROWS gate, config/settings.py:58)"
        )

    pruned: list[int] = []
    started = (now or datetime.now(timezone.utc)).isoformat()
    if io is not None:
        df, pruned = M.prune_completed(df, io, run_id, config.partition_col)
        todo = [
            r["part_id"]
            for r in df.select(config.partition_col).distinct().collect()
        ]
        if not todo:  # fully resumed: nothing to recompute
            verdicts = io.read_appended(RESULTS_TABLE).filter(
                F.col("run_id") == run_id
            )
            score = io.read_appended(RESULTS_TABLE + "_score").filter(
                F.col("run_id") == run_id
            )
            return RunResult(run_id, verdicts, score, pruned)
        M.record_partitions(
            spark, io, run_id, todo, "started", snapshot_id, now=now
        )

    built = build_verdicts(
        df, ref_stats, allowed_sources, ref_sequences, config,
        ref_digests=ref_digests,
    )
    verdicts = built.withColumn("run_id", F.lit(run_id)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    score = score_partitions(verdicts.drop("run_id"), config).withColumn(
        "run_id", F.lit(run_id)
    )

    if io is not None:
        io.append(verdicts, RESULTS_TABLE)
        io.append(score, RESULTS_TABLE + "_score")
        if export_violations:
            if ref_digests is None and ref_sequences is not None:
                ref_digests = token_digests(ref_sequences)
            io.append(
                build_violations(
                    df, allowed_sources, ref_digests, config
                ).withColumn("run_id", F.lit(run_id)),
                VIOLATIONS_TABLE,
            )
        digests = M.stats_digests(
            io.read_appended(RESULTS_TABLE).filter(F.col("run_id") == run_id)
        )
        M.record_partitions(
            spark, io, run_id, sorted(digests), "done", snapshot_id,
            digests=digests, started_at=started, now=now,
        )
        # everything is on disk now; drop the cached plan state so repeated
        # run_checks calls (or a driver loop) don't accumulate cache entries
        release_cached(built)
        verdicts.unpersist()
        verdicts = io.read_appended(RESULTS_TABLE).filter(
            F.col("run_id") == run_id
        )
        # rebind score to the persisted read-back too: the original plan
        # references the just-unpersisted verdicts, so a later action on
        # RunResult.score would silently recompute the whole pipeline
        # (the pruned early-return path above already reads back).
        score = io.read_appended(RESULTS_TABLE + "_score").filter(
            F.col("run_id") == run_id
        )
    return RunResult(run_id, verdicts, score, pruned)
