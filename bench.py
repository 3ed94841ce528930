"""Benchmark harness (driver contract + scaling evidence).

Default mode: runs the headline queries from ``__spark_entry__`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, plus the flagship end-to-end validation +
drift pipeline (the north-star workload: constraint checks + PSI/KS drift
+ per-row token equality over a deterministic synthetic sequences table),
and prints the full per-query JSON blob followed by ONE compact JSON
summary line (the last stdout line — sized to survive the driver's
2000-char tail capture)::

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "sf": 0.1, "tokens_per_sec": T, "flagship_sec": S,
     "n_queries": K, "max_loadavg_1m": L, ...}

``--scaling`` mode: runs the flagship pipeline in two fresh subprocesses
at local[8] (N cores) and local[32] (4N cores) over the SAME input and
reports tokens/sec at both + scaling efficiency — the sandbox evidence
protocol for BASELINE.json's "N → 4N executors, efficiency >= 0.8" rule
(see BASELINE.md). ``--flagship-only`` is the subprocess entry.

Usage:
    python bench.py                 # driver mode: one JSON line to stdout
    python bench.py --scaling       # writes BENCH.md + prints JSON summary
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# flagship synthetic sequences table size (rows); ~143 tokens/row avg.
# 1M rows keeps the default run under ~2 min while being large enough that
# the pipeline's O(rows) work dominates its fixed per-job latency.
BENCH_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "1000000"))
BENCH_PARTS = 32  # one parquet file per logical part_id → 32 input splits
CACHE = os.path.join(REPO, ".bench_cache")
# 40M-row runs hold the cached projection + concurrent shuffled-hash
# builds, so the 8g library default is too tight; half of physical memory
# (capped at 24g) leaves the host room for the Python workers and page
# cache. SPARK_DRIVER_MEMORY overrides.
DRIVER_MEMORY = os.environ.get("SPARK_DRIVER_MEMORY") or "%dg" % max(
    1, min(24, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31)
)

HEADLINE = [
    "q_seq_stats",
    "q_len_consistency",
    "q_numeric_summary",
    "q_quantiles",
    "q_outlier_iqr",
    "q_zscore_outliers",
    "q_histogram",
    "q_topk_values",
    "q_distinct_counts",
    "q_duplicates",
    "q_referential_ok",
    "q_referential_violations",
    "q_missing_patterns",
    "q_psi_quantity",
    "q_chi2_returnflag",
    "q_events_hourly",
    "q_corpus_summary",
    "q_token_counts",
    "q_quality_scores",
    "q_exact_dedup",
    "q_fingerprints",
    "q_ann_topk",
    "q_minhash_near_dup",
    "q_simhash_groups",
    "q_embedding_near_dup_lsh",
    # round 2 additions
    "q_ann_ivf",
    "q_remediation",
    "q_score_trends",
    "q_dedup_clusters",
    # round 3 additions
    "q_simhash_hamming",
    "q_lang_id_accuracy",
    "q_dedup_against",
    "q_embedding_against",
    "q_token_drift",
    "q_stratified_sample",
    "q_contamination_report",
    "q_embedding_dim_drift",
    "q_repetition_scores",
    "q_pack_windows",
    "q_pii_scan",
    "q_mixture_rebalance",
    "q_url_blocklist",
    "q_span_dedup",
    "q_shard_layout",
    "q_quality_classifier",
]


def _ensure_bench_data() -> tuple[str, str]:
    """Deterministic flagship input, generated once and cached (gitignored).
    cur = ref_corrupted (identical to ref except p5's injected per-row token
    corruptions) so every check family does real work."""
    from data_drift_monitoring_spark.generator import generate_sequences

    ref_dir = os.path.join(CACHE, f"seq_ref_{BENCH_ROWS}_{BENCH_PARTS}")
    cur_dir = os.path.join(CACHE, f"seq_cur_{BENCH_ROWS}_{BENCH_PARTS}")
    for d, variant in ((ref_dir, "ref"), (cur_dir, "ref_corrupted")):
        marker = os.path.join(d, "_DONE")
        if not os.path.exists(marker):
            generate_sequences(
                d, variant=variant, rows=BENCH_ROWS,
                num_partitions=BENCH_PARTS, seed=42,
            )
            open(marker, "w").close()
    return ref_dir, cur_dir


def _bench_shuffle_parts(cpus: int, rows: int) -> int:
    """The shuffle-partition count the flagship subprocess actually uses
    (also rendered into BENCH.md's config table so the doc can't drift
    from the code): ~300k rows per partition, floored at 32, capped at
    4x cores; AQE coalesces the excess for small stages."""
    return min(max(32, 4 * cpus), max(32, rows // 300_000))


def _spark(cpus: int):
    from data_drift_monitoring_spark.session import get_spark

    return get_spark(
        app_name=f"bench-local-{cpus}",
        master=f"local[{cpus}]",
        # shuffle partitions bound per-task state (the shuffled-hash build
        # side) whose concurrency is the core count, so they must track
        # data volume: one 40M-entry map OOMs at 1 partition, and 16
        # concurrent 2.5M-entry maps OOM an 8g heap — but over-partitioning
        # small runs (128 partitions for 1M rows) nearly doubles wall time
        # in per-task overhead. ~300k rows per partition, floored at 32,
        # capped at 4x cores; AQE coalesces the excess for small stages.
        shuffle_partitions=_bench_shuffle_parts(cpus, BENCH_ROWS),
        extra_conf={
            # bench files are ~50 MB/part: the default 128 MB
            # maxPartitionBytes bin-packs 2-3 files per task and caps scan
            # parallelism below the core count — 32 MB gives every core work
            "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
            # the cached projection is ~50 B/row; skipping lz4 on the
            # columnar cache cuts the fill time ~24% and memory is ample
            "spark.sql.inMemoryColumnarStorage.compressed": "false",
            # honest N-core emulation: without this, a local[1] JVM still
            # runs GC on all 32 host cores, deflating the N-core baseline
            # and understating the measured N->4N scaling
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={cpus} "
                f"-XX:ConcGCThreads={max(1, cpus // 4)} "
                # JVM unified-logging warnings (gc,alloc) print to stdout
                # and would corrupt the one-JSON-line bench contract
                "-Xlog:disable"
            ),
            "spark.driver.memory": DRIVER_MEMORY,
        },
    )


def _force(df) -> None:
    """Materialize fully on executors without driver collect."""
    df.write.format("noop").mode("overwrite").save()


def _ensure_ref_artifacts(spark, ref_dir: str) -> tuple[str, str]:
    """One-time reference-side init (the production ``init_reference`` job):
    persisted histograms + token digests. Excluded from the timed monitoring
    pass, exactly as a deployed baseline snapshot would be."""
    from data_drift_monitoring_spark.operators.invariants import token_digests
    from data_drift_monitoring_spark.plans.reference import build_ref_stats

    art = os.path.join(CACHE, f"ref_artifacts_{BENCH_ROWS}_{BENCH_PARTS}")
    stats_p = os.path.join(art, "ref_stats")
    dig_p = os.path.join(art, "ref_digests")
    marker = os.path.join(art, "_DONE")
    if not os.path.exists(marker):
        ref = spark.read.parquet(ref_dir)
        build_ref_stats(ref).write.mode("overwrite").parquet(stats_p)
        token_digests(ref).write.mode("overwrite").parquet(dig_p)
        open(marker, "w").close()
    return stats_p, dig_p


def run_flagship(spark) -> dict:
    """The north-star workload: the full constraint + drift + token-equality
    monitoring pass over the synthetic sequences table (reference artifacts
    precomputed, as in production). Returns timing + validated token count
    (sum of n_tok over the scanned current table)."""
    from pyspark.sql import functions as F

    from data_drift_monitoring_spark.config import ALLOWED_SOURCES
    from data_drift_monitoring_spark.plans.pipeline import (
        build_verdicts,
        score_partitions,
    )

    ref_dir, cur_dir = _ensure_bench_data()
    stats_p, dig_p = _ensure_ref_artifacts(spark, ref_dir)
    _warm_page_cache(cur_dir, dig_p)  # measure compute, not cold disk
    cur = spark.read.parquet(cur_dir)
    ref_stats = spark.read.parquet(stats_p)
    ref_digests = spark.read.parquet(dig_p)
    dim = spark.createDataFrame([(s,) for s in ALLOWED_SOURCES], "source string")

    total_tokens = cur.agg(F.sum("n_tok")).collect()[0][0]

    # steady-state protocol: run the pass REPS times in-session and take the
    # fastest — one-time JVM codegen / Python-worker startup (~15 s,
    # data-size-independent) is amortized to zero in any long-running
    # monitoring deployment and would otherwise swamp the scaling signal
    # at gate scale (≤1M rows, ~7-20 s/rep) JIT warm-up spans more than
    # 3 passes when the host starts loaded (measured trajectory
    # 71→58→33→15→10→7.8→7.0 s); best-of-6 reaches the steady state the
    # protocol is defined to measure. Large inputs keep 3 (rep ≫ warm-up).
    default_reps = "6" if BENCH_ROWS <= 1_000_000 else "3"
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", default_reps))

    def one_pass(frame) -> float:
        # drop all cached data (incl. the pipeline's internal `prepared`
        # projection) so every pass re-does the full O(rows) work — only
        # JVM/codegen/worker warm-up is amortized, never the computation
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        verdicts = build_verdicts(
            frame, ref_stats=ref_stats, allowed_sources=dim,
            ref_digests=ref_digests,
        ).persist()
        _force(verdicts)
        _force(score_partitions(verdicts))
        verdicts.unpersist()
        return time.perf_counter() - t0

    # JMH-style explicit warm-up: run the IDENTICAL pipeline on a
    # file-pruned slice (2 of the 32 part_id files, ~1/16 of the rows —
    # same plan shape, parquet row-group stats prune the rest) until its
    # wall time stops improving. JIT-compiling every codegen / exchange /
    # Arrow path at slice cost means the timed full-input reps start at
    # steady state. Without this the JIT tail sometimes outlasts the rep
    # budget: two fresh quiet-host best-of-6 sessions measured 18.5 s vs
    # 9.9 s on identical input (steady floor 7.0 s) purely by where the
    # warm-up slope happened to end.
    warm = cur.where(F.col("part_id") < max(2, BENCH_PARTS // 16))
    prev = float("inf")
    for _ in range(8):
        w = one_pass(warm)
        if w > prev * 0.9:  # <10% improvement -> warm
            break
        prev = w

    secs = []
    loads = []
    bws = []
    for _ in range(reps):
        loads.append(round(os.getloadavg()[0], 2))
        bws.append(_bw_sample())
        secs.append(round(one_pass(cur), 3))
    sec = min(secs)
    return {
        "sec": round(sec, 3),
        "total_tokens": int(total_tokens),
        "rows": BENCH_ROWS,
        "tokens_per_sec": round(total_tokens / sec, 1),
        # bench hygiene: host load + a memory-bandwidth sample at each
        # rep start + the per-rep wall trajectory make every number
        # self-adjudicating (a loaded-host artifact reads as load > ~2;
        # bw well under ~10 GB/s marks an external-pressure phase — this
        # VM's idle single-core bandwidth swings 1.7-11.6 GB/s, measured;
        # a still-descending trajectory reads as residual warm-up, not a
        # design regression)
        "reps": reps,
        "secs": secs,
        "loadavg_1m": loads,
        "bw_gbps": bws,
    }


def run_headline(spark) -> tuple[dict[str, float], dict[str, float]]:
    import __spark_entry__ as E

    qs = E.queries()
    reps = int(os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "3"))
    out: dict[str, float] = {}
    loads: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        # host load when this query's reps started: a per-query number
        # taken under load > ~2 is a host artifact, not a regression
        loads[name] = round(os.getloadavg()[0], 2)
        for _ in range(reps):  # best-of-3 default: first rep pays per-query codegen warm-up (measured 3.3 s vs 0.48 s steady on q_token_counts)
            t0 = time.perf_counter()
            _force(qs[name](spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out, loads


def main() -> None:
    if "--scaling" in sys.argv:
        run_scaling()
        return

    # sampled BEFORE any Spark work: the externally-meaningful host-load
    # signal. Per-query loadavg during the run is dominated by the bench
    # itself (local[32] saturating the host reads as loadavg ~20-30 —
    # self-induced, not contamination; see BENCH.md round-4 adjudication).
    load_at_start = round(os.getloadavg()[0], 2)
    spark = _spark(CPUS)
    try:
        if "--flagship-only" in sys.argv:
            print(json.dumps(run_flagship(spark)))
            return
        # warm up the JVM/codegen paths so per-query numbers are steady
        _force(spark.read.parquet(f"{SF_DIR}/nation.parquet"))
        flagship = run_flagship(spark)
        queries, loads = run_headline(spark)
        queries["flagship_pipeline"] = flagship["sec"]
        loads["flagship_pipeline"] = flagship["loadavg_1m"][0]
        total = round(sum(queries.values()), 3)
        sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
        sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
        print(
            json.dumps(
                {
                    "metric": "headline_total_sec",
                    "value": total,
                    "unit": "sec",
                    "queries": queries,
                    "sf": sf_val,
                    "tokens_per_sec": flagship["tokens_per_sec"],
                    "flagship_total_tokens": flagship["total_tokens"],
                    "flagship_rows": flagship["rows"],
                    "cpus": CPUS,
                    "headline_reps": int(
                        os.environ.get("SPARK_GRAFT_HEADLINE_REPS", "3")
                    ),
                    "loadavg_1m_at_start": load_at_start,
                    "flagship_rep_secs": flagship["secs"],
                    "loadavg_1m_per_query": loads,
                }
            )
        )
        # The full blob above exceeds the driver's 2000-char tail capture
        # (BENCH_r04.json recorded parsed:null for exactly this reason), so
        # the LAST stdout line is a compact machine-readable summary that
        # always survives truncation. The full per-query table stays above.
        print(
            json.dumps(
                {
                    "metric": "headline_total_sec",
                    "value": total,
                    "unit": "sec",
                    "sf": sf_val,
                    "tokens_per_sec": flagship["tokens_per_sec"],
                    "flagship_sec": flagship["sec"],
                    "n_queries": len(queries),
                    "loadavg_1m_at_start": load_at_start,
                    "max_loadavg_1m_during": max(loads.values()),
                    "cpus": CPUS,
                    "full_table": "previous stdout line",
                }
            )
        )
    finally:
        spark.stop()


def _bw_sample(_arr=[]):
    """One-shot single-core memory-bandwidth sample (GB/s), ~0.2 s.

    This VM's effective memory bandwidth fluctuates up to 6x on an
    otherwise-idle host (measured 1.7-11.6 GB/s across 30 s — external
    hypervisor/co-tenant pressure; BENCH.md "Round 5 capstone"). A
    sample before each rep lets a reader see which host phase a wall
    came from instead of mistaking a slow phase for a regression."""
    import numpy as np

    if not _arr:
        _arr.append(np.ones(100_000_000))  # 800 MB, streaming read
    t0 = time.perf_counter()
    float(_arr[0].sum())
    return round(0.8 / (time.perf_counter() - t0), 2)


def _warm_page_cache(*dirs: str) -> None:
    """Read every bench input file once so neither parallelism level pays
    cold-disk I/O (the levels are compared on identical warm-cache state)."""
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                with open(os.path.join(root, f), "rb") as fh:
                    while fh.read(1 << 24):
                        pass


def run_scaling() -> None:
    """N vs 4N evidence: same job, same input, local[N] vs local[4N], each
    in a fresh JVM (default N=1 — the regime below this host's ~2 GB/s
    single-VM scan-bandwidth ceiling; see BENCH.md). Efficiency =
    (tps_4N / tps_N) / 4. Page cache pre-warmed; best of 2 subprocess runs
    per level, each internally best-of-3 steady-state reps."""
    global BENCH_ROWS
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1"))
    pair = (n, 4 * n)
    # scaling needs compute-dominated runs: default to the full 40M-row
    # (~5.7B-token) workload — at 10M rows the per-rep fixed costs
    # (job scheduling, Arrow batch setup) weigh 4x more on the larger
    # level and shave ~0.15 off each core-doubling (measured; BENCH.md
    # "Pinned-ladder context") — unless the caller already pinned a size
    BENCH_ROWS = int(
        os.environ.get("SPARK_GRAFT_BENCH_ROWS")
        or os.environ.get("SPARK_GRAFT_SCALE_ROWS", "40000000")
    )
    ref_dir, cur_dir = _ensure_bench_data()
    # Default ON: taskset each level to exactly its core budget so
    # mapInPandas Python workers compete for the level's cores (as on a
    # real executor) instead of riding free host cores — the same
    # honesty fix that moved span dedup's measured N→4N from 0.614
    # (unpinned artifact) to 0.830 (see BENCH.md). SPARK_GRAFT_SCALE_PIN=0
    # disables explicitly; hosts without taskset (e.g. macOS) fall back
    # to unpinned with a warning rather than failing.
    pin = os.environ.get("SPARK_GRAFT_SCALE_PIN", "1") == "1"
    if pin and shutil.which("taskset") is None:
        sys.stderr.write(
            "# taskset not found: falling back to UNPINNED levels — "
            "Python workers may ride free host cores and inflate the "
            "measured efficiency (see BENCH.md)\n"
        )
        pin = False
    results = {}
    for cpus in pair:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_BENCH_ROWS=str(BENCH_ROWS),
        )
        cmd = [sys.executable, os.path.join(REPO, "bench.py"), "--flagship-only"]
        if pin:
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        best = None
        # subprocess launches per level (each internally best-of-REPS);
        # large inputs (100M rows: ~15 min per 1-core subprocess) may
        # need SPARK_GRAFT_SCALE_RUNS=1 to fit a session budget
        runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "2"))
        for _ in range(runs):
            _warm_page_cache(ref_dir, cur_dir)
            p = subprocess.run(
                cmd, env=env, capture_output=True, text=True,
                # 1 hour covers the 40M default; scale with input size
                # (100M rows at 1 pinned core runs ~45 min/subprocess)
                timeout=max(3600, BENCH_ROWS // 10_000),
            )
            lines = [
                ln for ln in p.stdout.strip().splitlines()
                if ln.startswith("{")
            ]
            if not lines:
                sys.stderr.write(
                    f"local[{cpus}] run produced no JSON "
                    f"(rc={p.returncode}); stderr tail:\n"
                    + "\n".join(p.stderr.strip().splitlines()[-15:]) + "\n"
                )
                raise RuntimeError(f"scaling subprocess failed at local[{cpus}]")
            r = json.loads(lines[-1])
            if best is None or r["tokens_per_sec"] > best["tokens_per_sec"]:
                best = r
        results[cpus] = best
    lo, hi = results[pair[0]], results[pair[1]]
    eff = round((hi["tokens_per_sec"] / lo["tokens_per_sec"]) / 4.0, 3)
    summary = {
        "metric": f"scaling_efficiency_{pair[0]}_to_{pair[1]}",
        "value": eff,
        "unit": "ratio",
        "n_cores": pair[0],
        "4n_cores": pair[1],
        "tokens_per_sec_n": lo["tokens_per_sec"],
        "tokens_per_sec_4n": hi["tokens_per_sec"],
        "speedup": round(hi["tokens_per_sec"] / lo["tokens_per_sec"], 2),
        "rows": hi["rows"],
        "total_tokens": hi["total_tokens"],
        "sec_n": lo["sec"],
        "sec_4n": hi["sec"],
        "loadavg_1m_n": lo.get("loadavg_1m"),
        "loadavg_1m_4n": hi.get("loadavg_1m"),
        "bw_gbps_n": lo.get("bw_gbps"),
        "bw_gbps_4n": hi.get("bw_gbps"),
        "pinned": pin,
        "runs_per_level": runs,
    }
    _write_bench_md(summary)
    print(json.dumps(summary))


# everything from this marker on is hand-maintained evidence (micro
# benches, dedup/streaming sections); --scaling regenerates only the
# header + protocol block above it
_BENCH_MD_KEEP_MARKER = "## Additional measured context"


def _write_bench_md(summary: dict) -> None:
    path = os.path.join(REPO, "BENCH.md")
    tail = ""
    if os.path.exists(path):
        old = open(path).read()
        idx = old.find(_BENCH_MD_KEEP_MARKER)
        if idx != -1:
            tail = old[idx:]
    with open(path, "w") as f:
        f.write(_bench_md(summary))
        if tail:
            f.write("\n" + tail)


def _bench_md(s: dict) -> str:
    n, n4 = s["n_cores"], s["4n_cores"]
    runs = s.get("runs_per_level", 2)
    runs_txt = (
        f"best of {runs} process runs per level, each run reporting"
        if runs != 1
        else "one process run per level, reporting"
    )
    repro = f"python bench.py --scaling"
    if s["rows"] != 40_000_000:
        repro = f"SPARK_GRAFT_SCALE_ROWS={s['rows']} " + repro
    if runs != 2:
        repro = f"SPARK_GRAFT_SCALE_RUNS={runs} " + repro
    return f"""# BENCH — flagship throughput & scaling evidence

Workload: full validation + drift pipeline (`plans/pipeline.build_verdicts`
+ `score_partitions`) over the deterministic synthetic sequences table
(`generator.generate_sequences`, {s['rows']:,} rows / {BENCH_PARTS} logical
partitions, cur = `ref_corrupted` vs ref snapshot): per-partition column
stats, token-length consistency, doc_id uniqueness + per-row token-array
equality (one shared doc_id shuffled-hash join against the persisted
reference digests), referential check via the per-partition source
histogram, PSI/KS/JS/chi-square drift + p-values in one applyInPandas
stage against broadcast reference histograms. Validated tokens =
sum(n_tok) of the scanned current table = {s['total_tokens']:,}.

## Protocol (sandbox evidence for BASELINE.json's two-cluster-size rule)

No real multi-executor cluster exists here; the N → 4N criterion is
evidenced by the identical job on identical input at local[{n}] (N={n}
cores) vs local[{n4}] (4N={n4} cores): fresh JVM per level, OS page cache
pre-warmed identically, {runs_txt} the
best of 3 in-session steady-state repetitions (cache cleared between reps
so every rep re-does the full O(rows) work; only one-time JVM codegen /
Python-worker startup — which any long-running deployment amortizes — is
excluded).{" Each level runs taskset-PINNED to exactly its core budget, so Python (Arrow UDF) workers compete for the level's cores as they would on a real executor instead of riding free host cores." if s.get("pinned") else ""}
1-min loadavg at each level's best rep: N = {s.get('loadavg_1m_n')},
4N = {s.get('loadavg_1m_4n')} (recorded so a loaded-host run
self-adjudicates).

A small N (={n}) is used (not 8) because this single-VM host caps concurrent parquet
scan throughput at ~2 GB/s regardless of core count (measured: the
tokens-column decode takes 1.14 s at 8 cores and 0.97 s at 32 on identical
input, while pure-compute workloads scale near-linearly). On a real
cluster each executor owns its memory bandwidth, so the N→4N comparison
must run in the regime below the host ceiling to measure the *design's*
scaling rather than the sandbox's bus.

| config | wall sec | validated tokens/sec |
|---|---|---|
| local[{n}]  (N = {n} cores, shuffle.partitions={_bench_shuffle_parts(n, s['rows'])})   | {s['sec_n']} | {s['tokens_per_sec_n']:,} |
| local[{n4}] (4N = {n4} cores, shuffle.partitions={_bench_shuffle_parts(n4, s['rows'])}) | {s['sec_4n']} | {s['tokens_per_sec_4n']:,} |

- speedup (4N vs N): **{s['speedup']}x**
- scaling efficiency (speedup / 4): **{s['value']}** (target >= 0.8)

Session config common to both: AQE on (coalescePartitions + skewJoin),
Arrow enabled, broadcast threshold 64 MB, shuffled-hash joins preferred,
UTC, `spark.driver.memory={DRIVER_MEMORY}`, maxPartitionBytes=32MB (scan splits >=
core count), shuffle.partitions=min(max(4*cores,32), rows/300k)
(per-task shuffled-hash
build state is bounded by data volume x concurrency, not core count),
uncompressed columnar cache, and `-XX:ParallelGCThreads=<cores>`
(without which a local[1] JVM still garbage-collects on all 32 host
cores, silently deflating the N-core baseline).
Reproduce: `{repro}`.
"""


if __name__ == "__main__":
    main()
