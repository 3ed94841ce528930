"""Large-corpus near-dup dedup evidence (VERDICT r2 #2): run
minhash_verified_duplicates + duplicate_clusters end-to-end on a
1M+ document corpus with PLANTED exact/near/border/far duplicates
(generator.generate_dedup_corpus) and report measured recall/precision
vs the planted truth, runtime, throughput, and shuffle volume.

Usage:
    python scripts/bench_dedup_scale.py [--docs 1000000] [--cpus 16]

Prints one JSON line. The corpus is cached under
.bench_cache/dedup_corpus_<docs>_<seed>/ (~35 s/M docs to generate).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 42
THRESHOLD = 0.5
NUM_HASHES = 64
BANDS = 32


def shuffle_totals(spark) -> dict:
    """Total shuffle read/write bytes across completed stages, via the
    local UI REST API (metrics PySpark's status tracker doesn't expose)."""
    try:
        base = spark.sparkContext.uiWebUrl
        apps = json.load(
            urllib.request.urlopen(f"{base}/api/v1/applications", timeout=10)
        )
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages?status=complete",
                timeout=30,
            )
        )
        return {
            "shuffle_read_mb": round(
                sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6, 1
            ),
            "shuffle_write_mb": round(
                sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6, 1
            ),
            "n_stages": len(stages),
        }
    except Exception as ex:  # metrics are evidence, not correctness
        return {"shuffle_metrics_error": str(ex)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 16)))
    args = ap.parse_args()

    from data_drift_monitoring_spark.generator import generate_dedup_corpus
    from data_drift_monitoring_spark.session import get_spark
    from data_drift_monitoring_spark.operators import dedup as D
    from pyspark.sql import functions as F

    cache = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_cache",
        f"dedup_corpus_{args.docs}_{SEED}",
    )
    if not os.path.exists(os.path.join(cache, "truth.parquet")):
        t0 = time.time()
        stats = generate_dedup_corpus(cache, n_docs=args.docs, seed=SEED)
        print(f"# generated corpus in {time.time()-t0:.0f}s: {stats}", file=sys.stderr)

    spark = get_spark(
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(4 * args.cpus, 32),
        # the engine disables the UI by default; this bench needs the REST
        # status API for stage-level shuffle byte totals. GC threads are
        # pinned to the core budget: an unpinned local[1] JVM garbage-
        # collects on all 32 host cores, silently borrowing parallelism
        # the scaling comparison is supposed to withhold.
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={max(args.cpus, 1)} -Xlog:disable"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(cache, "docs"))
    n_docs = docs.count()
    total_words = docs.select(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("w")
    ).collect()[0]["w"]

    # --- pair mining: LSH candidates + exact n-gram verification ---------
    t0 = time.time()
    pairs = D.minhash_verified_duplicates(
        docs,
        "doc_id",
        threshold=THRESHOLD,
        num_hashes=NUM_HASHES,
        bands=BANDS,
    ).persist()
    n_found = pairs.count()
    t_pairs = time.time() - t0

    # --- cluster formation over the found pairs --------------------------
    t0 = time.time()
    clusters = D.duplicate_clusters(pairs)
    n_cluster_rows = clusters.count()
    n_clusters = clusters.select("cluster").distinct().count()
    t_clusters = time.time() - t0

    # --- recall/precision vs planted truth -------------------------------
    found = pairs.toPandas()  # ~tens of thousands of rows
    import duckdb

    con = duckdb.connect()
    con.register("found", found)
    truth_path = os.path.join(cache, "truth.parquet")
    rec = con.execute(
        f"""
        WITH t AS (SELECT a, b, jaccard, kind FROM '{truth_path}'
                   WHERE jaccard >= {THRESHOLD}),
        hit AS (SELECT t.*, f.a IS NOT NULL AS found
                FROM t LEFT JOIN found f USING (a, b))
        SELECT
          (SELECT COUNT(*) FROM t) AS n_truth,
          SUM(CASE WHEN found THEN 1 ELSE 0 END) AS n_hit,
          SUM(CASE WHEN NOT found THEN 1 ELSE 0 END) AS n_missed
        FROM hit
        """
    ).df().iloc[0]
    buckets = con.execute(
        f"""
        WITH t AS (SELECT a, b, jaccard FROM '{truth_path}'
                   WHERE jaccard >= {THRESHOLD}),
        hit AS (SELECT t.jaccard, f.a IS NOT NULL AS found
                FROM t LEFT JOIN found f USING (a, b))
        SELECT CASE WHEN jaccard >= 0.999 THEN 'exact'
                    WHEN jaccard >= 0.7 THEN '0.70-1.00'
                    WHEN jaccard >= 0.55 THEN '0.55-0.70'
                    ELSE '0.50-0.55' END AS bucket,
               COUNT(*) AS n,
               SUM(CASE WHEN found THEN 1 ELSE 0 END) AS hit
        FROM hit GROUP BY 1 ORDER BY 1
        """
    ).df()
    # pairs found outside the planted truth: the operator verifies with
    # EXACT jaccard, so these can only be accidental genuinely-similar
    # base pairs (expected ~0 at vocab 50k)
    unplanted = con.execute(
        f"""
        SELECT COUNT(*) AS n FROM found f
        LEFT JOIN '{truth_path}' t USING (a, b) WHERE t.a IS NULL
        """
    ).df().iloc[0]["n"]

    sh = shuffle_totals(spark)
    out = {
        "metric": "dedup_1m_recall",
        "sf": None,
        "n_docs": int(n_docs),
        "total_words_m": round(total_words / 1e6, 1),
        "threshold": THRESHOLD,
        "num_hashes": NUM_HASHES,
        "bands": BANDS,
        "cpus": args.cpus,
        "pairs_found": int(n_found),
        "n_truth": int(rec["n_truth"]),
        "n_hit": int(rec["n_hit"]),
        "n_missed": int(rec["n_missed"]),
        "recall": round(float(rec["n_hit"]) / float(rec["n_truth"]), 5),
        "precision_vs_planted": round(
            (int(n_found) - int(unplanted)) / max(int(n_found), 1), 5
        ),
        "unplanted_found": int(unplanted),
        "recall_by_bucket": {
            r["bucket"]: f'{int(r["hit"])}/{int(r["n"])}'
            for _, r in buckets.iterrows()
        },
        "n_cluster_rows": int(n_cluster_rows),
        "n_clusters": int(n_clusters),
        "pair_mining_sec": round(t_pairs, 1),
        "clustering_sec": round(t_clusters, 1),
        "docs_per_sec": round(n_docs / t_pairs),
        **sh,
    }
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
