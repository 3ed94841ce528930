"""Scale + scaling-efficiency evidence for the round-3b corpus filters
(repetition signals, PII scan, sequence packing, mixture rebalance).

Builds a deterministic 1M-doc synthetic corpus (xxhash-derived words, no
RNG state) ONCE under /tmp, then times each operator end-to-end at two
parallelism levels (default local[4] vs local[16]) in fresh subprocesses
— the same two-cluster-size protocol as bench.py --scaling. Prints one
JSON line per (op, cpus) plus a summary with per-op scaling ratios.

Usage: python scripts/bench_corpus_filters.py [--cpus 4,16] [--rows 1000000]
       python scripts/bench_corpus_filters.py --child <cpus> <rows>  # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATA = "/tmp/corpus_filters_bench_{rows}"


def _ensure_corpus(spark, rows: int) -> str:
    path = DATA.format(rows=rows)
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        return path
    from pyspark.sql import functions as F

    base = spark.range(rows).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), F.lit(116)) + 5)
        .cast("int")
        .alias("nw"),
        F.concat(
            F.lit("src"), F.pmod(F.col("id"), F.lit(20)).cast("string")
        ).alias("source"),
    )
    docs = base.select(
        "doc_id",
        "source",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.col("nw")),
                lambda i: F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.xxhash64(F.col("doc_id") * F.lit(1000) + i),
                        F.lit(2000),
                    ).cast("string"),
                ),
            ),
            " ",
        ).alias("text"),
    )
    docs.repartition(32).write.mode("overwrite").parquet(path)
    open(marker, "w").close()
    return path


def _child(cpus: int, rows: int) -> None:
    from pyspark.sql import functions as F

    from data_drift_monitoring_spark.operators.packing import (
        pack_windows,
    )
    from data_drift_monitoring_spark.operators.pii import pii_summary
    from data_drift_monitoring_spark.operators.repetition import (
        repetition_summary,
    )
    from data_drift_monitoring_spark.operators.sampling import (
        rebalance_to_mixture,
    )
    from data_drift_monitoring_spark.session import get_spark

    spark = get_spark(
        app_name=f"corpus-filters-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    path = _ensure_corpus(spark, rows)
    d = spark.read.parquet(path)
    d.count()  # warm the scan

    target = {f"src{i}": (i + 1) / 210 for i in range(20)}
    seq = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tok"),
    )
    ops = {
        "repetition": lambda: repetition_summary(d).collect(),
        "pii_scan": lambda: pii_summary(d).collect(),
        "pack_plain": lambda: pack_windows(seq, 2048)
        .agg(F.sum("n_windows"))
        .collect(),
        "pack_bucketed": lambda: pack_windows(
            seq, 2048, prefix_buckets=64
        )
        .agg(F.sum("n_windows"))
        .collect(),
        "mixture_rebalance": lambda: rebalance_to_mixture(d, target)
        .groupBy("source")
        .count()
        .collect(),
    }
    out = {}
    for name, fn in ops.items():
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    print(json.dumps({"cpus": cpus, "rows": rows, "sec": out, "loadavg_1m": round(os.getloadavg()[0], 2)}))


def main() -> None:
    if "--child" in sys.argv:
        i = sys.argv.index("--child")
        _child(int(sys.argv[i + 1]), int(sys.argv[i + 2]))
        return
    cpus = [4, 16]
    rows = 1_000_000
    if "--cpus" in sys.argv:
        cpus = [
            int(c)
            for c in sys.argv[sys.argv.index("--cpus") + 1].split(",")
        ]
    if "--rows" in sys.argv:
        rows = int(sys.argv[sys.argv.index("--rows") + 1])
    results = []
    for c in cpus:
        r = subprocess.run(
            [sys.executable, __file__, "--child", str(c), str(rows)],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        line = [
            ln for ln in r.stdout.splitlines() if ln.startswith("{")
        ][-1]
        results.append(json.loads(line))
        print(line)
    if len(results) == 2:
        lo, hi = results
        ratio = {
            k: round(lo["sec"][k] / hi["sec"][k], 2)
            for k in lo["sec"]
        }
        factor = hi["cpus"] / lo["cpus"]
        print(
            json.dumps(
                {
                    "speedup_at_%dx_cores" % factor: ratio,
                    "efficiency": {
                        k: round(v / factor, 3) for k, v in ratio.items()
                    },
                }
            )
        )


if __name__ == "__main__":
    main()
