"""Benchmark of the validation engine: one closed-loop client, one workload.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 20      # every workload

A run starts a ``local[<cores>]`` session sized to the host (half its
cores, see ``host_fit``), sets the
workload up several times from ``--seed``, makes one warm-up pass, then
repeats passes for ``--seconds`` (each pass starts after the previous one
returned, with Spark's cache cleared in between). Every pass is checked
against an independent recount of the generated inputs. With ``--trace 1``
one more pass and standalone per-layer calls run under spans, and the last
line carries the per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Rationale, sizes and the layer map are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# rows of the current table per workload (see README.md for the sizing)
ROWS = {"flagship": 100_000, "checks_persist": 50_000, "service_tabular": 50_000}
SETUP_REPS = 3
DRIVER_MB_CAP = 2048

END_TO_END = {"setup_s": "s", "pass_s": "s", "rows_per_s": "rows/s",
              "peak_rss_mb": "MB"}
PASS_TOTALS = {"pass.jobs": "count", "pass.gc_s": "s", "pass.spill_mb": "MB",
               "pass.failed_tasks": "count", "pass.input_mb": "MB",
               "pass.scan_ratio": "ratio", "pass.codegen_compiles": "count"}
SUFFIX_UNITS = {"wall_s": "s", "jobs": "count", "run_s": "s", "cpu_s": "s",
                "shuffle_mb": "MB"}


def host_fit() -> tuple[int, int]:
    """(task slots: half the cores this process may use, driver heap in MB:
    a quarter of the host's memory, capped).

    The other half is left to what runs beside the tasks: the driver's
    planning thread, JIT and GC threads, the Python driver and workers. With
    one slot per core these queue behind the tasks, and a pass of many small
    jobs then measures the scheduler."""
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return cores, min(DRIVER_MB_CAP, kb // 1024 // 4)


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of this machine's CPUs so far; steal is time a
    virtual CPU was ready but its host ran something else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(roots) -> float:
    """CPU seconds (user + system, own and reaped children) of the given
    processes and all their descendants: the Python driver, the driver JVM
    and the Python workers it forks."""
    stats, kids = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(d)] = sum(int(x) for x in v[11:15])
        kids.setdefault(int(v[1]), []).append(int(d))
    todo, ticks = list(roots), 0
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, 0)
        todo += kids.get(pid, [])
    return ticks * _TICK_S


def _vmhwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("VmHWM:"))


class Session:
    """The Spark session of one run, with every scratch path inside the
    run's work directory, and a stop that waits for the JVM to exit."""

    def __init__(self, work: str):
        self.work = work
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # Python workers import the engine; the JVM passes this on to them
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # HotSpot writes its perf-data file under /tmp whatever the temp dir
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = None
        from data_drift_monitoring_spark.session import get_spark

        self.cores, self.driver_mb = host_fit()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.driver.memory": f"{self.driver_mb}m",
                # a heap fixed at its maximum is not resized between runs,
                # which keeps GC time and resident set steady
                "spark.driver.extraJavaOptions":
                    f"-Xms{self.driver_mb}m -Djava.io.tmpdir={tmp} "
                    "-XX:-UsePerfData",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                # plan strings keep whole table paths, so a traced run can
                # tell which scan read which table
                "spark.sql.maxMetadataStringLength": "10000",
            },
        )
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (_vmhwm_kb(jvm) + _vmhwm_kb("self")) * 1024 / 1e6

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def measure(sess: Session, args) -> tuple[dict, list[str]]:
    from spans import SPAN_SUFFIXES, Tracer, scanned_rows
    from workloads import SPANS, WORKLOADS, NullTracer

    spark = sess.spark
    rows = args.rows or ROWS[args.workload]
    wl = WORKLOADS[args.workload](spark, sess.work, args.seed, rows)
    tracer = Tracer(spark) if args.trace else None
    untraced = NullTracer()

    setup = []
    for rep in range(SETUP_REPS):
        last = rep == SETUP_REPS - 1
        t = time.perf_counter()
        wl.setup(rep, tracer if (tracer and last) else untraced)
        setup.append(time.perf_counter() - t)
        if not last:
            shutil.rmtree(os.path.join(sess.work, f"setup{rep}"))
    wl.facts()

    tally = {"attempted": 0, "failed": 0, "md5": None}
    # one count per whole-stage or expression class Spark compiles
    codegen = (spark.sparkContext._jvm.org.apache.spark.metrics.source
               .CodegenMetrics.METRIC_COMPILATION_TIME())

    def one_pass(tr):
        spark.catalog.clearCache()
        tally["attempted"] += 1
        n, c = codegen.getCount(), _tree_cpu_s([os.getpid()])
        t = time.perf_counter()
        try:
            with tr.span("pass"):
                res = wl.run_pass(tr)
        except Exception:
            traceback.print_exc()
            tally["failed"] += 1
            return None, None
        dt = time.perf_counter() - t
        res["cpu_s"] = _tree_cpu_s([os.getpid()]) - c
        res["codegen"] = codegen.getCount() - n
        try:
            problems, md5 = wl.check(res)
        except Exception:
            problems, md5 = [traceback.format_exc()], None
        if tally["md5"] is None:
            tally["md5"] = md5
        elif md5 != tally["md5"]:
            problems.append(f"result md5 {md5} != first pass {tally['md5']}")
        if problems:
            tally["failed"] += 1
            print(f"pass {tally['attempted']} wrong: {problems[:5]}",
                  file=sys.stderr)
        return dt, res

    t_warm = time.perf_counter()
    _, res = one_pass(untraced)  # warm-up: JVM and codegen, not timed
    if res is not None:
        wl.finish_pass(res)
    times, subs = [], {}
    t_start, tries = time.perf_counter(), 0
    ticks0 = _cpu_ticks()
    # at least one pass is timed; a pass that raises is retried twice
    while time.perf_counter() - t_start < args.seconds or (
            not times and tries < 3):
        tries += 1
        dt, res = one_pass(untraced)
        if res is None:
            continue
        times.append(dt)
        for k in ("cpu_s", "check_quality_s", "detect_drift_s"):
            if k in res:
                subs.setdefault(k, []).append(res[k])
        wl.finish_pass(res)

    if not times:
        raise RuntimeError("no pass completed; nothing was measured")
    ticks1 = _cpu_ticks()
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    pass_s = statistics.median(times)
    setup_s = sess.start_s + statistics.median(setup)
    peak_rss_mb = sess.peak_rss_mb()
    vol = wl.volume
    lines = [
        f"perfbench {wl.name} seed={args.seed} local[{sess.cores}] "
        f"driver={sess.driver_mb}m rows={vol['rows']}"
        + "".join(f" {k}={v}" for k, v in vol.items() if k != "rows"),
        f"  setup_s        {setup_s:10.3f} s  (session {sess.start_s:.3f} s + "
        f"median of set-ups {[round(x, 3) for x in setup]})",
        f"  pass_s         {pass_s:10.3f} s  (median of n={len(times)} passes "
        f"{[round(x, 3) for x in times]}, warm-up {t_start - t_warm:.3f}, "
        f"CPU steal {steal:.1%})",
        f"  rows_per_s     {vol['rows'] / pass_s:10.1f} rows/s",
        f"  peak_rss_mb    {peak_rss_mb:10.1f} MB  (driver JVM + Python driver)",
    ]
    if "tokens" in vol:
        lines.append(f"  tokens_per_s   {vol['tokens'] / pass_s:10.1f} tokens/s")
    for k, v in subs.items():
        lines.append(f"  {k:<15}{statistics.median(v):10.3f} s  "
                     f"(median of n={len(v)} {[round(x, 3) for x in v]})")

    if not tracer:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": vol["rows"] / pass_s,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END
    else:
        dt_traced, res = one_pass(tracer)
        if res is None:
            raise RuntimeError("the traced pass raised")
        wl.replay(tracer, res)
        wl.finish_pass(res)
        tracer.collect()
        metrics = tracer.layer_metrics(SPANS)
        traced = tracer.find("pass")[-1]
        total = traced["total"]
        metrics.update({
            "pass.jobs": total["jobs"],
            "pass.gc_s": total["gc_s"],
            "pass.spill_mb": total["spill_mb"],
            "pass.failed_tasks": total["failed_tasks"],
            "pass.input_mb": total["input_mb"],
            "pass.codegen_compiles": res["codegen"],
            "pass.scan_ratio": scanned_rows(
                spark, tracer.subtree_jobs(traced), wl.cur_path) / vol["rows"],
            "trace.overhead_s": dt_traced - pass_s,
        })
        units = {**{f"{s}.{k}": SUFFIX_UNITS[k]
                    for s in SPANS for k in SPAN_SUFFIXES},
                 **PASS_TOTALS, "trace.overhead_s": "s"}
        out = os.path.join(HERE, ".work", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{wl.name}-seed{args.seed}.json")
        tracer.write(path, {"workload": wl.name, "seed": args.seed,
                            "untraced_pass_s": times, "metrics": metrics})
        lines.append(f"  trace          {path}")
        for name in SPANS:
            if tracer.find(name):
                lines.append(f"  {name:<42}" + "".join(
                    f"  {k} {metrics[f'{name}.{k}']:.4g}" for k in SPAN_SUFFIXES))
        for name in [*PASS_TOTALS, "trace.overhead_s"]:
            lines.append(f"  {name:<42}  {metrics[name]:.4f} {units[name]}")

    lines.append(f"  error_rate     {tally['failed']}/{tally['attempted']} "
                 f"passes  result md5 {tally['md5']}")
    result = {
        "correct": tally["failed"] == 0 and tally["attempted"] > 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    return result, lines


def run_all(args) -> int:
    """Each workload in its own process: every workload's report lines, then
    one JSON object of the results keyed by workload."""
    results = {}
    for name in ROWS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.rows:
            cmd += ["--rows", str(args.rows)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        out = p.stdout.strip().splitlines()
        if p.returncode != 0 or not out:
            print(f"{name}: exit {p.returncode}")
            return 1
        print("\n".join(out[:-1]))
        results[name] = json.loads(out[-1])
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(ROWS))
    ap.add_argument("--all", action="store_true",
                    help="run every workload, one process each")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=0,
                    help="override the workload's input rows (smoke tests)")
    args = ap.parse_args(argv)
    if args.all:
        return run_all(args)
    if not args.workload:
        ap.error("--workload or --all is required")

    sys.path.insert(0, ROOT)
    import data_drift_monitoring_spark as engine

    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        sys.exit(f"engine imported from {engine.__file__}, not from {ROOT}")

    work = os.path.join(HERE, ".work", f"{args.workload}-seed{args.seed}-"
                                       f"pid{os.getpid()}")
    sess = Session(work)
    try:
        result, lines = measure(sess, args)
    finally:
        sess.stop()
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
