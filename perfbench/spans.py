"""Outside-in span tracing for the benchmark.

A span wraps one call from the benchmark into a public engine function. Each
span runs under its own Spark job group, so after the traced section the
driver's status store (reached over py4j, which works with the UI disabled)
attributes every job and stage to exactly one span. Spans are kept in memory
with id, parent, start and end; stage metrics are read once at the end, so
the reads cost nothing inside a timed span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# the five metrics every span reports, in output order
SPAN_SUFFIXES = ("wall_s", "jobs", "run_s", "cpu_s", "shuffle_mb")

_MB = 1e6


def scanned_rows(spark, job_ids: set[int], path: str) -> int:
    """Rows that parquet scans of the table at ``path`` produced in the SQL
    executions owning any of ``job_ids`` (task-side ``number of output rows``
    of each ``Scan parquet`` node, so a recomputed scan counts again)."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    sql = spark._jsparkSession.sharedState().statusStore()
    rows = 0
    for ex in conv.asJava(sql.executionsList()):
        if not set(conv.asJava(ex.jobs()).keySet()) & job_ids:
            continue
        values = conv.asJava(sql.executionMetrics(ex.executionId()))
        for node in conv.asJava(sql.planGraph(ex.executionId()).allNodes()):
            if not node.name().startswith("Scan parquet") or (
                    path not in node.desc()):
                continue
            for m in conv.asJava(node.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v:
                    rows += int(v.replace(",", ""))
    return rows


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "group": f"perfbench-{sid}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> None:
        """Attach Spark job and stage metrics to every finished span: the
        span's own jobs, then inclusive totals over its subtree."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            own = dict.fromkeys(
                ("run_s", "cpu_s", "gc_s", "shuffle_mb", "input_mb",
                 "spill_mb", "failed_tasks"), 0.0)
            job_ids = tracker.getJobIdsForGroup(rec["group"])
            stage_ids = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                for st in conv.asJava(store.stageData(sid, False, None, False, None)):
                    own["run_s"] += st.executorRunTime() / 1e3
                    own["cpu_s"] += st.executorCpuTime() / 1e9
                    own["gc_s"] += st.jvmGcTime() / 1e3
                    own["shuffle_mb"] += st.shuffleWriteBytes() / _MB
                    own["input_mb"] += st.inputBytes() / _MB
                    own["spill_mb"] += st.diskBytesSpilled() / _MB
                    own["failed_tasks"] += st.numFailedTasks()
            own["jobs"] = len(job_ids)
            rec["own"] = own
            rec["job_ids"] = set(job_ids)
        for rec in reversed(self.spans):  # children always follow parents
            tot = dict(rec["own"])
            for child in self.children(rec["id"]):
                for k, v in child["total"].items():
                    tot[k] += v
            rec["total"] = tot
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["wall_s"] - _covered(self.children(rec["id"]))

    def subtree_jobs(self, rec: dict) -> set[int]:
        jobs = set(rec["job_ids"])
        for child in self.children(rec["id"]):
            jobs |= self.subtree_jobs(child)
        return jobs

    def children(self, sid: int) -> list[dict]:
        return [r for r in self.spans if r["parent"] == sid]

    def find(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def layer_metrics(self, names: list[str]) -> dict[str, float]:
        """``<span>.<suffix>`` for every named span; a span a workload never
        enters reads 0. Repeated spans of one name are summed."""
        out = {}
        for name in names:
            recs = self.find(name)
            out[f"{name}.wall_s"] = sum(r["wall_s"] for r in recs)
            for k in ("jobs", "run_s", "cpu_s", "shuffle_mb"):
                out[f"{name}.{k}"] = sum(r["total"][k] for r in recs)
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {
                "id": r["id"],
                "parent": r["parent"],
                "name": r["name"],
                "start_s": r["start"] - t0,
                "end_s": r["end"] - t0,
                "wall_s": r["wall_s"],
                "self_s": r["self_s"],
                "own": r["own"],
                "total": r["total"],
            }
            for r in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)


def _covered(children: list[dict]) -> float:
    """Length of the union of the children's [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for r in sorted(children, key=lambda r: r["start"]):
        if cur_e is None or r["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = r["start"], r["end"]
        else:
            cur_e = max(cur_e, r["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total
