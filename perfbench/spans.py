"""Layer spans and Spark-side counters, read from outside the program.

Spans wrap the benchmark's calls into each layer's public functions.
Counters come from Spark's status tracker and status stores, read right
after each phase under that phase's job group. The stores keep only
``spark.ui.retainedJobs`` jobs, so each read is checked against the
scheduler's own job counter: a phase whose group lists fewer jobs than
the phase fired lost some to eviction, and the read raises.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from pathlib import Path

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, entry: str | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "entry": entry, "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"])
        covered, reach = 0.0, span["start"]
        for a, b in kids:
            a, b = max(a, reach), min(b, span["end"])
            if b > a:
                covered += b - a
                reach = b
        return span["end"] - span["start"] - covered

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def parse_metric(text: str) -> float:
    """Numeric total of a formatted SQL metric ('12.5 MiB', '40,000', '1.7 s')."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"([\d.,]+)\s*(\w+)?", last)
    if not m:
        raise ValueError(f"unparsed metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value * {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}.get(unit, 1.0)


class SparkCounters:
    """Reads what one job group fired: jobs, stages, task metrics, Python
    seam traffic, and cached RDD storage."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jsc = jsc
        self._sql = spark._jsparkSession.sharedState().statusStore()
        from redmap_spark.plans.explain import PYTHON_PLAN_NODES

        self._python_nodes = PYTHON_PLAN_NODES
        self._first_job = 0

    def start(self, tag: str) -> None:
        """Open a phase: tag its jobs with job group ``tag`` and note the
        scheduler's job counter, which no eviction touches."""
        self.sc.setJobGroup(tag, tag)
        self._first_job = self._dag.numTotalJobs()

    def group(self, tag: str) -> dict:
        """Counters of every job fired under job group ``tag`` since
        ``start(tag)``."""
        self._bus.waitUntilEmpty()
        fired = self._dag.numTotalJobs() - self._first_job
        tracker = self.sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(tag))
        if len(job_ids) < fired:
            raise RuntimeError(f"group {tag} lists {len(job_ids)} of the {fired} jobs the phase "
                               "fired; the rest were evicted before they were read")
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "input_rows": 0, "python_mb": 0.0, "python_rows": 0}
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                raise RuntimeError(f"job {jid} of group {tag} was evicted before it was read")
            stage_ids.update(int(s) for s in info.stageIds)
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, None, False, None)
            if attempts.size() == 0:
                raise RuntimeError(f"stage {sid} of group {tag} was evicted before it was read")
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_mb"] += (st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()) / 2**20
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                out["input_rows"] += st.inputRecords()
        self._python_seams(set(job_ids), out)
        return out

    def _python_seams(self, job_ids: set[int], out: dict) -> None:
        if not job_ids:
            return
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not any(ex.jobs().contains(j) for j in job_ids):
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name() not in self._python_nodes:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    if metric.name() in ("data sent to Python workers",
                                         "data returned from Python workers"):
                        out["python_mb"] += parse_metric(v.get()) / 2**20
                    elif metric.name() == "number of output rows":
                        out["python_rows"] += int(parse_metric(v.get()))

    def cached_mb(self) -> float:
        infos = self._jsc.getRDDStorageInfo()
        return sum(info.memSize() + info.diskSize() for info in infos) / 2**20
