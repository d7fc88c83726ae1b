"""Span recorder: wall time plus the Spark cost a call caused, read from outside.

A span wraps one call into a package module's public function.  It labels
the Spark jobs the call runs with a job group and sums, from the status
store's stage list, the stages created while it ran (keyed by stage id):
tasks, executor run time, JVM CPU, GC, input/output bytes, shuffle and spill.
After every span it also records how many RDDs are still persisted and how
much they hold, which is how a cache leak shows up.

Everything is read from the driver's ``AppStatusStore``, which Spark keeps
with the UI disabled.  The session must be built with raised
``spark.ui.retainedStages`` / ``retainedJobs`` (``RETAIN_CONF``) so no stage
drops out of the store in the middle of a run.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# Keep every job and stage of a run in the status store.
RETAIN_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}

_SIZE = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class StatusReader:
    """Thin py4j view of the driver's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._spark = spark
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of the jobs that just ended."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stages(self, first: int = 0) -> dict[tuple[int, int], dict]:
        """Stage data by (stage id, attempt) for stage ids >= ``first``."""
        out = {}
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(seq.size()):
            s = seq.apply(i)
            if s.stageId() < first:
                continue
            out[(s.stageId(), s.attemptId())] = {
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "gc_ms": s.jvmGcTime(),
                "input_b": s.inputBytes(),
                "output_b": s.outputBytes(),
                "shuffle_b": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def next_stage_id(self) -> int:
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return max((seq.apply(i).stageId() for i in range(seq.size())), default=-1) + 1

    def set_group(self, group: str | None, description: str | None = None) -> None:
        """Label the jobs this thread submits from now on (None clears)."""
        self._sc.setLocalProperty("spark.jobGroup.id", group)
        self._sc.setLocalProperty("spark.job.description", description)

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def failed_jobs(self, job_ids: list[int]) -> int:
        n = 0
        for j in job_ids:
            info = self._sc.statusTracker().getJobInfo(j)
            if info is not None and info.status == "FAILED":
                n += 1
        return n

    def last_execution(self) -> int:
        ex = self._sql().executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def scan_mb(self, location: str, since: int) -> float:
        """MB of files read by the parquet scans of SQL executions newer
        than ``since`` whose file location contains ``location``."""
        sql = self._sql()
        ex = sql.executionsList()
        total = 0.0
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= since:
                continue
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not node.name().startswith("Scan") or location not in node.desc():
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "size of files read" and v.isDefined():
                        hit = _SIZE.search(v.get())
                        if hit:
                            total += float(hit.group(1)) * _UNIT[hit.group(2)]
        return total / MB

    def _sql(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def cache(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        n = self._sc._jsc.getPersistentRDDs().size()
        infos = self._jsc.getRDDStorageInfo()
        held = sum(r.memSize() + r.diskSize() for r in infos)
        return n, held / MB


def stage_totals(stages: dict) -> dict:
    """Sum the given stages; skipped stages are only counted."""
    tot = dict.fromkeys(
        ("stages", "skipped_stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
         "input_b", "output_b", "shuffle_b", "spill_b"), 0.0,
    )
    for cur in stages.values():
        if cur["status"] == "SKIPPED":
            tot["skipped_stages"] += 1
            continue
        tot["stages"] += 1
        for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_b", "output_b",
                  "shuffle_b", "spill_b"):
            tot[k] += cur[k]
    return tot


class Recorder:
    """Collects spans in memory; ``spans`` is written out when the run ends.

    ``overhead_s`` is the wall time the recorder itself adds: waiting for
    the listener bus and reading the store, around every span."""

    def __init__(self, reader: StatusReader):
        self.reader = reader
        self.spans: list[dict] = []
        self.max_persisted = 0
        self.max_cached_mb = 0.0
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        rec = {"name": name}
        r = self.reader
        group = f"{name}#{len(self.spans)}"
        t = time.perf_counter()
        r.settle()
        # stages of earlier spans are complete, so only newer ids can change
        first = r.next_stage_id()
        r.set_group(group, name)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["s"] = t1 - t0
            r.set_group(None)
        r.settle()
        d = stage_totals(r.stages(first))
        jobs = r.job_ids(group)
        n_rdd, held = r.cache()
        self.max_persisted = max(self.max_persisted, n_rdd)
        self.max_cached_mb = max(self.max_cached_mb, held)
        rec.update(
            jobs=len(jobs),
            failed_jobs=r.failed_jobs(jobs),
            stages=int(d["stages"]),
            skipped_stages=int(d["skipped_stages"]),
            tasks=int(d["tasks"]),
            run_ms=d["run_ms"],
            cpu_ms=d["cpu_ms"],
            py_ms=max(d["run_ms"] - d["cpu_ms"], 0.0),
            gc_ms=d["gc_ms"],
            input_mb=d["input_b"] / MB,
            output_mb=d["output_b"] / MB,
            shuffle_mb=d["shuffle_b"] / MB,
            spill_mb=d["spill_b"] / MB,
            persisted_rdds=n_rdd,
            cached_mb=held,
        )
        self.spans.append(rec)
        self.overhead_s += time.perf_counter() - t1
