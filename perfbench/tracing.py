"""Per-layer tracing of benchmark calls, done from outside the engine.

A traced call records spans in memory (epoch seconds, so they line up with
Spark's own millisecond timestamps):

* ``build``   the query-function call (operators / streaming / sources), or
              the facade calls of a CV experiment;
* ``catalog`` every ``catalog.load_table`` call made while building;
* ``facade.init`` / ``facade.plan``  the ``PreProcessEngine`` calls;
* ``exec``    each noop-sink write (the span ``bench.py`` times);
* ``plan``    from the write call to its SQL execution's submission;
* ``job``     each Spark job the call ran, with its stages.

Spark's numbers are read after the listener bus is drained: jobs and stages
from the ``AppStatusStore``, per-node SQL metrics from the SQL status store,
micro-batch timings from a ``StreamingQueryListener`` and persisted RDDs
from ``getPersistentRDDs``.  Nothing inside ``dataframework_spark`` is
edited: ``load_table`` is wrapped by rebinding the name in every engine
module that imported it, and the rebinding is undone after the pass.
"""

from __future__ import annotations

import re
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

SCAN_METRICS = {
    "number of files read": "scan.files",
    "size of files read": "scan.bytes",
    "number of output rows": "scan.rows",
    "scan time": "scan.time_s",
}
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.recv_bytes",
}
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_METRIC_DECL = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: ``'60,000'``, ``'513 ms'``,
    ``'1018.0 KiB'`` or the multi-task form ``'total (min, med, max ...)\\n
    55.2 s (...)'``, whose total comes first on the second line.  Times are
    returned in seconds and sizes in bytes."""
    text = text.split("\n", 1)[-1].split(" (", 1)[0].strip()
    parts = text.replace(",", "").split()
    value = float(parts[0])
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class NullTracer:
    """The untraced path: spans cost nothing and the sink is a plain write."""

    @contextmanager
    def span(self, name: str):
        yield

    def sink(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()


class _BatchListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer(NullTracer):
    """Records spans and Spark's status for each call of a traced pass."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._jobs_store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._listener = _BatchListener()
        self._rebound: list[tuple[object, object]] = []
        self.spans: list[tuple] = []
        self.calls: list[dict] = []

    # -- install / remove --------------------------------------------------

    def install(self) -> None:
        from dataframework_spark import catalog

        original = catalog.load_table

        def load_table(*args, **kwargs):
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                self.spans.append(("catalog", t0, time.time()))

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("dataframework_spark") and getattr(mod, "load_table", None) is original:
                self._rebound.append((mod, original))
                mod.load_table = load_table
        self.spark.streams.addListener(self._listener)

    def remove(self) -> None:
        for mod, original in self._rebound:
            mod.load_table = original
        self._rebound.clear()
        self.spark.streams.removeListener(self._listener)

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))

    def sink(self, df) -> None:
        with self.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    # -- one call ----------------------------------------------------------

    def run(self, name: str, op) -> tuple[float, BaseException | None]:
        """Run ``op(self)``; return (latency_s, error) and keep its record."""
        self._bus.waitUntilEmpty()
        job0 = self._dag.nextJobId()  # py4j hands the AtomicInteger over as an int
        exec0 = self._sql_store.executionsCount()
        batches0 = len(self._listener.progress)
        persisted0 = self._persisted()
        self.spans = []
        self._heap_reset()
        err = None
        t0 = time.time()
        try:
            op(self)
        except Exception as exc:  # the caller counts it as a failed call
            err = exc
        t1 = time.time()
        self._bus.waitUntilEmpty()
        rec = {
            "name": name,
            "start": t0,
            "end": t1,
            "spans": self.spans,
            "jobs": [self._job(j) for j in range(job0, self._dag.nextJobId())],
            "executions": self._executions(exec0),
            "batches": self._listener.progress[batches0:],
            # RDDs the call persisted and left persisted; an earlier call's
            # RDDs still waiting for their asynchronous unpersist are not counted
            "persisted_after": len(self._persisted() - persisted0),
            "heap_peak": self._heap_peak(),
        }
        self.calls.append(rec)
        return t1 - t0, err

    # -- readers -----------------------------------------------------------

    def _persisted(self) -> set[int]:
        return set(self.sc._jsc.getPersistentRDDs().keySet())

    def _heap_reset(self) -> None:
        pools = self.sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        for i in range(pools.size()):
            pools.get(i).resetPeakUsage()

    def _heap_peak(self) -> int:
        pools = self.sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return sum(
            pools.get(i).getPeakUsage().getUsed()
            for i in range(pools.size())
            if str(pools.get(i).getType()) == "Heap memory"
        )

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def _job(self, job_id: int) -> dict:
        job = self._jobs_store.job(job_id)
        ids = job.stageIds()
        stages = []
        for k in range(ids.size()):
            s = self._jobs_store.lastStageAttempt(ids.apply(k))
            stages.append(
                {
                    "id": s.stageId(),
                    "status": str(s.status()),
                    "tasks": s.numCompleteTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "deser_s": s.executorDeserializeTime() / 1e3,
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_read_records": s.shuffleReadRecords(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                    "spill_mem_bytes": s.memoryBytesSpilled(),
                    "spill_disk_bytes": s.diskBytesSpilled(),
                    "output_bytes": s.outputBytes(),
                    "output_rows": s.outputRecords(),
                }
            )
        return {
            "id": job_id,
            "start": self._ms(job.submissionTime()),
            "end": self._ms(job.completionTime()),
            "stages": stages,
        }

    def _executions(self, offset: int) -> list[dict]:
        """The SQL executions listed after position ``offset`` of the store
        (execution ids are JVM-wide, positions are per session)."""
        listed = self._sql_store.executionsList(offset, 1 << 30)
        return [self._execution(listed.apply(i)) for i in range(listed.size())]

    def _execution(self, ui) -> dict:
        exec_id = ui.executionId()
        rec = {"submit": ui.submissionTime() / 1000.0, "metrics": {}, "cache_scans": 0}
        values = self._sql_store.executionMetrics(exec_id)
        nodes = self._sql_store.planGraph(exec_id).allNodes()
        metrics = rec["metrics"]
        for i in range(nodes.size()):
            node = nodes.apply(i)
            node_name = node.name()
            if node_name == "InMemoryTableScan":
                rec["cache_scans"] += 1
            if node_name.startswith("Scan "):
                wanted = SCAN_METRICS
            elif "Python" in node_name or "Pandas" in node_name or "Arrow" in node_name:
                wanted = PYTHON_METRICS
            else:
                continue
            for m_name, acc_id, _kind in _METRIC_DECL.findall(node.metrics().toString()):
                key = wanted.get(m_name)
                if key is None:
                    continue
                value = values.get(int(acc_id))
                if value.isDefined():
                    metrics[key] = metrics.get(key, 0.0) + parse_metric(value.get())
        return rec


def call_layers(rec: dict) -> dict[str, float]:
    """Per-layer numbers of one traced call record."""
    out: dict[str, float] = {}
    spans = rec["spans"]
    by = lambda n: [(a, b) for name, a, b in spans if name == n]  # noqa: E731
    builds, execs, catalogs = by("build"), by("exec"), by("catalog")
    jobs = [j for j in rec["jobs"] if j["start"] is not None]
    job_iv = [(j["start"], j["end"] or rec["end"]) for j in jobs]

    def in_any(t: float, ivs) -> bool:
        return any(a <= t <= b for a, b in ivs)

    build_jobs = [iv for iv in job_iv if in_any(iv[0], builds)]
    exec_jobs = [j for j in jobs if not in_any(j["start"], builds)]
    out["catalog.calls"] = len(catalogs)
    out["catalog.s"] = sum(b - a for a, b in catalogs)
    out["build.s"] = sum(b - a for a, b in builds)
    out["build.jobs"] = len(build_jobs)
    out["build.job_s"] = sum(union_s(build_jobs, a, b) for a, b in builds)
    out["build.self_s"] = out["build.s"] - sum(union_s(catalogs + build_jobs, a, b) for a, b in builds)
    out["facade.init_s"] = sum(b - a for a, b in by("facade.init"))
    out["facade.plan_s"] = sum(b - a for a, b in by("facade.plan"))
    out["exec.s"] = sum(b - a for a, b in execs)

    # plan.s: each write's first SQL execution submitted at or after it
    plan = 0.0
    submits = sorted(e["submit"] for e in rec["executions"])
    for a, b in execs:
        first = next((s for s in submits if a - 0.002 <= s <= b), None)
        if first is not None:
            plan += max(0.0, first - a)
    out["plan.s"] = plan

    # a stage shared by several jobs of the call is counted once
    stages = {s["id"]: s for j in jobs for s in j["stages"]}
    exec_stages = {s["id"]: s for j in exec_jobs for s in j["stages"]}
    ran = [s for s in exec_stages.values() if s["status"] != "SKIPPED"]
    out["exec.jobs"] = len(exec_jobs)
    out["exec.stages"] = len(ran)
    out["exec.tasks"] = sum(s["tasks"] for s in ran)
    for key in ("run_s", "cpu_s", "gc_s", "deser_s"):
        out[f"exec.{key}"] = sum(s[key] for s in ran)
    out["exec.failed_tasks"] = sum(s["failed_tasks"] for s in stages.values())
    everything = [s for s in stages.values() if s["status"] != "SKIPPED"]
    out["shuffle.write_bytes"] = sum(s["shuffle_write_bytes"] for s in everything)
    out["shuffle.read_bytes"] = sum(s["shuffle_read_bytes"] for s in everything)
    out["shuffle.fetch_wait_s"] = sum(s["fetch_wait_s"] for s in everything)
    out["shuffle.partitions"] = sum(
        s["tasks"] for s in everything if s["shuffle_read_records"] or s["shuffle_read_bytes"]
    )
    out["spill.mem_bytes"] = sum(s["spill_mem_bytes"] for s in everything)
    out["spill.disk_bytes"] = sum(s["spill_disk_bytes"] for s in everything)
    out["write.bytes"] = sum(s["output_bytes"] for s in everything)
    out["write.rows"] = sum(s["output_rows"] for s in everything)

    for key in list(SCAN_METRICS.values()) + list(PYTHON_METRICS.values()):
        out[key] = sum(e["metrics"].get(key, 0.0) for e in rec["executions"])
    out["cache.persisted_after"] = rec["persisted_after"]
    out["cache.scan_nodes"] = sum(e["cache_scans"] for e in rec["executions"])

    batches = rec["batches"]
    out["stream.batches"] = len(batches)
    out["stream.plan_s"] = sum(b.get("queryPlanning", 0) for b in batches) / 1e3
    out["stream.commit_s"] = sum(b.get("commitOffsets", 0) + b.get("walCommit", 0) for b in batches) / 1e3
    out["_batch_s"] = [b.get("triggerExecution", 0) / 1e3 for b in batches]
    return out
