"""Engine-native per-layer signals for the traced run, read from inside the
benchmark's Spark session through public or JVM-reachable entry points:

- the Spark status store (works with ``spark.ui.enabled=false``): jobs,
  stages and task-time quantiles, attributed to one key of one pass by the
  job group the benchmark sets (``perfbench:<pass>:<key>``; the store keeps
  earlier passes' jobs, so the pass index keeps them apart), plus the run id of every stream the key started (streaming
  replaces the job group of its micro-batch jobs with the query's run id);
- a ``QueryExecutionListener``: the planning phases of every action a key
  runs, the noop write included;
- ``CodeGenerator.compileTime`` and ``CodegenMetrics``: Janino compiles;
- the JVM management beans: JIT and GC time;
- a ``StreamingQueryListener``: micro-batch and state-store progress.

Nothing here is created in an untraced run.
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener

SKEW_MIN_TASK_MS = 50  # stages whose longest task is shorter are not skew


def _phases(qe) -> dict[str, int]:
    """Milliseconds per planning phase from a QueryExecution's tracker."""
    it = qe.tracker().phases().iterator()
    got = {}
    while it.hasNext():
        kv = it.next()
        got[kv._1()] = kv._2().durationMs()
    return got


class _PlanListener:
    """Collects the tracker phases of every successful action."""

    def __init__(self) -> None:
        self.phases: list[dict[str, int]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        self.phases.append(_phases(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.run_ids: set[str] = set()
        self.progress: list = []

    def onQueryStarted(self, event):  # noqa: N802
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):  # noqa: N802
        self.progress.append(event.progress)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class EngineProbe:
    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(
            getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        )
        self.codegen = getattr(
            getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"),
            "MODULE$",
        )
        self.compiles = getattr(
            getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$"), "MODULE$"
        ).METRIC_COMPILATION_TIME()
        self.mf = jvm.java.lang.management.ManagementFactory
        self.quantiles = sc._gateway.new_array(jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0
        ensure_callback_server_started(sc._gateway)
        self.plans = _PlanListener()
        spark._jsparkSession.listenerManager().register(self.plans)
        self.streams = _StreamListener()
        spark.streams.addListener(self.streams)
        self.group = ""

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.plans)
        self.spark.streams.removeListener(self.streams)

    def counters(self) -> dict[str, float]:
        """Process-wide cumulative counters; a key's share is a difference."""
        gc = sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans())
        return {
            "codegen.classes": self.compiles.getCount(),
            "codegen.compile_ms": self.codegen.compileTime() / 1e6,
            "jvm.jit_ms": self.mf.getCompilationMXBean().getTotalCompilationTime(),
            "jvm.gc_ms": gc,
        }

    def begin_key(self, pass_no: int, key: str) -> None:
        self.group = f"perfbench:{pass_no}:{key}"
        self.sc.setJobGroup(self.group, key)
        self.plans.phases.clear()
        self.streams.run_ids.clear()
        self.streams.progress.clear()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def end_key(self, df) -> dict:
        """Per-layer numbers for the key of the last :meth:`begin_key`; call
        after its result is complete."""
        self.bus.waitUntilEmpty()
        groups = {self.group} | self.streams.run_ids
        jobs = [j for j in self._json(self.store.jobsList(None)) if j.get("jobGroup") in groups]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._json(self.store.stageList(None, False, False, self.quantiles, None))
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        skew = 0.0
        for s in stages:
            if s["numTasks"] < 2:
                continue
            summ = self._json(self.store.taskSummary(s["stageId"], s["attemptId"], self.quantiles))
            if not summ:
                continue
            med, top = summ["executorRunTime"]
            if top >= SKEW_MIN_TASK_MS:
                skew = max(skew, top / max(med, 1.0))
        phases = list(self.plans.phases)
        if df is not None:  # the returned DataFrame's own analysis
            phases.append(_phases(df._jdf.queryExecution()))
        prog = list(self.streams.progress)
        last_state: dict[str, list] = {}
        for p in prog:
            last_state[str(p.runId)] = p.stateOperators
        mb = 1 << 20
        return {
            "jobs": jobs,
            "stages": stages,
            "layer": {
                "catalog.input_rows": sum(s["inputRecords"] for s in stages),
                "catalog.input_mb": sum(s["inputBytes"] for s in stages) / mb,
                "plan.analysis_ms": sum(p.get("analysis", 0) for p in phases),
                "plan.optimization_ms": sum(p.get("optimization", 0) for p in phases),
                "plan.planning_ms": sum(p.get("planning", 0) for p in phases),
                "exec.jobs": len(jobs),
                "exec.stages": len(stages),
                "exec.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
                "exec.failed_tasks": sum(s["numFailedTasks"] for s in stages),
                "exec.task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
                "exec.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
                "exec.skew_max": skew,
                "shuffle.write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
                "shuffle.read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
                "shuffle.records": sum(s["shuffleWriteRecords"] for s in stages),
                "shuffle.fetch_wait_ms": sum(s["shuffleFetchWaitTime"] for s in stages),
                "spill.mb": sum(s["diskBytesSpilled"] for s in stages) / mb,
                "stream.batches": len(prog),
                "stream.input_rows": sum(p.numInputRows for p in prog),
                "stream.add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in prog),
                "stream.query_planning_ms": sum(
                    p.durationMs.get("queryPlanning", 0) for p in prog
                ),
                "stream.wal_commit_ms": sum(p.durationMs.get("walCommit", 0) for p in prog),
                "stream.state_rows": sum(
                    o.numRowsTotal for ops in last_state.values() for o in ops
                ),
                "stream.state_mb": sum(
                    o.memoryUsedBytes for ops in last_state.values() for o in ops
                ) / mb,
                "stream.state_commit_ms": sum(
                    o.commitTimeMs for p in prog for o in p.stateOperators
                ),
            },
        }
