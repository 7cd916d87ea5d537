"""Spans and Spark execution counters for the traced run.

A ``Tracer`` keeps one span per layer boundary in memory (name, start,
end, parent span, operation id); ``run.py`` writes them out at the end.
Traced and untraced runs make the same calls into datum_spark: the spans
are taken from outside, around the benchmark's own calls and by wrapping
``Table.query`` and the DataFrame actions (``instrument``).  With tracing
off every span is a no-op and nothing is wrapped.

Spark's execution counters come from the driver's status store (readable
with the UI disabled), per operation: each traced operation runs under a
job group of its own, and ``group_metrics`` sums the jobs and stages of
that group once the listener bus has drained.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

SPARK_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                  "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes", "input_bytes", "output_bytes", "job_wall_s")


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = None
        self.overhead_s = 0.0      # time spent in the tracer's own reads

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def operation(self, op_id, kind: str, build: str | None = None):
        """Root span of one operation, run under its own job group.

        ``build`` names the plan-build span of a public call that builds
        its plan inline (``Database.execute``, ``Table.count``): the time
        from the call to its first Spark action."""
        self.op_id = op_id
        sc = self.spark.sparkContext if (self.enabled and self.spark) else None
        if sc is not None:
            sc.setJobGroup(f"perfbench-{op_id}", kind)
        try:
            with self.span(f"op.{kind}") as rec:
                if rec is not None:
                    rec["build"] = build
                yield rec
        finally:
            if sc is not None:
                t0 = time.perf_counter()
                rec["spark"] = group_metrics(self.spark, f"perfbench-{op_id}")
                rec["spark"]["persisted_rdds"] = (
                    sc._jsc.getPersistentRDDs().size())
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self.overhead_s += time.perf_counter() - t0
            self.op_id = None

    def _build_done(self) -> None:
        """Close the current operation's inline plan build at its first
        action: a span from the operation's start to now."""
        if not self._stack:
            return
        root = self.spans[self._stack[-1]]
        if root["parent"] is None and root.get("build"):
            self.spans.append({"name": root.pop("build"),
                               "start": root["start"], "end": time.time(),
                               "parent": self._stack[-1], "op": self.op_id})

    def instrument(self) -> None:
        """Wrap the boundaries the workloads cross without a call of their
        own: ``Table.query`` (the read path's plan build), and the
        DataFrame actions, each split into Catalyst planning (forcing the
        physical plan, which the action then reuses) and execution.  The
        wrappers call the original methods; untraced runs install none."""
        from pyspark.sql.classic.dataframe import DataFrame

        from datum_spark.table import Table

        tracer = self
        query = Table.query

        def traced_query(*args, **kwargs):
            with tracer.span("table.query.build"):
                return query(*args, **kwargs)

        def action(orig, plan: bool):
            def traced(df, *args, **kwargs):
                tracer._build_done()
                if plan:
                    with tracer.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("spark.exec"):
                    return orig(df, *args, **kwargs)
            return traced

        Table.query = traced_query
        DataFrame.collect = action(DataFrame.collect, plan=True)
        # count() plans an aggregate of its own, so forcing this
        # DataFrame's plan would be extra work
        DataFrame.count = action(DataFrame.count, plan=False)


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def group_metrics(spark, group: str) -> dict:
    """Counters of every job and executed stage in ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    out["job_intervals"] = []
    seen = set()
    d3 = getattr(store, "stageData$default$3")()
    d5 = getattr(store, "stageData$default$5")()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["job_intervals"].append((sub.get().getTime() / 1000.0,
                                         done.get().getTime() / 1000.0))
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, d3, False, d5)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
    out["job_wall_s"] = union_s(out["job_intervals"])
    return out


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [(s["end"] - s["start"]) - union_s(children.get(i, []))
            for i, s in enumerate(spans)]
