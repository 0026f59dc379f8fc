"""Traced runs: spans and per-layer counters around each public call.

The tracer lives entirely in the benchmark.  Before an op it tags the
driver thread with a Spark job group; after the op returns it reads,
from Spark's own status store and the op's QueryExecution:

- the jobs of that group (intervals, stages, tasks, executor run and CPU
  time, input/shuffle/spill bytes, GC time);
- the Catalyst phase intervals of the DataFrame the op acted on;
- the executed plan (Python-evaluation nodes, index routing);
- what Spark storage holds afterwards (persisted RDDs and their bytes).

All of that bookkeeping runs after the op's timed window and is charged to
`trace.overhead_ms`, never to the op.
"""

from __future__ import annotations

import json
import time

from py4j.protocol import Py4JJavaError

from measure import Span, decompose, plan_node_count, self_time

PYTHON_NODES = frozenset((
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
))
IDLE_GROUP = "perfbench-idle"


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    def __init__(self, spark, epoch_offset: float):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.offset = epoch_offset  # perf_counter() + offset = epoch seconds
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._n = 0

    def begin(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        return group

    def end(self, group: str, name: str, t0: float, t1: float, t2: float, df) -> dict:
        """Collect one op's layer record; t0/t1/t2 are perf_counter() at op
        start, build end and action end."""
        c0 = time.perf_counter()
        self.sc.setJobGroup(IDLE_GROUP, "bookkeeping")
        self.jsc.listenerBus().waitUntilEmpty(10_000)
        op_id = self._n
        lo, mid, hi = t0 + self.offset, t1 + self.offset, t2 + self.offset
        spans = [
            Span("op", lo, hi, op_id, None, {"op_name": name}),
            Span("build", lo, mid, op_id, "op"),
            Span("action", mid, hi, op_id, "op"),
        ]
        rec = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
               "executor_cpu_ms": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0.0}
        job_iv = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            start, stop = _opt(job.submissionTime()), _opt(job.completionTime())
            if start is None or stop is None:
                continue
            iv = (start.getTime() / 1000.0, stop.getTime() / 1000.0)
            job_iv.append(iv)
            parent = "build" if iv[0] < mid else "action"
            spans.append(Span(f"job-{jid}", iv[0], iv[1], op_id, parent))
            rec["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                self._add_stage(rec, ids.apply(i))
        phases = self._phases(df)
        for ph, iv in phases.items():
            parent = "build" if iv[0] < mid else "action"
            spans.append(Span(f"catalyst.{ph}", iv[0], iv[1], op_id, parent))
        parts = decompose((lo, hi), (lo, mid), list(phases.values()), job_iv)
        plan = self._plan(df)
        rec.update({
            "name": name,
            "wall_ms": parts["wall"] * 1e3,
            "build_ms": parts["build"] * 1e3,
            "build_span_ms": (mid - lo) * 1e3,
            "catalyst_ms": parts["catalyst"] * 1e3,
            "jobs_ms": parts["jobs"] * 1e3,
            "gap_ms": parts["gap"] * 1e3,
            "python_nodes": plan_node_count(plan, PYTHON_NODES),
            "plan": plan,
        })
        for ph in ("analysis", "optimization", "planning"):
            iv = phases.get(ph)
            rec[f"{ph}_ms"] = max(min(iv[1], hi) - max(iv[0], lo), 0.0) * 1e3 if iv else 0.0
        rec["persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        rec["storage_mem_bytes"] = sum(i.memSize() for i in self.jsc.getRDDStorageInfo())
        self.spans.extend(spans)
        self.overhead_s += time.perf_counter() - c0
        return rec

    def _add_stage(self, rec: dict, sid: int) -> None:
        try:
            st = self.store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage the store never saw
            return
        if st.status().toString() == "SKIPPED":
            return
        rec["stages"] += 1
        rec["tasks"] += st.numTasks()
        rec["executor_run_ms"] += st.executorRunTime()
        rec["executor_cpu_ms"] += st.executorCpuTime() / 1e6
        rec["input_bytes"] += st.inputBytes()
        rec["shuffle_read_bytes"] += st.shuffleReadBytes()
        rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
        rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        rec["gc_ms"] += st.jvmGcTime()

    @staticmethod
    def _phases(df) -> dict[str, tuple[float, float]]:
        """Catalyst phase intervals of the DataFrame's QueryExecution."""
        jdf = getattr(df, "_jdf", None)
        if jdf is None:
            return {}
        out = {}
        it = jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
        return out

    @staticmethod
    def _plan(df) -> str:
        jdf = getattr(df, "_jdf", None)
        return jdf.queryExecution().executedPlan().toString() if jdf is not None else ""

    def dump(self, path: str) -> None:
        """Write every span with its self time, one JSON object per line."""
        by_op: dict[int, list[Span]] = {}
        for s in self.spans:
            by_op.setdefault(s.op_id, []).append(s)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "op_id": s.op_id, "name": s.name, "parent": s.parent, "start": s.start,
                    "end": s.end, "self_ms": self_time(s, by_op[s.op_id]) * 1e3, **s.attrs}) + "\n")
