"""Spans and per-layer counters, read from outside the engine.

Every timed call into the engine is an *op*: build (the call that returns
a DataFrame) then action (``collect``). With tracing on, the op's build
and action run under their own job groups, and right after the op the
tracer reads from Spark's status store the jobs and stages of each group
and the Catalyst phase times of the collected plan. Spans stay in memory
and are written out, with their self times, when the run ends.

With tracing off, an op is its build and collect between clock reads.
"""

from __future__ import annotations

import itertools
import json
import threading
import time

from stats import gap, self_times

# per-op layer fields, summed over ops
OP_FIELDS = (
    "build_ms", "build_jobs",
    "sql_analysis_ms", "sql_optimization_ms", "sql_planning_ms",
    "exec_jobs", "exec_stages", "exec_tasks", "exec_gap_ms",
    "exec_run_ms", "exec_cpu_ms", "exec_gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_disk_bytes",
    "collect_ms", "collect_rows",
)
PHASES = ("analysis", "optimization", "planning")


def _epoch_s(opt) -> float | None:
    """A scala Option[java.util.Date] as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._seq = itertools.count()
        self._lock = threading.Lock()
        if enabled:
            self.sc = spark.sparkContext
            jsc = self.sc._jsc.sc()
            self._store = jsc.statusStore()
            self._bus = jsc.listenerBus()
            self._no_quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)

    def _next_id(self, kind: str) -> str:
        with self._lock:
            return f"{kind}-{next(self._seq)}"

    def span(self, sid, name, start, end, parent=None, trace=None, **attrs) -> None:
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "trace": trace or sid, **attrs}
            )

    def run_op(self, kind: str, name: str, build) -> tuple[list, dict]:
        """Build a DataFrame with ``build()`` and collect it. Returns the
        rows and the op record (times, and the layer fields when traced)."""
        op = self._next_id(kind)
        if self.enabled:
            self.sc.setJobGroup(f"{op}/build", name)
        t0 = time.time()
        df = build()
        t1 = time.time()
        if self.enabled:
            self.sc.setJobGroup(f"{op}/action", name)
        rows = df.collect()
        t2 = time.time()
        rec = {"op": op, "kind": kind, "name": name, "start": t0, "build_end": t1,
               "end": t2, "rows": len(rows)}
        if self.enabled:
            self.sc._jsc.clearJobGroup()
            rec.update(self._op_layers(op, name, df, t0, t1, t2, len(rows)))
        return rows, rec

    # -- status store --------------------------------------------------

    def _drain_bus(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the status store holds the op's finished jobs."""
        self._bus.waitUntilEmpty()

    def group_stages(self, group: str) -> tuple[list[dict], list[dict]]:
        """(jobs, stages) the status store holds for a job group."""
        jobs, stages = [], []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            j = self._store.job(jid)
            jobs.append({"job": jid, "start": _epoch_s(j.submissionTime()),
                         "end": _epoch_s(j.completionTime())})
            ids = j.stageIds()
            for i in range(ids.size()):
                attempts = self._store.stageData(
                    ids.apply(i), False, None, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if str(s.status()) == "SKIPPED":
                        continue
                    stages.append({
                        "stage": s.stageId(), "attempt": s.attemptId(), "job": jid,
                        "start": _epoch_s(s.submissionTime()),
                        "end": _epoch_s(s.completionTime()),
                        "tasks": s.numTasks(),
                        "run_ms": s.executorRunTime(),
                        "cpu_ms": s.executorCpuTime() / 1e6,
                        "gc_ms": s.jvmGcTime(),
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "spill_disk_bytes": s.diskBytesSpilled(),
                    })
        return jobs, stages

    def _phases(self, df) -> dict:
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in PHASES:
            o = ph.get(p)
            out[f"sql_{p}_ms"] = o.get().durationMs() if o.isDefined() else 0
        return out

    def _op_layers(self, op, name, df, t0, t1, t2, n_rows) -> dict:
        self._drain_bus()
        b_jobs, b_stages = self.group_stages(f"{op}/build")
        a_jobs, a_stages = self.group_stages(f"{op}/action")
        self.span(op, name, t0, t2)
        self.span(f"{op}/build", "build", t0, t1, parent=op, trace=op)
        self.span(f"{op}/action", "action", t1, t2, parent=op, trace=op)
        for parent, stages in ((f"{op}/build", b_stages), (f"{op}/action", a_stages)):
            for s in stages:
                if s["start"] is not None and s["end"] is not None:
                    self.span(f"{op}/s{s['stage']}.{s['attempt']}", "stage", s["start"],
                              s["end"], parent=parent, trace=op, tasks=s["tasks"],
                              cpu_ms=s["cpu_ms"])
        a_busy = [(s["start"], s["end"]) for s in a_stages
                  if s["start"] is not None and s["end"] is not None]
        last_end = max((e for _, e in a_busy), default=t1)
        everything = b_stages + a_stages
        rec = {
            "build_ms": (t1 - t0) * 1e3,
            "build_jobs": len(b_jobs),
            **self._phases(df),
            "exec_jobs": len(b_jobs) + len(a_jobs),
            "exec_stages": len(everything),
            "exec_tasks": sum(s["tasks"] for s in everything),
            "exec_gap_ms": gap((t1, t2), a_busy) * 1e3,
            "collect_ms": max(0.0, t2 - last_end) * 1e3,
            "collect_rows": n_rows,
        }
        for f in ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_disk_bytes"):
            key = f if f.startswith(("shuffle", "spill")) else f"exec_{f}"
            rec[key] = sum(s[f] for s in everything)
        return rec

    def group_cpu_ms(self, group: str) -> float:
        """Executor CPU time over every stage of a job group (a streaming
        query's jobs run under its run id)."""
        self._drain_bus()
        return sum(s["cpu_ms"] for s in self.group_stages(group)[1])

    def write(self, path: str) -> None:
        """Write every span, with its self time, one JSON object a line."""
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_ms": selfs[s["id"]] * 1e3}) + "\n")


def op_totals(records: list[dict]) -> dict:
    """Layer fields summed over op records."""
    return {f: sum(r.get(f, 0) for r in records) for f in OP_FIELDS}
