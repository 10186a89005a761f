"""Tracing helpers of the benchmark: spans, executed-plan metrics, scheduler
counts and process memory.

Spans are recorded from the benchmark's own code around each call into an
engine module; nothing here reaches inside the engine. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: one record per call into a layer."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()

    def self_time(self, span_id: int) -> float:
        """Span duration minus the time its direct children cover."""
        rec = self.spans[span_id]
        kids = sum(s["dur_s"] for s in self.spans if s["parent"] == span_id)
        return rec["dur_s"] - kids

    def dump(self, path: str) -> None:
        for rec in self.spans:
            rec["self_s"] = self.self_time(rec["id"])
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


# --- executed-plan metrics ---------------------------------------------------

def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _node_metrics(node) -> dict:
    """{metric name: value} of one physical operator; timings normalised
    to milliseconds, sizes to bytes."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = float(m.value())
        if m.metricType() == "nsTiming":
            v /= 1e6
        out[kv._1()] = v
    return out


def plan_nodes(jplan) -> list[tuple[str, dict]]:
    """(node name, metrics) for every operator of an executed plan,
    descending through AQE's final plan and every query stage."""
    out, todo = [], [jplan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append((node.nodeName(), _node_metrics(node)))
        if cls == "ReusedExchangeExec":
            continue   # the exchange it reuses is walked where it ran
        todo.extend(_seq(node.children()))
    return out


def execute_traced(df) -> tuple[int, list[tuple[str, dict]]]:
    """Run the DataFrame's OWN executed plan and count its rows.

    A `noop` write plans a separate QueryExecution, which leaves the
    DataFrame's plan metrics at zero; executing `executedPlan()` directly
    fills them in place, so they can be read back afterwards."""
    plan = df._jdf.queryExecution().executedPlan()
    n = int(plan.execute().count())
    return n, plan_nodes(plan)


def metric_sum(nodes, metric: str, node_prefix: str | None = None) -> float:
    return sum(m.get(metric, 0.0) for name, m in nodes
               if node_prefix is None or name.startswith(node_prefix))


def node_count(nodes, prefix: str) -> int:
    return sum(1 for name, _ in nodes if name.startswith(prefix))


def observed(df, name: str) -> dict:
    """Observation `name` of a DataFrame executed through `execute_traced`
    (its observe() results live on the DataFrame's own QueryExecution)."""
    from pyspark.serializers import CPickleSerializer

    jvm = df.sparkSession._jvm
    opt = df._jdf.queryExecution().observedMetrics().get(name)
    utils = getattr(jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
    return CPickleSerializer().loads(utils.toPyRow(opt.get())).asDict()


class TracedRunner:
    """Job runner of the traced run: one span per job, holding the job's
    row count and its plan's summed shuffle and Python-boundary metrics."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._ids = 0

    def run(self, name: str, df, exprs) -> dict:
        self._ids += 1
        obs_name = f"traced_{name}_{self._ids}"
        with self.tracer.span(name) as rec:
            dfo = df.observe(obs_name, *exprs)
            rec["rows"], nodes = execute_traced(dfo)
            rec["shuffle_bytes"] = metric_sum(nodes, "shuffleBytesWritten")
            rec["python_total_ms"] = metric_sum(nodes, "pythonTotalTime")
            return observed(dfo, obs_name)


# --- scheduler counts --------------------------------------------------------

class JobCounter:
    """Jobs, stages and tasks of everything run under one job group, read
    from the status tracker (exact counts)."""

    def __init__(self, spark, group: str):
        self.sc = spark.sparkContext
        self.group = group

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                sinfo = st.getStageInfo(sid)
                if sinfo is not None and sinfo.numCompletedTasks > 0:
                    stages += 1
                    tasks += sinfo.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# --- process memory ----------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def engine_peak_rss_mb() -> float:
    """Summed VmHWM of every process this one started (the driver JVM and,
    below it, the Python worker daemon and its workers)."""
    kids = _children_map()
    total, todo = 0, list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


# --- host interference -------------------------------------------------------

def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests instead of this machine,
    summed over all CPUs (the `steal` column of /proc/stat), in seconds.
    Zero where the kernel does not account it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    if len(fields) < 9:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
