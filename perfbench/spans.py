"""Spans around the benchmark's calls into each layer, with the Spark
jobs, stages, tasks and SQL operator metrics each call ran, read from
Spark's status store after the call returns; plus process-tree CPU and
RSS from /proc.

A span's jobs are the ones submitted under its own job group, so nested
spans never count a job twice: the innermost open span owns it. Spans
stay in memory; ``Tracer.spans`` is written out once at the end."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

STAGE_FIELDS = {
    # StageData getter -> (metric, scale to the reported unit)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("jvm_gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


class Tracer:
    """Opens spans for one run. With ``enabled`` false, ``span`` only
    yields: no job group is set and nothing is read or recorded."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._status = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._seen_stages: set[int] = set()
        self.pass_id: int | None = None

    @contextmanager
    def span(self, name: str, sql_joins: bool = False):
        """Span ``name`` around the body. With ``sql_joins``, also record
        the output rows of every join operator of the SQL executions the
        span ran."""
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        exec_hwm = self._last_execution_id() if sql_joins else None
        self.sc.setJobGroup(group, name)
        self._open.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._jobs_of(group))
            if sql_joins:
                rec["join_rows"] = self._join_rows_since(exec_hwm)

    def _jobs_of(self, group: str) -> dict:
        out = {"jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0,
               "stage_tasks": {}, "job_intervals": []}
        for v in STAGE_FIELDS.values():
            out[v[0]] = 0
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._status.job(job_id)
            out["jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["job_intervals"].append((
                    jd.submissionTime().get().getTime() / 1e3,
                    jd.completionTime().get().getTime() / 1e3,
                ))
            for sid in self.sc.statusTracker().getJobInfo(job_id).stageIds:
                sd = self._status.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED" or sid in self._seen_stages:
                    out["stages_skipped"] += 1
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["stage_tasks"][sid] = sd.numTasks()
                for getter, (metric, scale) in STAGE_FIELDS.items():
                    out[metric] += getattr(sd, getter)() * scale
        return out

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def _join_rows_since(self, hwm: int) -> list[dict]:
        """Output rows of each join operator in executions after ``hwm``,
        with the start of the operator's description (its join keys)."""
        n = self._sql.executionsCount()
        rows = []
        execs = self._sql.executionsList(max(0, n - 64), 64).iterator()
        while execs.hasNext():
            eid = execs.next().executionId()
            if eid <= hwm:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if "Join" not in node.name():
                    continue
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows.append({"desc": node.desc()[:200],
                                         "rows": int(v.get().replace(",", ""))})
        return rows


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- process tree ---------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, fields of /proc/pid/stat after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), fields)
    return out


def tree_pids(table=None) -> list[int]:
    """This process and all its descendants (the JVM, Python workers)."""
    table = table or _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree so far."""
    table = _proc_table()
    # fields after the command: [0]=state ... [11]=utime [12]=stime
    return sum(
        (int(table[p][1][11]) + int(table[p][1][12])) / _CLK
        for p in tree_pids(table) if p in table
    )


def tree_rss_bytes() -> int:
    table = _proc_table()
    # [21] = rss in pages
    return sum(int(table[p][1][21]) * _PAGE for p in tree_pids(table) if p in table)


class RssSampler:
    """Samples the process tree's summed RSS every ``PERIOD_S`` seconds
    on a daemon thread; ``peak`` is the largest sum seen."""

    PERIOD_S = 0.5

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
