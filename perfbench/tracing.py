"""Outside-in tracing for the benchmark.

Three sources, none of which needs instrumentation inside
``clinical_bi_spark``:

* spans the benchmark records around each call into a layer's public
  function (:class:`Span`);
* Spark's in-process status stores, read for the job groups the
  benchmark set while a span ran (:class:`SparkStores`). The stage
  store is ``sc._jsc.sc().statusStore()`` and the SQL store is
  ``sharedState().statusStore()``; both are populated with the UI off;
* CPU time and resident memory of the benchmark's process tree
  (driver Python, the JVM, Python workers), read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024

#: Offset that turns ``time.perf_counter()`` into epoch seconds, so span
#: bounds compare with the epoch-millisecond stage times Spark records.
_EPOCH_OFFSET = time.time() - time.perf_counter()


def epoch(perf: float) -> float:
    return perf + _EPOCH_OFFSET


@dataclass
class Span:
    """One call into a layer. ``group`` is the Spark job group the
    benchmark set for the call, so jobs it launched can be found later."""

    name: str
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict[str, float] = field(default_factory=dict)
    children: list[Span] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    def walk(self):
        yield self
        for child in self.children:
            yield from child.walk()


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks of the process and its reaped children)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        # the command name may hold spaces and parentheses: split after it
        fields = stat[stat.rfind(")") + 2 :].split()
        # fields[1] = ppid; [11:15] = utime, stime, cutime, cstime
        table[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _tree(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """This process and all its live descendants."""
    return _tree(_proc_table(), root or os.getpid())


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process tree. Live processes count
    their own time plus that of children they have reaped, so a Python
    worker that exited is still counted once."""
    table = _proc_table()
    pids = _tree(table, root or os.getpid())
    return sum(table[p][1] for p in pids if p in table) / _CLK_TCK


def _tree_status_mb(key: str, root: int | None) -> float:
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(key):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live process tree of each process's peak resident set
    (VmHWM) since its start or its last :func:`reset_peak_rss`: an upper
    bound on the tree's simultaneous peak."""
    return _tree_status_mb("VmHWM:", root)


def tree_rss_mb(root: int | None = None) -> float:
    """Resident set of the live process tree now (sum of VmRSS)."""
    return _tree_status_mb("VmRSS:", root)


def reset_peak_rss(root: int | None = None) -> bool:
    """Set each tree process's peak resident set to its current one
    (``5`` to ``/proc/<pid>/clear_refs``). False if the kernel refuses."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while we listed
        except OSError:
            return False
    return True


# -------------------------------------------------------- Spark stores

_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")

#: SQL metric (node-name pattern, metric name) -> per-layer metric name.
#: Times are converted to seconds and sizes to MB.
_SQL_METRICS: list[tuple[re.Pattern, str, str]] = [
    (re.compile(r"^Scan "), "scan time", "sources.scan_s"),
    (re.compile(r"^Scan "), "size of files read", "sources.scan_mb"),
    (re.compile(r"^WholeStageCodegen"), "duration", "ops.codegen_s"),
    (re.compile(r"Aggregate"), "time in aggregation build", "ops.agg_build_s"),
    (re.compile(r"^Sort$"), "sort time", "ops.sort_s"),
    (re.compile(r"^BroadcastExchange"), "time to build", "ops.broadcast_build_s"),
    (_PYTHON_NODE, "time to run Python workers", "python.total_s"),
    (_PYTHON_NODE, "time to start Python workers", "python.boot_s"),
    (_PYTHON_NODE, "time to initialize Python workers", "python.init_s"),
    (_PYTHON_NODE, "data sent to Python workers", "python.sent_mb"),
    (_PYTHON_NODE, "data returned from Python workers", "python.received_mb"),
]

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / _MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
}


def parse_metric(text: str) -> float:
    """A SQL metric as the store formats it -> seconds, MB or a count.

    Single-task values read ``"12 ms"`` or ``"3.4 MiB"``; values over
    several tasks read ``"total (min, med, max ...)\\n12 ms (1 ms, ...)"``.
    """
    head = text.rsplit("\n", 1)[-1].split(" (", 1)[0].strip()
    parts = head.split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


class SparkStores:
    """Reads Spark's status stores as JSON (one Py4J call per listing)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._stages = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._executions_seen = int(self._sql.executionsCount())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def collect(self, groups: set[str]) -> dict:
        """Stage, job and SQL-operator records for the given job groups,
        plus every SQL execution recorded since the previous call."""
        jobs = [j for j in self._json(self._stages.jobsList(None)) if j.get("jobGroup") in groups]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._json(
                self._stages.stageList(None, False, False, self._no_quantiles, None)
            )
            if s["stageId"] in stage_ids
        ]
        count = int(self._sql.executionsCount())
        executions = self._json(
            self._sql.executionsList(self._executions_seen, count - self._executions_seen)
        )
        self._executions_seen = count
        plans = []
        for e in executions:
            if e.get("description") not in groups:
                continue
            eid = e["executionId"]
            plans.append(
                {
                    "group": e["description"],
                    "nodes": self._json(self._sql.planGraph(eid).allNodes()),
                    "values": self._json(self._sql.executionMetrics(eid)),
                }
            )
        return {"jobs": jobs, "stages": stages, "plans": plans}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def spark_layer_metrics(records: dict, output_spans: list[Span], build_groups: set[str]) -> dict:
    """Sum the store records of one pass into per-layer metrics."""
    m: dict[str, float] = defaultdict(float)
    run_stages = [s for s in records["stages"] if s["status"] != "SKIPPED"]
    m["spark.jobs"] = len(records["jobs"])
    m["queries.build_jobs"] = sum(1 for j in records["jobs"] if j["jobGroup"] in build_groups)
    m["spark.skipped_stages"] = sum(j["numSkippedStages"] for j in records["jobs"])
    m["spark.stages"] = len(run_stages)
    for s in run_stages:
        m["spark.tasks"] += s["numTasks"]
        m["spark.failed_tasks"] += s["numFailedTasks"]
        m["spark.executor_run_s"] += s["executorRunTime"] / 1e3
        m["spark.executor_cpu_s"] += s["executorCpuTime"] / 1e9
        m["spark.gc_s"] += s["jvmGcTime"] / 1e3
        m["spark.shuffle_write_mb"] += s["shuffleWriteBytes"] / _MB
        m["spark.shuffle_read_mb"] += s["shuffleReadBytes"] / _MB
        m["spark.shuffle_fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
        m["spark.spill_mb"] += s["diskBytesSpilled"] / _MB

    # driver gap: output wall during which none of its own stages ran
    stages_by_id = {s["stageId"]: s for s in run_stages}
    groups_of = defaultdict(set)
    for j in records["jobs"]:
        groups_of[j["jobGroup"]].update(j["stageIds"])
    for out in output_spans:
        lo, hi = epoch(out.start), epoch(out.end)
        busy = []
        for child in out.walk():
            for sid in groups_of.get(child.group, ()):
                s = stages_by_id.get(sid)
                if s and s.get("submissionTime") and s.get("completionTime"):
                    a = max(lo, s["submissionTime"] / 1e3)
                    b = min(hi, s["completionTime"] / 1e3)
                    if b > a:
                        busy.append((a, b))
        m["spark.driver_gap_s"] += out.wall - _union_s(busy)

    for plan in records["plans"]:
        values = plan["values"]
        for node in plan["nodes"]:
            name = node["name"]
            if _PYTHON_NODE.search(name):
                m["python.nodes"] += 1
            for metric in node["metrics"]:
                text = values.get(str(metric["accumulatorId"]))
                if text is None:
                    continue
                for pattern, metric_name, key in _SQL_METRICS:
                    if metric["name"] == metric_name and pattern.search(name):
                        m[key] += parse_metric(text)
    return m
