"""Measurement: /proc process-tree CPU and memory, layer spans, and stage
metrics from Spark's in-process status store.

Spark's ``executorCpuTime`` leaves out the Python workers, so CPU comes
from ``/proc``: user+sys of every live process in the benchmark's tree plus
``cutime``/``cstime``, which hold the CPU of children already reaped (the
PySpark daemon reaps its workers).
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss pages, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm start at index 3 (state): ppid=4, utime=14 .. cstime=17, rss=24
    return int(f[1]), sum(int(x) for x in f[11:15]), int(f[21]), comm


def process_tree(root: int) -> Dict[int, tuple]:
    """{pid: stat} of ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    tree, frontier = {}, [root]
    children: Dict[int, List[int]] = {}
    for pid, s in stats.items():
        children.setdefault(s[0], []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            frontier.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int, python_workers_only: bool = False) -> float:
    """CPU seconds of the tree; with ``python_workers_only`` just the Python
    processes below the JVM (the PySpark daemon and its workers)."""
    tree = process_tree(root)
    if python_workers_only:
        jvms = [p for p, s in tree.items() if s[3] == "java"]
        tree = {p: s for j in jvms for p, s in process_tree(j).items() if p != j}
    return sum(s[1] for s in tree.values()) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> Dict[str, float]:
    """Resident memory of the tree's Java and Python processes by process
    name (MB).  Python processes count their proportional set size, so the
    pages a forked worker still shares with the PySpark daemon count once,
    not once per worker; the JVM shares nothing with them and counts its
    RSS (its PSS costs tens of ms to read).  Other processes in the tree
    are the JVM's short-lived spawn helpers, which share the JVM's memory
    until they exec, so they are left out."""
    out: Dict[str, float] = {}
    for pid, s in process_tree(root).items():
        if s[3] == "java":
            mb = s[2] * _PAGE / 2 ** 20
        elif s[3].startswith("python"):
            mb = _pss_kb(pid) / 2 ** 10
        else:
            continue
        out[s[3]] = out.get(s[3], 0.0) + mb
    return out


class PeakRss:
    """Samples the tree's total RSS every ``interval`` s while ``active``."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval, self.peak = root, interval, 0.0
        self.at_peak: Dict[str, float] = {}
        self.active = True
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            if self.active:
                by_name = tree_rss_mb(self.root)
                if sum(by_name.values()) > self.peak:
                    self.peak, self.at_peak = sum(by_name.values()), by_name
            self._stop.wait(self.interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_snapshot() -> dict:
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    # user nice system idle iowait irq softirq steal
    return {"loadavg": load, "steal_ticks": int(cpu[8]), "total_ticks": sum(int(x) for x in cpu[1:9])}


# ---------------------------------------------------------------------------
# spans and the status store
# ---------------------------------------------------------------------------

class Tracer:
    """Layer spans around the benchmark's calls into the engine.

    Each span sets its own Spark job group, so every job (and stage) a call
    starts can be attributed to it.  ``python_layer`` names the layer that
    owns Python UDF stages run inside the span."""

    def __init__(self, spark, enabled: bool):
        self.spark, self.enabled = spark, enabled
        self.spans: List[dict] = []
        self._n = 0

    @contextmanager
    def span(self, layer: str, python_layer: Optional[str] = None):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{self._n}"
        sc.setJobGroup(group, layer)
        cpu0 = tree_cpu_s(os.getpid(), python_workers_only=True)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            cpu1 = tree_cpu_s(os.getpid(), python_workers_only=True)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"layer": layer, "group": group, "t0": t0, "t1": t1,
                               "python_cpu_s": cpu1 - cpu0,
                               "python_layer": python_layer or layer})

    def take(self) -> List[dict]:
        out, self.spans = self.spans, []
        return out


_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """SQL metric display string -> number (bytes, seconds or a count).
    Task-level metrics read ``total (min, med, max ...)\n<total> (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.split()
    if len(parts) > 1 and parts[1] in _UNITS:
        return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
    return float(parts[0].replace(",", ""))


#: plan nodes whose SQL metrics the layer attribution reads
METRIC_NODES = ("BroadcastHashJoin", "MapInPandas")


class StageReader:
    """Completed-stage metrics, RDD-scope names and SQL plan-node metrics
    from the status stores (both work with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _list(self, seq):
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def exec_of_jobs(self) -> Dict[int, int]:
        """{job id: SQL execution id} over the executions in the store."""
        exec_of = {}
        for e in self._list(self.sql.executionsList()):
            eid = e.executionId()
            # "Map(<job id> -> <status>, ...)"
            for j in re.findall(r"(\d+) -> ", e.jobs().toString()):
                exec_of[int(j)] = eid
        return exec_of

    def span_data(self, group: str, exec_of: Dict[int, int]):
        """(stages, plan nodes) of every job run under job group ``group``.

        Each stage carries its RDD scope names plus the descriptions of the
        plan operators inside its codegen clusters; each plan node is
        (name, description, {metric name: value})."""
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        plans = {eid: self._plan(eid) for eid in {exec_of[j] for j in jobs if j in exec_of}}
        stages, seen = [], set()
        for j in jobs:
            clusters = plans[exec_of[j]][0] if j in exec_of else {}
            for sid in tracker.getJobInfo(j).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                for s in self._list(self.store.stageData(
                        sid, False, self.jvm.java.util.ArrayList(), False,
                        self.sc._gateway.new_array(self.jvm.double, 0))):
                    if s.status().toString() != "COMPLETE":
                        continue
                    scopes = self._scopes(sid)
                    stages.append({
                        "id": sid,
                        "scopes": scopes,
                        "ops": [d for sc in scopes for d in clusters.get(sc, ())],
                        "run_s": s.executorRunTime() / 1e3,
                        "cpu_s": s.executorCpuTime() / 1e9,
                        "shuffle_write_bytes": s.shuffleWriteBytes(),
                        "shuffle_write_records": s.shuffleWriteRecords(),
                        "shuffle_read_bytes": s.shuffleReadBytes(),
                        "output_bytes": s.outputBytes(),
                        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    })
        return stages, [n for p in plans.values() for n in p[1]]

    def _plan(self, eid: int):
        """({codegen cluster name: operator descriptions}, metric nodes).

        Only the nodes the layer attribution reads are fetched: each
        py4j call is a round trip, and a plan has hundreds of metrics."""
        # one call for the whole metric map: "Map(<acc id> -> <text>, ...)"
        raw = self.sql.executionMetrics(eid).toString()
        body = raw[raw.index("(") + 1:-1]
        values = {int(k): v for k, v in (p.split(" -> ", 1) for p in
                  re.split(r", (?=\d+ -> )", body) if " -> " in p)}
        clusters, nodes = {}, []
        for n in self._list(self.sql.planGraph(eid).allNodes()):
            name = n.name()
            if name.startswith("WholeStageCodegen"):
                clusters[name] = [c.desc() for c in self._list(n.nodes())]
            elif name in METRIC_NODES:
                metrics = {m.name(): parse_metric(values[m.accumulatorId()])
                           for m in self._list(n.metrics()) if m.accumulatorId() in values}
                nodes.append((name, n.desc(), metrics))
        return clusters, nodes

    def _scopes(self, sid: int) -> List[str]:
        """Names of the stage's RDD scope clusters, from one DOT rendering."""
        dot = self.jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(
            self.store.operationGraphForStage(sid))
        return [m.strip() for m in re.findall(r'isCluster="true";\s*label="([^"]*)"', dot)]
