"""Probes: the CPU time and memory of a process tree read from ``/proc``,
and for the traced run in-memory spans, Spark's own stage metrics per job
group, and the Python-node SQL metrics of a plan.

The Spark metrics are the ones Spark already records for the jobs a prefix
runs; reading them starts no job.
"""

from __future__ import annotations

import os
import time
import uuid

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        stat = f.read()
    # the command name may hold spaces; fields resume after the last ')'
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _children_map() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            _, fields = _stat_fields(f"/proc/{pid}/stat")
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(pid))
    return kids


def tree_pids(root_pid: int) -> list:
    """A process and all its descendants (the JVM and the Python workers
    are children and grandchildren of the workload process)."""
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


# The JVM's JIT compiler threads (``C1 CompilerThread0`` ..., as the kernel
# truncates their names).  Their work depends on when HotSpot decides to
# compile or recompile, not on the pass: in a registry pass they used
# 0.3-1.0 of about 3 CPU seconds.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_sample(root_pid: int) -> tuple:
    """CPU ticks, user plus system, that a process tree has used (with the
    children each process has reaped), and the ticks of each of its JIT
    compiler threads."""
    total, jit = 0, {}
    for pid in tree_pids(root_pid):
        try:
            _, fields = _stat_fields(f"/proc/{pid}/stat")
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17, 11-14 after the ')'
        total += sum(int(x) for x in fields[11:15])
        for tid in tids:
            try:
                comm, tf = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(JIT_THREADS):
                jit[(pid, tid)] = int(tf[11]) + int(tf[12])
    return total, jit


def cpu_s_between(start: tuple, end: tuple) -> float:
    """CPU seconds a process tree used between two ``cpu_sample``s, less
    what its JIT compiler threads used.  Time the hypervisor steals from a
    virtual CPU is not charged to the process that was running on it, so
    unlike wall time this grows little when the host is busy."""
    jit = sum(t - start[1].get(k, 0) for k, t in end[1].items())
    return (end[0] - start[0] - jit) / CLK_TCK


def host_cpu_ticks() -> list:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), in ticks summed over its CPUs."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list, end: list) -> float:
    """Share of the CPUs' busy time between two readings that the
    hypervisor gave to other machines (steal over busy + steal)."""
    d = [e - s for s, e in zip(start, end)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy else 0.0


def tree_pss_bytes(root_pid: int) -> int:
    """Resident memory of a process tree, summed as proportional set size:
    pages that forked Python workers share with their daemon count once
    instead of once per process."""
    total = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


STAGE_FIELDS = {
    # name in the report -> (StageData getter, scale to the report's unit)
    "executor_run_ms": ("executorRunTime", 1.0),
    "executor_cpu_ms": ("executorCpuTime", 1e-6),
    "gc_ms": ("jvmGcTime", 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spill_bytes": ("diskBytesSpilled", 1.0),
}


class Spans:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self._stack: list = []
        self._started = 0

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict:
        """Per span name: total duration minus the part its children cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def record(self) -> dict:
        """Every span, for the run's output."""
        return {"run_id": self.run_id, "spans": self.spans}


class _Span:
    def __init__(self, owner: Spans, name: str) -> None:
        self.owner = owner
        self.name = name

    def __enter__(self):
        o = self.owner
        self.rec = {
            "id": o._started,
            "name": self.name,
            "parent": o._stack[-1]["id"] if o._stack else None,
            "run_id": o.run_id,
            "start": time.perf_counter(),
        }
        o._started += 1
        o._stack.append(self.rec)
        return self

    def __exit__(self, *exc):
        o = self.owner
        o._stack.pop()
        self.rec["end"] = time.perf_counter()
        o.spans.append(self.rec)
        return False


def stage_totals(sc, job_ids) -> dict:
    """Sum StageData metrics over every stage of the given jobs, read from
    the driver's AppStatusStore (live with the UI disabled)."""
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    totals = {k: 0.0 for k in STAGE_FIELDS}
    totals["stages"] = 0
    seen = set()
    for job in job_ids:
        sids = store.job(job).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, None, False, no_quantiles)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if str(sd.status()) == "SKIPPED":
                    continue
                totals["stages"] += 1
                for name, (getter, scale) in STAGE_FIELDS.items():
                    totals[name] += getattr(sd, getter)() * scale
    return totals


def group_jobs(sc, group: str) -> list:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def job_names(sc, job_ids) -> list:
    """Each job's name: its call site, e.g. ``localCheckpoint at ...``."""
    store = sc._jsc.sc().statusStore()
    return [str(store.job(j).name()) for j in job_ids]


def python_node_metrics(df) -> dict:
    """Materialize ``df`` through its own physical plan and return the
    Python-node SQL metrics (ArrowEvalPython / MapInPandas) it recorded:
    rows received from and bytes sent to and received from the workers."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    out = {"rows": rows, "python_rows": 0, "bytes_sent": 0, "bytes_received": 0}

    def walk(node):
        yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    for node in walk(qe.executedPlan()):
        metrics = node.metrics()
        if not metrics.contains("pythonDataSent"):
            continue
        out["python_rows"] += metrics.get("pythonNumRowsReceived").get().value()
        out["bytes_sent"] += metrics.get("pythonDataSent").get().value()
        out["bytes_received"] += metrics.get("pythonDataReceived").get().value()
    return out
