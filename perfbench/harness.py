"""Measurement plumbing shared by the workloads: machine sizing, the Spark
session, in-memory spans, Spark event-log rollups, host probes and the
statistics every reported number goes through.

Nothing here imports the engine package; ``run.py`` does that, so the
statistics can be tested without Spark.
"""

from __future__ import annotations

import json
import mmap
import os
import statistics
import subprocess
import time
from collections import defaultdict
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); a single value is its own quartiles."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns (value, percentile, sample count). With n sorted samples the
    value at 1-based rank k has n - k samples beyond it, so the answer is
    rank n - beyond, i.e. percentile 100 * (n - beyond) / n. Below
    ``beyond + 1`` samples no percentile qualifies; the maximum is returned
    with percentile 100, and the caller reports the sample count beside it.
    """
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    if n <= beyond:
        return float(s[-1]), 100.0, n
    k = n - beyond
    return float(s[k - 1]), 100.0 * k / n, n


def self_times(prefix_walls: list[tuple[str, float]]) -> dict[str, float]:
    """Per-layer self time from walls of cumulative prefixes.

    Spark is lazy, so forcing ``scan`` then ``scan+parse`` then
    ``scan+parse+enrich`` each re-runs everything before it; a layer's
    share is its prefix's wall minus the previous prefix's wall. The first
    prefix is its own self time. A negative share (noise larger than the
    layer) is reported as measured, not clamped."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, wall in prefix_walls:
        out[name] = wall - prev
        prev = wall
    return out


# ---------------------------------------------------------------------------
# machine sizing
# ---------------------------------------------------------------------------


def cores() -> int:
    """CPUs this process may run on — what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_mb(work_bytes: int) -> int:
    """Heap for the single local-mode JVM. The run's files may sit on a
    RAM-backed filesystem that shares memory with the heap, so the heap
    gets 40% of what is left after them, between 1 and 4 GB."""
    spare = mem_available_mb() - work_bytes // (1024 * 1024)
    return int(min(4096, max(1024, spare * 0.4)))


def free_mb(path: str) -> float:
    st = os.statvfs(path)
    return round(st.f_bavail * st.f_frsize / 2**20, 1)


def parquet_files(root: str) -> list[str]:
    """Parquet files under ``root``, sorted."""
    return sorted(os.path.join(d, n) for d, _, names in os.walk(root) for n in names
                  if n.endswith(".parquet"))


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(total bytes, file count) of files under ``path`` ending in
    ``suffix``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


# ---------------------------------------------------------------------------
# host probes: context recorded beside every run, never used to gate one
# ---------------------------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def fault_gbps(mb: int = 64) -> float:
    """Page-fault bandwidth: touch every page of a fresh anonymous map."""
    buf = mmap.mmap(-1, mb * 2**20)
    try:
        t0 = time.perf_counter()
        for off in range(0, mb * 2**20, 4096):
            buf[off] = 1
        return round(mb / 1024 / max(time.perf_counter() - t0, 1e-9), 3)
    finally:
        buf.close()


def spark_jvms() -> int:
    """Running JVMs launched from the Spark install (``SPARK_HOME``, else
    the jars bundled with pyspark)."""
    home = os.environ.get("SPARK_HOME") or "pyspark/jars"
    out = subprocess.run(["ps", "-eo", "args"], capture_output=True, text=True,
                         timeout=10, check=True).stdout
    return sum(1 for ln in out.splitlines() if "java" in ln and home in ln)


class HostProbe:
    """CPU steal over the run, fault bandwidth and stray JVMs at both ends."""

    def __init__(self) -> None:
        self._cpu0 = _cpu_times()
        self.start = {"fault_gbps": fault_gbps(), "stray_spark_jvms": spark_jvms()}

    def finish(self) -> dict:
        """Call after the run's own JVM has exited."""
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        end = {"fault_gbps": fault_gbps(), "stray_spark_jvms": spark_jvms()}
        return {"steal_pct": round(100 * d[7] / max(sum(d), 1), 2),
                "start": self.start, "end": end}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_spark(work: str, n_cores: int, heap_mb: int, event_log_dir: str | None):
    """A local[n_cores] session whose scratch, warehouse and temp files
    stay under ``work``. The event log is on only for traced runs."""
    from hypertrace_ingester_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{n_cores}]", extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    trace_id: int


@dataclass
class Tracer:
    """In-memory spans around calls into each layer, reported once at the
    end of the run. With ``sc`` set, each span also tags the Spark jobs it
    launches with its name as the job group, so the event log can be
    rolled up per span."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)
    _trace: int = 0

    def new_trace(self) -> None:
        self._trace += 1

    def span(self, name: str):
        return _SpanCtx(self, name)

    def walls(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.name)
        if t.sc is not None:
            t.sc.setJobGroup(self.name, self.name)
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        end = time.time()
        t = self.t
        t._stack.pop()
        if t.sc is not None:
            if self.parent is not None:
                t.sc.setJobGroup(self.parent, self.parent)
            else:
                t.sc.setLocalProperty("spark.jobGroup.id", None)
                t.sc.setLocalProperty("spark.job.description", None)
        t.spans.append(Span(self.name, self.start, end, self.parent, t._trace))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
# physical nodes that move rows across the JVM/Python (Arrow) boundary
_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    arrow_rows: int = 0
    arrow_bytes: int = 0
    input_scans: int = 0

    def per(self, n: int) -> "GroupStats":
        """Totals of ``n`` repeats of a call, as one call's share."""
        return GroupStats(**{k: v / n for k, v in self.__dict__.items()})

    def minus(self, other: "GroupStats") -> "GroupStats":
        """Self share of a cumulative prefix over the previous prefix."""
        return GroupStats(**{k: v - other.__dict__[k] for k, v in self.__dict__.items()})


def _py_accums(plan: dict, rows: set, byts: set) -> None:
    """Collect accumulator ids of Python-boundary metrics in a plan tree."""
    if any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKERS):
        for m in plan.get("metrics", []):
            if m["name"] == "number of output rows":
                rows.add(m["accumulatorId"])
            elif m["name"] in _PY_BYTES:
                byts.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _py_accums(child, rows, byts)


def read_event_log(path: str, scan_marker: str | None = None) -> dict[str, GroupStats]:
    """Roll a Spark event log up per job group.

    Task metrics go to the group of the stage's submitting job. Arrow
    rows/bytes are the task-level updates of the row and byte metrics on
    Python-boundary plan nodes. With ``scan_marker``, ``input_scans``
    counts the SQL executions of each group whose physical plan mentions
    that string (e.g. an input path), i.e. how often the input was read.
    """
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plans: dict[int, str] = {}
    py_rows: set = set()
    py_bytes: set = set()
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    task_ends = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                stats[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
            elif kind in (_SQL_START, _SQL_AQE):
                _py_accums(ev.get("sparkPlanInfo", {}), py_rows, py_bytes)
                if kind == _SQL_START:
                    exec_plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    for ev in task_ends:
        group = stage_group.get(ev["Stage ID"])
        if group is None:
            continue
        g = stats[group]
        g.tasks += 1
        m = ev.get("Task Metrics") or {}
        g.run_s += m.get("Executor Run Time", 0) / 1e3
        g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        g.gc_s += m.get("JVM GC Time", 0) / 1e3
        g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g.spill_bytes += m.get("Disk Bytes Spilled", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            upd = acc.get("Update")
            if not isinstance(upd, (int, str)) or acc.get("ID") is None:
                continue
            if acc["ID"] in py_rows:
                g.arrow_rows += int(upd)
            elif acc["ID"] in py_bytes:
                g.arrow_bytes += int(upd)
    if scan_marker is not None:
        for eid, group in exec_group.items():
            if scan_marker in exec_plans.get(eid, ""):
                stats[group].input_scans += 1
    return dict(stats)


def layer_metrics(layer: str, own: GroupStats, call: GroupStats, call_wall_s: float,
                  n_cores: int) -> dict[str, float]:
    """The event-log metrics every layer reports: ``own`` is the layer's
    self share, ``call`` the call that forced it, which lasted
    ``call_wall_s``. ``busy_share`` is that call's task run time over the
    slots its wall offered (wall x cores); the rest is time slots waited.
    It is taken over the whole call because a difference of two walls can
    be near zero."""
    return {
        f"{layer}.jobs": own.jobs,
        f"{layer}.tasks": own.tasks,
        f"{layer}.task_cpu_s": own.task_cpu_s,
        f"{layer}.gc_s": own.gc_s,
        f"{layer}.shuffle_bytes": own.shuffle_bytes,
        f"{layer}.spill_bytes": own.spill_bytes,
        f"{layer}.busy_share": call.run_s / (call_wall_s * n_cores) if call_wall_s > 0 else 0.0,
    }
