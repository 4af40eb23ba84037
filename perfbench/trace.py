"""Measurement from outside the program: request spans, process memory
and CPU, and (traced runs only) per-request layer counters read from the
JVM and from Spark's event log.

A span is one request: the program's call (``build``), the benchmark's
own action on the returned DataFrame (``action``) and, in a traced run,
the query's Catalyst phase times from its ``QueryExecution`` tracker.
Jobs are tied to spans through the job group the benchmark sets per
request; after the session stops, the event log is parsed into jobs,
stages and tasks per group.
"""

from __future__ import annotations

import glob
import json
import os
import re
import resource
import time
from dataclasses import dataclass, field

PKG = "embeddingsearch_spark"


@dataclass
class Span:
    kind: str
    index: int  # request number within its kind
    round: int
    build_s: float = 0.0
    action_s: float = 0.0
    wall_s: float = 0.0
    catalyst_s: float = 0.0
    codegen_compiles: int = 0
    files_written: int = 0
    mb_written: float = 0.0
    timed: bool = True
    rows: list = field(default_factory=list, repr=False)
    error: str = ""

    @property
    def group(self) -> str:
        return f"{self.kind}:{self.index}"


# -- processes ------------------------------------------------------------


def _proc_table() -> dict[int, int]:
    """{pid: ppid} of every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def program_pids(jvm_pid: int) -> list[int]:
    """The driver JVM and its descendants (the Python workers)."""
    table = _proc_table()
    pids, frontier = [jvm_pid], [jvm_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in table.items() if pp == p]
        pids += kids
        frontier += kids
    return pids


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """Peak resident sets (MB) of this Python process, the driver JVM
    and the JVM's Python workers."""
    pids = program_pids(jvm_pid)
    return {
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "jvm": _status_kb(jvm_pid, "VmHWM") / 1024.0,
        "workers": sum(_status_kb(p, "VmHWM") for p in pids[1:]) / 1024.0,
        "n_workers": len(pids) - 1,
    }


def cpu_s(pids: list[int]) -> dict[int, tuple[float, float]]:
    """{pid: (user seconds, system seconds)}."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            out[p] = (int(rest[11]) / tick, int(rest[12]) / tick)
        except (OSError, IndexError, ValueError):
            continue
    return out


def steal_s() -> float:
    """CPU time the host took from this machine's virtual CPUs (all
    CPUs, seconds since boot); 0 where the kernel does not report it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for dp, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dp, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def dir_mb(root: str) -> float:
    return sum(s for s, _ in dir_files(root).values()) / 1e6


# -- the tracer -----------------------------------------------------------


class Tracer:
    """Times requests. With ``on`` it also sets a job group per request
    and reads the JVM's Catalyst, codegen and GC counters."""

    def __init__(self, spark, on: bool):
        self.spark = spark
        self.on = on
        self.spans: list[Span] = []
        jvm = spark._jvm
        self.jvm_pid = int(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid())
        self._jvm = jvm

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, seconds compiling) since the JVM started."""
        cg = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        gen = self._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        return int(cg.METRIC_COMPILATION_TIME().getCount()), gen.compileTime() / 1e9

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def request(self, kind: str, rnd: int, call, timed=True, watch=None):
        """Run one request of round ``rnd``: ``call()`` is the program's
        call, and the benchmark's action collects the DataFrame it
        returns. ``watch`` is a directory whose written files are
        counted."""
        index = sum(1 for s in self.spans if s.kind == kind)
        span = Span(kind, index, rnd, timed=timed)
        sc = self.spark.sparkContext
        before = dir_files(watch) if (self.on and watch) else None
        c0 = self.codegen()[0] if self.on else 0
        if self.on:
            sc.setJobGroup(span.group, span.group)
        t0 = time.perf_counter()
        try:
            df = call()
            t1 = time.perf_counter()
            if df is not None:
                span.rows = [r.asDict() for r in df.collect()]
            t2 = time.perf_counter()
            span.build_s, span.action_s, span.wall_s = t1 - t0, t2 - t1, t2 - t0
            if self.on and df is not None:
                span.catalyst_s = catalyst_s(df)
        except Exception as e:  # a failed request is counted, not fatal
            span.wall_s = time.perf_counter() - t0
            span.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        finally:
            if self.on:
                sc._jsc.clearJobGroup()
        if self.on:
            span.codegen_compiles = self.codegen()[0] - c0
            if before is not None:
                after = dir_files(watch)
                new = [p for p, v in after.items() if before.get(p) != v]
                span.files_written = len(new)
                span.mb_written = sum(after[p][0] for p in new) / 1e6
        self.spans.append(span)
        return span


def catalyst_s(df) -> float:
    """Analysis + optimization + planning of ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total / 1000.0


# -- the event log --------------------------------------------------------

_SITE = re.compile(r"^(\S+) at (.+?):\d+$")


def module_of(call_site: str | None) -> str:
    """'collect at /x/embeddingsearch_spark/operators/retrieval.py:12' ->
    'operators.retrieval'; the benchmark's own actions -> 'perfbench'.
    A JVM-side call site (an eager pin, a write, an asynchronous
    broadcast) has no Python frame: 'other.<verb>', e.g.
    'other.localCheckpoint', or 'other' when there is no verb."""
    m = _SITE.match(call_site or "")
    path = m.group(2).replace(os.sep, "/") if m else ""
    if not path.endswith(".py"):
        verb = m.group(1) if m else ""
        return f"other.{verb}" if verb and not verb.startswith("$") else "other"
    if "/perfbench/" in path or path.startswith("perfbench/"):
        return "perfbench"
    if f"{PKG}/" in path:
        return path.split(f"{PKG}/", 1)[1][: -len(".py")].replace("/", ".")
    return "other"


@dataclass
class Job:
    jid: int
    group: str
    site: str
    stages: list
    start_ms: int
    end_ms: int = 0


def new_group() -> dict:
    """The counters of one job group (one request)."""
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "collect_jobs": 0, "pins": 0,
        "task_s": 0.0, "shuffle_mb": 0.0, "scan_mb": 0.0, "files_read": 0,
        "intervals": [], "modules": {}, "embed_tasks": 0, "job_list": [],
    }


def parse_event_log(events_dir: str) -> dict:
    """Per job group: jobs, stages, tasks and their metrics."""
    files = glob.glob(os.path.join(events_dir, "*"))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, int] = {}
    stage_ran: set[int] = set()
    task_ms: dict[int, float] = {}
    shuffle_b: dict[int, int] = {}
    input_b: dict[int, int] = {}
    pin_rdds: dict[int, int] = {}  # rdd id -> job that first computed it
    files_acc: set[int] = set()
    exec_desc: dict[int, str] = {}
    acc_vals: dict[tuple[int, int], int] = {}

    def plan_metrics(info):
        for m in info.get("metrics", []):
            if m.get("name") == "number of files read":
                files_acc.add(m["accumulatorId"])
        for c in info.get("children", []):
            plan_metrics(c)

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    infos = e.get("Stage Infos", [])
                    site = props.get("callSite.short") or (
                        infos[-1]["Stage Name"] if infos else ""
                    )
                    jid = e["Job ID"]
                    jobs[jid] = Job(jid, group, site, e.get("Stage IDs", []), e["Submission Time"])
                    for s in e.get("Stage IDs", []):
                        stage_job.setdefault(s, jid)
                    for s in infos:
                        for r in s.get("RDD Info", []):
                            if str(r.get("Callsite", "")).startswith("localCheckpoint"):
                                pin_rdds.setdefault(r["RDD ID"], jid)
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stage_ran.add(info["Stage ID"])
                elif ev == "SparkListenerTaskEnd":
                    s = e["Stage ID"]
                    m = e.get("Task Metrics") or {}
                    stage_tasks[s] = stage_tasks.get(s, 0) + 1
                    task_ms[s] = task_ms.get(s, 0.0) + m.get("Executor Run Time", 0)
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    shuffle_b[s] = shuffle_b.get(s, 0) + sw
                    ib = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    input_b[s] = input_b.get(s, 0) + ib
                elif ev.endswith("SparkListenerSQLExecutionStart"):
                    exec_desc[e["executionId"]] = e.get("description", "")
                    plan_metrics(e.get("sparkPlanInfo", {}))
                elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    plan_metrics(e.get("sparkPlanInfo", {}))
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in e.get("accumUpdates", []):
                        key = (e["executionId"], acc)
                        acc_vals[key] = max(acc_vals.get(key, 0), int(val))

    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, new_group())

    for jid in sorted(jobs):
        j = jobs[jid]
        d = g(j.group)
        d["jobs"] += 1
        d["job_list"].append(j)
        mod = module_of(j.site)
        mj = d["modules"].setdefault(mod, [0, 0.0])
        mj[0] += 1
        mj[1] += max(0, j.end_ms - j.start_ms) / 1000.0
        if j.site.startswith("collect at") and mod != "perfbench" and not mod.startswith("other"):
            d["collect_jobs"] += 1
        d["intervals"].append((j.start_ms, j.end_ms or j.start_ms))
        for s in j.stages:
            if stage_job.get(s) != jid or s not in stage_ran:
                continue
            d["stages"] += 1
            d["tasks"] += stage_tasks.get(s, 0)
            d["task_s"] += task_ms.get(s, 0.0) / 1000.0
            d["shuffle_mb"] += shuffle_b.get(s, 0) / 1e6
            d["scan_mb"] += input_b.get(s, 0) / 1e6
    for rdd, jid in pin_rdds.items():
        g(jobs[jid].group)["pins"] += 1
    for (ex, acc), val in acc_vals.items():
        if acc in files_acc:
            g(exec_desc.get(ex, ""))["files_read"] += val
    # the embed pass: the first pin an upsert materialises is the
    # embedded-misses frame; its last stage runs the embedder
    for d in groups.values():
        for j in d["job_list"]:
            if j.site.startswith("localCheckpoint"):
                ran = [s for s in j.stages if s in stage_ran and stage_job.get(s) == j.jid]
                if ran:
                    d["embed_tasks"] = stage_tasks.get(max(ran), 0)
                break
    return groups


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by (start_ms, end_ms) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0
