"""Spans, Spark job-group attribution, process-tree PSS and the
contention sentinel for the corpus-build benchmark.

A :class:`Tracer` records one span per call the benchmark makes into a
layer of the package: name, start, end, parent span and operation id,
kept in memory.  With tracing on, every span also tags the Spark jobs
it starts with its own job group, and :class:`SparkMetrics` reads those
jobs' stages, task metrics and SQL plan metrics back from the
driver's status REST API.  With tracing off a span only takes two
clock readings and sets no job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder.  ``sc`` (a SparkContext) is set only for
    traced runs; then each span's Spark jobs run under job group
    ``span-<id>``."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[Span] = field(default_factory=list)
    op: int = 0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.op, len(self.spans), parent.span_id if parent else None, 0.0)
        if self.sc is not None:
            sp.group = f"span-{sp.span_id}"
            self.sc.setJobGroup(sp.group, name, False)
        self.spans.append(sp)
        self._stack.append(sp)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name, False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - sp.end)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        intervals = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "id": s.span_id, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": self.self_time(s), "group": s.group}
            for s in self.spans
        ]


def _first_int(text: str) -> int:
    """Leading integer of a SQL metric value such as ``"1,000"`` or
    ``"total (min, med, max)\\n4,096 (...)"``."""
    digits = ""
    for line in str(text).splitlines():
        line = line.strip()
        if line and (line[0].isdigit()):
            for ch in line:
                if ch.isdigit():
                    digits += ch
                elif ch != ",":
                    break
            return int(digits)
    return 0


# SQL plan nodes that run rows through Python workers
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "ArrowEvalPythonUDTF")


class SparkMetrics:
    """Reads job, stage and SQL metrics of one job group back from the
    status REST API of the running SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def group_jobs(self, group: str, timeout: float = 30.0) -> list[dict]:
        """The group's finished jobs, waiting for the status store to
        catch up with the scheduler (it is fed asynchronously)."""
        ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("jobs") if j["jobId"] in ids]
            done = [j for j in jobs if j["status"] in ("SUCCEEDED", "FAILED")]
            if len(done) == len(ids) or time.monotonic() > deadline:
                return done
            time.sleep(0.2)

    def group_summary(self, group: str) -> dict:
        jobs = self.group_jobs(group)
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [
            s for s in self._get("stages?status=complete")
            if s["stageId"] in stage_ids
        ]
        job_ids = {j["jobId"] for j in jobs}
        udf_rows = 0
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if not ex_jobs or not ex_jobs <= job_ids:
                continue
            for node in ex.get("nodes", []):
                if node.get("nodeName") in PYTHON_NODES:
                    for m in node.get("metrics", []):
                        if m.get("name") == "number of output rows":
                            udf_rows += _first_int(m.get("value", "0"))
        return {
            "jobs": len(jobs),
            "failed_jobs": sum(1 for j in jobs if j["status"] == "FAILED"),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "udf_rows": udf_rows,
        }


def _children_of(pids: set[int]) -> set[int]:
    found = set(pids)
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesised command name
            parent_of[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in found and pid not in found:
                found.add(pid)
                grew = True
    return found


def process_tree(root: int) -> set[int]:
    """``root`` and all its descendants (the driver, the JVM it
    launched and the JVM's Python workers)."""
    return _children_of({root})


def is_running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def command_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return ""


class PssSampler:
    """Samples the summed PSS of this process tree on a thread and keeps
    the peak.  Use as a context manager."""

    def __init__(self, interval: float = 0.25, root: int | None = None):
        self.interval = interval
        self.root = root or os.getpid()
        self.peak_kb = 0
        self.samples = 0
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = 0
        for pid in process_tree(self.root):
            total += pss_kb(pid)
            if pid not in self.seen:
                self.seen[pid] = command_name(pid)
        self.peak_kb = max(self.peak_kb, total)
        self.samples += 1
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user and system, own and of reaped children) spent
    so far by ``root`` (default: this process) and its descendants.
    The kernel charges no process for time the hypervisor steals from
    the machine, nor for time a process waits for a core or a disk."""
    ticks = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / CLK_TCK


def steal_s() -> float:
    """Seconds of CPU time the hypervisor has stolen from this machine
    since boot, summed over its cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / CLK_TCK


class CoreClock:
    """Times a short pure-Python loop (:func:`sentinel`) on a thread
    every ``interval`` seconds, in the thread's own CPU time.  That
    leaves out waits for a core and the hypervisor's steal, so a loop
    takes longer only when the core itself runs slower: another tenant
    on the same physical core, a lower clock, the host stalling the
    machine.  Use as a context manager around the work to be scaled;
    ``cpu_s`` is the CPU time the thread itself spent."""

    def __init__(self, loops: int = 200_000, interval: float = 0.25):
        self.loops = loops
        self.interval = interval
        self.samples: list[float] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(sentinel(self.loops)[1])
            self._stop.wait(self.interval)
        self.cpu_s = time.thread_time()

    def __enter__(self) -> "CoreClock":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def sentinel(loops: int = 3_000_000) -> tuple[float, float]:
    """A fixed pure-Python CPU loop: its wall time, which grows when the
    machine's cores are shared out or stolen, and its CPU time, which
    grows when each core runs slower (another tenant on the same
    physical core, a lower clock, the host stalling the machine)."""
    w0, c0 = time.perf_counter(), time.thread_time()
    x = 0
    for i in range(loops):
        x += i * i % 7
    return time.perf_counter() - w0, time.thread_time() - c0
