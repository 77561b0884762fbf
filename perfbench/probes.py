"""Outside-in probes for the benchmark: nothing here edits the program.

- ``RssSampler``: peak resident memory of this process and all its
  descendants (JVM, Python workers), read from ``/proc`` on a thread.
- ``MaterializeShim``: wraps ``DataFrame.localCheckpoint``/``checkpoint``
  (which every ``io.materialize`` call site reaches) to count and time
  them while tracing.
- ``Tracer``: reads Spark's AppStatusStore (jobs, stages, tasks) and the
  SQL status store (executions, plan-node metrics, final AQE plans) for
  the job groups one op ran under.
- ``host_sample``: load average and CPU steal, to tell contention on
  the host from a change in the program.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_INTERVAL_S = 0.2


class RssSampler:
    """Peak total RSS (MB) of the process tree rooted at this process,
    sampled every 0.2 s. Use as a context manager."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            if self._stop.wait(_RSS_INTERVAL_S):
                return


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total / 2**20


def wait_exited(pids: list[int], timeout_s: float) -> None:
    """Block until none of ``pids`` is running (zombies count as ended)."""
    deadline = time.monotonic() + timeout_s
    while True:
        running = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        running.append(pid)
            except OSError:
                continue
        if not running:
            return
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {running}")
        time.sleep(0.1)


def host_sample() -> dict:
    """1-minute load average and cumulative (steal, total) CPU jiffies."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "steal": cpu[7] if len(cpu) > 7 else 0, "jiffies": sum(cpu)}


class MaterializeShim:
    """Counts and times ``localCheckpoint``/``checkpoint`` calls while
    installed. Calls from ``io.materialize_many``'s threads overlap, so
    ``seconds`` is busy time and can exceed wall time."""

    METHODS = ("localCheckpoint", "checkpoint")

    def __init__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        self._cls = DataFrame
        self._orig = {m: getattr(DataFrame, m) for m in self.METHODS}
        self._lock = threading.Lock()
        self.calls = 0
        self.seconds = 0.0

    def _wrap(self, fn):
        @functools.wraps(fn)
        def timed(df, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(df, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.calls += 1
                    self.seconds += dt

        return timed

    def install(self) -> None:
        for m, fn in self._orig.items():
            setattr(self._cls, m, self._wrap(fn))

    def remove(self) -> None:
        for m, fn in self._orig.items():
            setattr(self._cls, m, fn)

    def take(self) -> tuple[int, float]:
        """(calls, seconds) since the last ``take``."""
        with self._lock:
            out = (self.calls, self.seconds)
            self.calls, self.seconds = 0, 0.0
        return out


# SQL metric values come back formatted for the UI ("1,234", "2.5 s",
# "3.1 MiB", or "total (min, med, max ...)\n<total> (...)" for
# multi-task metrics). Sizes are rounded to the UI's precision.
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_EXCHANGE = re.compile(r"(?<![A-Za-z])(?:Broadcast)?Exchange \(\d+\)")
PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "number of output rows": "python_rows",
}


def parse_metric(text: str) -> float:
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def count_exchanges(plan: str) -> int:
    """Exchanges in the final AQE plan (the whole tree if not adaptive);
    reused exchanges are not counted."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(tree))


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Per-op reader of Spark's status stores. Ops run one at a time;
    ``begin`` marks where an op's SQL executions start and ``collect``
    gathers everything the op's job groups ran."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gateway = sc._gateway
        self._next_exec = 0
        self.begin()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def begin(self) -> None:
        """Skip the SQL executions that ran before the next op."""
        self._drain()
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def collect(self, groups: list[str], cores: int, wall_s: float) -> dict:
        self._drain()
        rec = dict.fromkeys((
            "jobs", "stages", "tasks", "failed_tasks", "task_run_s",
            "task_cpu_s", "gc_s", "scan_bytes", "scan_rows",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
            "spill_bytes", "plan_s", "exchanges", "python_s", "python_boot_s",
            "python_bytes", "python_rows", "max_join_rows",
        ), 0)
        rec["task_skew"] = 1.0
        rec["jobs_by_group"] = {}
        submitted: dict[int, int] = {}
        quantiles = self._gateway.new_array(self._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for group in groups:
            job_ids = list(self._sc.statusTracker().getJobIdsForGroup(group))
            rec["jobs_by_group"][group] = len(job_ids)
            rec["jobs"] += len(job_ids)
            for jid in job_ids:
                job = self._store.job(jid)
                if job.submissionTime().isDefined():
                    submitted[jid] = job.submissionTime().get().getTime()
                for sid in _iter(job.stageIds()):
                    self._add_stage(rec, sid, quantiles)
        rec["core_util"] = rec["task_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
        rec["plans"] = []
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            self._add_execution(rec, opt.get(), submitted)
            self._next_exec += 1
        return rec

    def _add_stage(self, rec: dict, sid: int, quantiles) -> None:
        st = self._store.lastStageAttempt(sid)
        if st.status().toString() not in ("COMPLETE", "FAILED"):
            return  # skipped: its shuffle output was reused
        rec["stages"] += 1
        rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        rec["failed_tasks"] += st.numFailedTasks()
        rec["task_run_s"] += st.executorRunTime() / 1e3
        rec["task_cpu_s"] += st.executorCpuTime() / 1e9
        rec["gc_s"] += st.jvmGcTime() / 1e3
        rec["scan_bytes"] += st.inputBytes()
        rec["scan_rows"] += st.inputRecords()
        rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
        rec["shuffle_read_bytes"] += st.shuffleReadBytes()
        rec["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.numCompleteTasks() > 1:
            dist = self._store.taskSummary(sid, st.attemptId(), quantiles)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                if med > 0:
                    rec["task_skew"] = max(rec["task_skew"], top / med)

    def _add_execution(self, rec: dict, ex, submitted: dict[int, int]) -> None:
        starts = [submitted[j] for j in _iter(ex.jobs().keys()) if j in submitted]
        if starts:
            rec["plan_s"] += max(0, min(starts) - ex.submissionTime()) / 1e3
        plan = ex.physicalPlanDescription()
        rec["exchanges"] += count_exchanges(plan)
        rec["plans"].append(plan.split("\n\n", 1)[0])
        values = self._sql.executionMetrics(ex.executionId())
        for node in _iter(self._sql.planGraph(ex.executionId()).allNodes()):
            name = node.name()
            is_py = bool(_PY_NODE.search(name))
            is_join = "Join" in name or "CartesianProduct" in name
            if not (is_py or is_join):
                continue
            for metric in _iter(node.metrics()):
                value = values.get(metric.accumulatorId())
                if not value.isDefined():
                    continue
                key = metric.name()
                if is_py and key in PY_METRICS:
                    rec[PY_METRICS[key]] += parse_metric(value.get())
                elif is_join and key == "number of output rows":
                    rec["max_join_rows"] = max(
                        rec["max_join_rows"], parse_metric(value.get())
                    )
