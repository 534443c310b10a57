"""Spark session, memory sampling and status-store readers for the benchmark.

Everything here observes the program from outside: it builds the session
through ``ionex_spark.session.get_spark`` with the machine's resources, and
reads per-layer counters from Spark's status stores (which keep full stage
and SQL-metric data even with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import contextlib
import os
import re
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A third of the machine, capped at the 8 GB the program defaults to."""
    return min(8192, mem_total_mb() // 3)


def build_session(app: str):
    """``local[nproc]`` session with ``shuffle_partitions = nproc`` and the
    program's own defaults (AQE on) for everything else."""
    from ionex_spark.session import get_spark

    # Python workers import the package from the checkout, whatever the cwd
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    # shuffle files, broadcast spills and JVM/Python temp files stay in the
    # checkout; SPARK_LOCAL_DIRS would override spark.local.dir
    tmp = os.path.join(ROOT, ".perfbench_cache", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    n = nproc()
    spark = get_spark(
        app, master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait until it has
    exited (it exits when its stdin closes); ``reap_children`` waits for
    the Python workers it leaves."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the parent of every orphaned process under it
    (Linux prctl), so the Python daemon and workers the JVM starts, and
    anything the input generator starts, stay ours to wait for after
    their own parent has exited."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap_children(grace: float = 30.0) -> None:
    """Wait until every child of this process has exited and been reaped;
    send SIGTERM to those still running after ``grace`` seconds and
    SIGKILL after twice that.  With ``become_subreaper`` the children
    include every orphaned descendant."""
    import signal

    start = time.monotonic()
    while True:
        _reap()
        kids = _children().get(os.getpid(), [])
        if not kids:
            return
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > 2 * grace
               else signal.SIGTERM if waited > grace else None)
        for pid in kids if sig else ():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.05)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------- memory

def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


class PeakRss:
    """Samples the summed RSS of the JVM and every process under it (the
    Python daemon and its workers) every ``period`` seconds; ``stop`` returns
    the largest sum seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._pid = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, spark) -> None:
        self._pid = spark.sparkContext._gateway.proc.pid
        if not self._thread.is_alive():
            self._thread.start()

    def _sample(self) -> None:
        kids = _children()
        todo, total = [self._pid], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        if self._pid is not None:
            self._sample()
        return self.peak_kb / 1024.0


# --------------------------------------------------------- job groups

class JobGroup:
    """Runs the body under one Spark job group and keeps its wall window,
    so its jobs, stages and SQL executions can be read back afterwards."""

    def __init__(self, spark, name: str):
        self.spark, self.name = spark, name
        self.t0 = self.t1 = 0.0

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.name, self.name)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.t1 = time.time()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return False

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def job_ids(self) -> list[int]:
        return sorted(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.name))


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def op_group(spark, name: str, groups: list | None):
    """A JobGroup for one operation, appended to ``groups``; no group at
    all when ``groups`` is None (untraced passes)."""
    if groups is None:
        return contextlib.nullcontext()
    g = JobGroup(spark, name)
    groups.append(g)
    return g


def engine_stats(groups: list[JobGroup]) -> dict:
    """Job, stage and task counters of the jobs of ``groups`` from the core
    status store, plus the task-time skew of the busiest stage and the part
    of the groups' wall windows that no stage covered (driver-side gaps)."""
    sc = groups[0].spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quant = gw.new_array(gw.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    jobs = [j for g in groups for j in g.job_ids()]
    stage_ids = sorted({
        int(s) for j in jobs
        for s in (sc.statusTracker().getJobInfo(j).stageIds or [])
    })
    out = dict.fromkeys((
        "stages", "tasks", "input_bytes", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "executor_run_ms",
        "executor_cpu_ms", "gc_ms",
    ), 0)
    spans, slowest = [], (-1, 0.0)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted or never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["input_bytes"] += st.inputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["executor_run_ms"] += st.executorRunTime()
        out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
        out["gc_ms"] += st.jvmGcTime()
        t0, t1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if t0 is not None and t1 is not None:
            spans.append((t0, t1))
        if st.executorRunTime() > slowest[1]:
            summ = store.taskSummary(sid, st.attemptId(), quant)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                slowest = (mx / med if med > 0 else 1.0, st.executorRunTime())
    out["jobs"] = len(jobs)
    out["task_skew"] = max(slowest[0], 0.0)
    out["driver_gap_ms"] = sum(
        _uncovered_ms(g.t0 * 1000, g.t1 * 1000, spans) for g in groups)
    return out


def _uncovered_ms(lo: float, hi: float, spans: list) -> float:
    covered, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return max(0.0, (hi - lo) - covered)


# ------------------------------------------------------- SQL metrics

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"100,000"``, ``"0 ms"`` or
    ``"total (min, med, max ...)\\n781.9 KiB (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE.get(unit, _TIME.get(unit, 1))


def sql_node_metrics(spark, job_ids) -> list[tuple[str, dict]]:
    """(node name, {metric name: total}) for every plan node of the SQL
    executions that ran any of ``job_ids``."""
    jobs = set(job_ids)
    sql = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = sql.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        ran = {int(j) for j in ex.jobs().keys().mkString(",").split(",") if j}
        if not ran & jobs:
            continue
        values = sql.executionMetrics(ex.executionId())
        nodes = sql.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            ms, mit = {}, node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = parse_metric(v.get())
            out.append((node.name(), ms))
    return out


def boundary_stats(nodes) -> dict:
    """Python-boundary totals over every node that ships rows to Python
    workers (MapInPandas, MapInArrow, Arrow/Batch eval)."""
    out = dict.fromkeys((
        "bytes_to_python", "bytes_from_python", "batches_from_python",
        "worker_run_ms", "worker_start_ms",
    ), 0.0)
    for _, ms in nodes:
        if "data sent to Python workers" not in ms:
            continue
        out["bytes_to_python"] += ms["data sent to Python workers"]
        out["bytes_from_python"] += ms.get("data returned from Python workers", 0)
        # on these nodes Spark's "number of output rows" counts the Arrow
        # batches returned (read_ionex: one per map, not one per grid point)
        out["batches_from_python"] += ms.get("number of output rows", 0)
        out["worker_run_ms"] += ms.get("time to run Python workers", 0)
        out["worker_start_ms"] += (
            ms.get("time to start Python workers", 0)
            + ms.get("time to initialize Python workers", 0)
        )
    return out


def broadcast_bytes(nodes) -> float:
    return sum(ms.get("data size", 0) for name, ms in nodes
               if name.startswith("BroadcastExchange"))
