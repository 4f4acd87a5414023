"""Measurement plumbing shared by the workloads: the pinned Spark session,
process-tree CPU and memory accounting from ``/proc``, per-rep Spark accounting
from the driver's status stores, in-memory spans, the host calibration burn
and the between-rep cleanup.

Nothing here changes the library; every number is read from outside it.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import tempfile
import threading
import time

APP_NAME = "perfbench"          # must not start with "bench" (see pin_session)
SLOTS = 4                       # local[N] with N <= nproc on the reference host
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"            # also the initial heap: no growth steps mid-run

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / _CLK_TCK)


def calibration_burn(rounds: int = 600_000) -> float:
    """Fixed single-thread CPU burn (sha256 chain); returns its wall time.
    A host-era diagnostic only: it never scales, gates or discards a run."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(rounds):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- session
def pin_session(work_dir: str, slots: int = SLOTS):
    """The benchmark's Spark session: master, shuffle width, driver heap,
    local dir, console progress and status-store retention are pinned; the
    library's production settings (AQE, Arrow, UTC) are kept as
    ``get_spark`` sets them."""
    if APP_NAME.startswith("bench"):
        raise RuntimeError("app name must not start with 'bench': the session "
                           "factory would run its plan warm-up")
    slots = min(slots, os.cpu_count() or slots)
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    # the environment overrides spark.local.dir; keep every scratch file
    # (Spark's, the JVM's and the Python workers') inside the work dir
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"    # no /tmp/hsperfdata
    tempfile.tempdir = tmp_dir
    from scrapy_processors_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local_dir,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "200000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp_dir} "
            f"-Dderby.system.home={work_dir}",
    }
    spark = get_spark(master=f"local[{slots}]", app_name=APP_NAME,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.appName.startswith("bench"):
        raise RuntimeError("session app name starts with 'bench'")
    return spark


def effective_settings(spark) -> dict:
    keys = ("spark.master", "spark.app.name", "spark.driver.memory",
            "spark.sql.shuffle.partitions", "spark.local.dir",
            "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.pyspark.enabled",
            "spark.sql.session.timeZone", "spark.ui.showConsoleProgress",
            "spark.ui.retainedStages", "spark.ui.retainedJobs",
            "spark.ui.retainedTasks", "spark.sql.ui.retainedExecutions")
    conf = spark.sparkContext.getConf()
    out = {k: conf.get(k, None) for k in keys}
    out["spark.sql.adaptive.enabled"] = spark.conf.get("spark.sql.adaptive.enabled")
    out["spark.version"] = spark.version
    out["nproc"] = os.cpu_count()
    return out


# ------------------------------------------------------------ process tree
def _read_stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        tail = f.read().rsplit(")", 1)[1]
    fields = tail.split()
    ppid = int(fields[1])
    # utime stime cutime cstime are fields 14..17 (1-based) of the full line
    cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK
    return ppid, cpu


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between forked Python workers
    and their daemon count once across the tree, not once per process."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
    except OSError:
        return "other"
    if b"java" in cmd.split(b" ", 1)[0]:
        return "jvm"
    if b"pyspark" in cmd or b"daemon" in cmd or b"worker" in cmd:
        return "python"
    return "other"


class ProcTree:
    """CPU seconds and resident memory of this process and all its
    descendants.

    A live process's utime+stime plus cutime+cstime (its reaped children)
    counts every CPU second of the tree exactly once, so forked Python
    workers that have exited still show up through their parent."""

    def __init__(self):
        self.root = os.getpid()
        self._kinds: dict = {}
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def _tree(self) -> dict:
        """{pid: (ppid, cpu_s)} for this process and its descendants."""
        stats = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                stats[int(name)] = _read_stat(int(name))
            except (OSError, ValueError, IndexError):
                continue
        children: dict = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        tree, stack = {}, [self.root]
        while stack:
            pid = stack.pop()
            if pid in stats:
                tree[pid] = stats[pid]
                stack.extend(children.get(pid, ()))
        return tree

    def descendants(self) -> list:
        return [pid for pid in self._tree() if pid != self.root]

    def snapshot(self) -> dict:
        """CPU seconds: {'total', 'driver', 'jvm', 'python', 'other'}."""
        out = {"total": 0.0, "jvm": 0.0, "python": 0.0, "driver": 0.0,
               "other": 0.0}
        for pid, (_, cpu) in self._tree().items():
            kind = "driver" if pid == self.root else self._kinds.get(pid)
            if kind is None:
                # the JVM starts as a launcher shell that execs java: only a
                # settled classification is cached
                kind = _kind(pid)
                if kind != "other":
                    self._kinds[pid] = kind
            out[kind] += cpu
            out["total"] += cpu
        return out

    def memory_mb(self) -> float:
        total = 0.0
        for pid in self._tree():
            try:
                total += _pss_mb(pid)
            except OSError:         # the process ended meanwhile
                continue
        return total

    def _sample(self, period: float) -> None:
        while not self._stop.wait(period):
            self.peak_rss_mb = max(self.peak_rss_mb, self.memory_mb())

    def start_sampling(self, period: float = 0.2) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, self.memory_mb())
        self._thread = threading.Thread(target=self._sample, args=(period,),
                                        daemon=True)
        self._thread.start()

    def stop_sampling(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=10)
            self._thread = None
        self.peak_rss_mb = max(self.peak_rss_mb, self.memory_mb())


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, procs: ProcTree, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    pids = procs.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


# ------------------------------------------------------------ status store
def _opt(o):
    return o.get() if o.isDefined() else None


class SparkAccounting:
    """Per-rep deltas from the driver-local AppStatusStore (stages, jobs,
    tasks) and SQLAppStatusStore (executed plans).  Marks are taken before a
    rep; ``delta`` after it reads only what the rep added."""

    PY_NODES = re.compile(
        r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|"
        r"FlatMapCoGroupsInPandas|MapInPandas|MapInArrow|AggregateInPandas|"
        r"WindowInPandas|PythonMapInArrow|ArrowEvalPythonUDTF)\b")
    EXCHANGES = re.compile(r"\b(Exchange|BroadcastExchange|ShuffleExchange)\b")

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold final metrics for finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stages_newest_first(self):
        return self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList())

    def mark(self) -> dict:
        self.drain()
        stages = self._stages_newest_first()
        top = stages.apply(0).stageId() if stages.size() else -1
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        top_job = jobs.apply(0).jobId() if jobs.size() else -1
        return {"stage": top, "job": top_job,
                "sql": self.sql_store.executionsCount()}

    def delta(self, mark: dict, detail: bool) -> dict:
        """Sums over the stages/jobs added since ``mark``.  ``detail=False``
        reads only shuffle-write bytes (cheap); ``detail=True`` reads every
        per-layer field, the longest stage's task skew and the plans."""
        self.drain()
        stages = self._stages_newest_first()
        out = {"shuffle_write_mb": 0.0}
        if detail:
            out.update(stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                       gc_s=0.0, shuffle_read_mb=0.0, spill_mb=0.0)
        longest = None
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark["stage"]:
                break
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            if not detail:
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            run_ms = s.executorRunTime()
            out["executor_run_s"] += run_ms / 1000
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1000
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            if longest is None or run_ms > longest[0]:
                longest = (run_ms, s.stageId(), s.attemptId())
        if not detail:
            return out
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        n_jobs = 0
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark["job"]:
                break
            n_jobs += 1
        out["jobs"] = n_jobs
        out["task_skew"] = self._task_skew(longest) if longest else 1.0
        out.update(self._plan_counts(mark["sql"]))
        return out

    def _task_skew(self, longest) -> float:
        _, stage_id, attempt = longest
        tasks = self.store.taskList(stage_id, attempt, 100000)
        durations = []
        for i in range(tasks.size()):
            d = _opt(tasks.apply(i).duration())
            if d is not None:
                durations.append(d)
        if not durations:
            return 1.0
        med = statistics.median(durations)
        return max(durations) / med if med > 0 else 1.0

    def _plan_counts(self, first_exec: int) -> dict:
        count = self.sql_store.executionsCount()
        execs = self.sql_store.executionsList(first_exec, max(0, count - first_exec))
        py = ex = 0
        for i in range(execs.size()):
            plan = execs.apply(i).physicalPlanDescription()
            # the node tree, without AQE's initial plan beside the final one
            tree = plan.split("\n\n", 1)[0].split("== Initial Plan ==", 1)[0]
            py += len(self.PY_NODES.findall(tree))
            ex += len(self.EXCHANGES.findall(tree))
        return {"python_nodes": py, "exchanges": ex}


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans; written as JSON once, when the run ends.  A disabled
    tracer records nothing and costs one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self.rep = None

    def span(self, name: str):
        return _Span(self, name)

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def top_level_totals(self) -> list:
        """Per traced rep, the summed duration of its top-level spans."""
        totals: dict = {}
        for s in self.spans:
            if s["parent"] is None and s["rep"] is not None:
                totals[s["rep"]] = totals.get(s["rep"], 0.0) + s["end"] - s["start"]
        return list(totals.values())

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        if self.tracer.enabled:
            parent = self.tracer._stack[-1] if self.tracer._stack else None
            self.rec = {"id": len(self.tracer.spans), "name": self.name,
                        "parent": parent, "rep": self.tracer.rep,
                        "start": time.perf_counter(), "end": None}
            self.tracer.spans.append(self.rec)
            self.tracer._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.rec["end"] = time.perf_counter()
            self.tracer._stack.pop()
        return False


# ----------------------------------------------------------------- cleanup
def release_all(spark, dirs=()) -> None:
    """Between reps: unpersist every persisted RDD (local checkpoints too),
    drop the minhash signature cache, delete the rep's directories, then
    check that nothing is left persisted."""
    from scrapy_processors_spark.datapipe import dedup

    dedup.release_minhash_cache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    left = jsc.getPersistentRDDs().size()
    if left:
        raise RuntimeError(f"{left} RDDs still persisted after cleanup")


def median(xs):
    return statistics.median(xs) if xs else None
