"""Run environment, Spark lifecycle, spans and Spark's own counters.

The benchmark measures ``zmaxion_spark`` from outside: spans wrap the
calls the workload files make into the library, and per-layer counters
come from Spark's status store (jobs, stages, tasks), its SQL status
store (Python evaluation nodes) and streaming query progress. Nothing
in the library is changed to be measured.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import shutil
import sys
import tempfile
import time

from perfbench import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"


def cpus() -> int:
    """Spark's local cores: half the cores this process may use, at
    least one. The other half is left to what runs beside the task
    threads (the Python driver, Spark's Python workers, the JVM's
    garbage collector and compilers, the benchmark's broker and load
    generator). With a task thread on every core, a shared host that
    takes one core away for a moment stalls each stage on that core's
    task, and the timings follow the host, not the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def pin_environment(work: str) -> dict[str, str]:
    """Pin everything the session reads from the environment, from the
    benchmark side: the library defaults (32 cores, a 16g driver) do
    not fit a small machine, Spark's Python workers must import
    ``zmaxion_spark`` from this checkout, and all scratch output
    (Spark local dirs, temp files, ``spark-warehouse/``) must land in
    the run's work directory. Returns the settings to echo."""
    mem_gib = int(DRIVER_MEM.rstrip("g"))
    if mem_gib * 1024**3 >= physical_mem_bytes():
        raise SystemExit(f"driver memory {DRIVER_MEM} is not below physical memory")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "ZMX_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        # Every JVM (the launcher's too) would otherwise keep a perf-data
        # file under the system /tmp.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    os.chdir(work)
    return {**env, "cpus": str(cpus()), "cwd": work}


def start_spark():
    from zmaxion_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus())


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """High-water RSS of this Python process plus the JVM, in MB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def cpu_jiffies() -> list[int]:
    """The machine's CPU time counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to other
    guests between two ``cpu_jiffies`` readings. Reported with each run
    because it, not the program, is what moves the timings most on a
    shared host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it Spark's
    Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


@contextlib.contextmanager
def work_dir(name: str):
    """A private scratch directory inside the checkout, removed at exit."""
    base = os.path.join(ROOT, ".perfbench_work")
    path = os.path.join(base, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    cwd = os.getcwd()
    try:
        yield path
    finally:
        os.chdir(cwd)
        shutil.rmtree(path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)


class Ops:
    """Operations attempted and failed (queries, triggers, reads and
    result checks). A failure is recorded with its reason on stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str, why) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr)

    def check(self, what: str, good: bool, detail: str = "") -> bool:
        if good:
            self.ok()
        else:
            self.fail(what, detail)
        return good

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Tracer:
    """In-memory spans. With ``enabled`` False every call is a no-op,
    which is what the plain (end-to-end) run uses."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.hook_s = 0.0  # time spent in the tracing code itself

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def hook(self):
        """Bracket benchmark-side bookkeeping that only the traced run
        does, so its cost is reported as tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.hook_s += time.perf_counter() - t

    def self_time_by_name(self) -> dict[str, float]:
        return stats.self_times([s for s in self.spans if s["end"] is not None])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap_load_table(tracer: Tracer):
    """Count and time ``catalog.load_table`` by rebinding the public
    function in every ``zmaxion_spark`` module that imported it.
    Returns (counter dict, restore function)."""
    from zmaxion_spark import catalog

    orig = catalog.load_table
    acc = {"calls": 0, "s": 0.0}

    def load_table(*a, **kw):
        t = time.perf_counter()
        try:
            with tracer.span("load_table"):
                return orig(*a, **kw)
        finally:
            acc["calls"] += 1
            acc["s"] += time.perf_counter() - t

    sites = []
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("zmaxion_spark"):
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, load_table)
                    sites.append((mod, k))

    def restore():
        for mod, k in sites:
            setattr(mod, k, orig)

    return acc, restore


class SparkCounters:
    """Reads Spark's status stores through the JVM gateway.

    ``mark()`` records the newest job, stage and SQL execution ids;
    ``session_since`` and ``python_since`` then aggregate only what ran
    after the mark."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        seq = self.store.stageList(
            None, False, False, gw.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )
        return list(self.conv.asJava(seq))

    def _executions(self):
        return list(self.conv.asJava(self.sql.executionsList()))

    def mark(self) -> dict:
        jobs = list(self.conv.asJava(self.store.jobsList(None)))
        return {
            "job": max((j.jobId() for j in jobs), default=-1),
            "stage": max((s.stageId() for s in self._stages()), default=-1),
            "exec": max((e.executionId() for e in self._executions()), default=-1),
        }

    def session_since(self, mark: dict) -> dict[str, float]:
        jobs = [
            j for j in self.conv.asJava(self.store.jobsList(None))
            if j.jobId() > mark["job"]
        ]
        stages = [s for s in self._stages() if s.stageId() > mark["stage"]]
        mb = 1024.0**2
        out = {
            "session.jobs": float(len(jobs)),
            "session.tasks": float(sum(s.numTasks() for s in stages)),
            "session.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "session.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "session.shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / mb,
            "session.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / mb,
            "session.spill_mb": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ) / mb,
            "session.task_skew": 0.0,
        }
        if stages:
            longest = max(stages, key=lambda s: s.executorRunTime())
            tasks = self.conv.asJava(
                self.store.taskList(longest.stageId(), longest.attemptId(), 1 << 30)
            )
            durs = [t.duration().get() for t in tasks if t.duration().isDefined()]
            if durs and stats.median(durs) > 0:
                out["session.task_skew"] = max(durs) / stats.median(durs)
        return out

    def python_since(self, mark: dict) -> dict[str, float]:
        """Rows, bytes and time of Spark's Python evaluation nodes (the
        ones carrying the "data sent to Python workers" metric)."""
        rows = sent = recv = py_ms = 0.0
        for e in self._executions():
            eid = e.executionId()
            if eid <= mark["exec"]:
                continue
            values = None
            for node in self.conv.asJava(self.sql.planGraph(eid).allNodes()):
                # Name filter first: reading every node's metrics through
                # the gateway costs seconds per run.
                if not any(k in node.name() for k in ("Python", "Pandas", "Arrow")):
                    continue
                ms = {m.name(): m for m in self.conv.asJava(node.metrics())}
                if "data sent to Python workers" not in ms:
                    continue
                if values is None:
                    values = self.conv.asJava(self.sql.executionMetrics(eid))

                def val(name):
                    m = ms.get(name)
                    v = values.get(m.accumulatorId()) if m is not None else None
                    return stats.parse_sql_metric(v) if v else 0.0

                sent += val("data sent to Python workers")
                recv += val("data returned from Python workers")
                rows += val("number of output rows")
                py_ms += val("time to run Python workers")
        mb = 1024.0**2
        return {
            "functions.python_rows": rows,
            "functions.python_sent_mb": sent / mb,
            "functions.python_received_mb": recv / mb,
            "functions.python_time_s": py_ms / 1e3,
        }


def result(ops: Ops, metrics: dict[str, tuple[float, str]]) -> dict:
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
