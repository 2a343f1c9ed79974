"""Process plumbing shared by the workloads: the Spark session, spans and
Spark job metrics for the traced run, the RSS sampler and the noise record.

Spans are recorded by the benchmark around each call it makes into an
engine layer; they never reach into engine code. In a traced run every
span also tags the Spark jobs it submits with its own job group, and the
job and stage metrics of that group are read back from Spark's status
store.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

# ------------------------------------------------------------------ session


def start_spark(root: str, work: str, cores: int):
    """SparkSession through the engine's own factory, with every scratch
    path Spark writes kept under `work`."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM spark-submit uses to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from go_tfdata_spark.session import get_spark

    spark = get_spark(
        "perfbench", cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_spark(spark, root: str, work: str, cores: int):
    """A new SparkContext on the same JVM with another core count."""
    spark.stop()
    return start_spark(root, work, cores)


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until both have ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)


# ------------------------------------------------------------------ /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def wait_descendants_gone(timeout: float = 30.0) -> None:
    """Wait for every process this one started; kill any that linger."""
    import signal

    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = descendants(os.getpid())
        if not alive:
            return
        time.sleep(0.2)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def other_spark_jvms() -> list[int]:
    mine = set(descendants(os.getpid()))
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd and b"java" in cmd:
            out.append(int(d))
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def memory_kb(root: int) -> dict[int, int]:
    """Memory of each descendant of `root`, in KiB: the resident set of
    the JVM, read from statm, and the proportional set size (PSS) of
    every other process. Reading PSS walks a process's page tables under
    its memory-map lock, which on a multi-GB JVM takes tens of ms and
    stalls the JVM's own mapping calls while it runs. The JVM shares few
    pages, so its resident set is close to its PSS; forked Python workers
    share many with their daemon, so summed RSS would count those pages
    once per worker. A child the JVM has forked but not yet exec'd (still
    running the java binary, under a thread's name) shares all of the
    JVM's pages and counts 0."""
    kids = _children_map()
    out: dict[int, int] = {}
    todo = [(p, False) for p in kids.get(root, [])]
    while todo:
        pid, parent_java = todo.pop()
        try:
            java = os.readlink(f"/proc/{pid}/exe").endswith("/java")
            if java and not parent_java:
                out[pid] = int(_read(f"/proc/{pid}/statm").split()[1]) * _PAGE_KB
            elif not java:
                out[pid] = next((int(line.split()[1])
                                 for line in _read(f"/proc/{pid}/smaps_rollup").splitlines()
                                 if line.startswith("Pss:")), 0)
        except OSError:
            continue
        todo.extend((c, java) for c in kids.get(pid, []))
    return out


class MemSampler:
    """Peak memory of this process's descendants, sampled from /proc: the
    driver JVM's resident set plus the PSS of its Python workers."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = memory_kb(me)
            if sum(kb.values()) > self.peak_kb:
                self.peak_kb = sum(kb.values())
                self.at_peak = {"processes": len(kb),
                                "mb": sorted((round(v / 1024, 1) for v in kb.values()),
                                             reverse=True)}
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class NoiseRecord:
    """Steal share of the host CPUs over the run and the load average."""

    def __init__(self):
        self.t0 = _cpu_times()
        self.load0 = os.getloadavg()

    def finish(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d[:8]) or 1
        return {
            "steal_share": round(d[7] / total, 5) if len(d) > 7 else 0.0,
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        }


# ------------------------------------------------------------------ timing


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def noop(df) -> None:
    """Force the full output of a plan without keeping it."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans around calls into engine layers, plus the Spark job metrics of
    each span's job group. Disabled, `span` only times."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def rebind(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(), "end": None, "attrs": attrs,
            "group": f"perfbench-{len(self.spans)}-{name}",
        }
        self.spans.append(s)
        self._stack.append(s)
        tag = self.enabled and self.sc is not None
        if tag:
            self.sc.setJobGroup(s["group"], f"perfbench {name}", interruptOnCancel=False)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if tag:
                if self._stack:
                    p = self._stack[-1]
                    self.sc.setJobGroup(p["group"], f"perfbench {p['name']}",
                                        interruptOnCancel=False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self) -> list[dict]:
        return [
            {k: (round(v, 6) if isinstance(v, float) else v) for k, v in s.items()}
            for s in self.spans
        ]


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(sc, seq) -> list:
    # Indexed, not iterated: py4j ends an iteration with a Java exception
    # that costs tens of ms to convert.
    jl = sc._jvm.java.util.ArrayList(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))
    return [jl.get(i) for i in range(jl.size())]


def plan_nodes(sc, df, root=None):
    """Every node of the executed physical plan of `df` (or of the tree
    under `root`), depth first, through the adaptive plan and its query
    stages."""
    todo = [root if root is not None else df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        yield node
        todo.extend(reversed(_seq(sc, node.children())))


class JobMetrics:
    """Job and stage metrics of one job group, from Spark's status store."""

    def __init__(self, sc, group: str, with_tasks: bool = False):
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        ids = sorted(tracker.getJobIdsForGroup(group))
        # the status listener is asynchronous: wait for job-end events
        deadline = time.time() + 5
        while time.time() < deadline:
            infos = [tracker.getJobInfo(j) for j in ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.05)
        self.jobs = 0
        self.intervals: list[tuple[float, float]] = []
        self.stages = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.task_retries = 0
        self.task_ms: list[list[float]] = []
        self.task_shuffle_records: list[float] = []
        seen = set()
        no_status = sc._jvm.java.util.ArrayList()
        no_q = sc._gateway.new_array(sc._jvm.double, 0)
        for j in ids:
            jd = store.job(j)
            self.jobs += 1
            sub, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if sub is not None and end is not None:
                self.intervals.append((sub.getTime() / 1000.0, end.getTime() / 1000.0))
            for sid in _seq(sc, jd.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in _seq(sc, store.stageData(sid, False, no_status, False, no_q)):
                    if str(sd.status()) == "SKIPPED":
                        continue
                    self.stages += 1
                    self.shuffle_write_bytes += sd.shuffleWriteBytes()
                    self.spill_bytes += sd.diskBytesSpilled()
                    self.task_retries += sd.numFailedTasks() + sd.numKilledTasks() + sd.attemptId()
                    if with_tasks:
                        ts = _seq(sc, store.taskList(sid, sd.attemptId(), 100000))
                        durs = [float(_opt(t.duration()) or 0) for t in ts]
                        self.task_ms.append(durs)
                        for t in ts:
                            m = _opt(t.taskMetrics())
                            if m is not None:
                                self.task_shuffle_records.append(
                                    float(m.shuffleReadMetrics().recordsRead()))

    @property
    def job_s(self) -> float:
        """Wall seconds covered by the group's jobs (union of intervals)."""
        total, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def max_task_skew(self) -> float:
        """Largest max/median task time over the group's stages with at
        least 4 tasks."""
        best = 0.0
        for durs in self.task_ms:
            if len(durs) >= 4:
                med = statistics.median(durs)
                if med > 0:
                    best = max(best, max(durs) / med)
        return best
