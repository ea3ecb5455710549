"""Measurement plumbing shared by every workload: spans, the /proc sampler,
the host record, the session factory and the Spark event-log fold.

Nothing here imports the engine at module load, so the tests can use the
pure helpers without a JVM.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import re
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, "perfbench", ".cache")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans (name, start, end, parent, trace, attrs), written out
    once at the end of the run. Disabled, `span` costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace = 0
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}, default=str) + "\n")


# --------------------------------------------------------------------------
# process-tree CPU and memory from /proc (psutil is not installed)

_TICK = os.sysconf("SC_CLK_TCK")


def proc_stat() -> dict[int, list[bytes]]:
    """pid -> the fields of /proc/<pid>/stat from field 3 (state) on, so
    fields[1] is the parent pid, fields[3] the session id and fields[11:15]
    utime, stime, cutime and cstime, in clock ticks."""
    stat = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        stat[int(d)] = raw[raw.rfind(b")") + 2:].split()
    return stat


def _tree() -> dict[int, float]:
    """pid -> CPU seconds (reaped children included) for this process and
    all its descendants: the bench process, the JVM it launched and the
    Python workers."""
    stat = {
        pid: (int(f[1]), sum(int(x) for x in f[11:15]) / _TICK)
        for pid, f in proc_stat().items()
    }
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stat:
            out[pid] = stat[pid][1]
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    return sum(_tree().values())


def tree_pss_mb() -> float:
    """Summed proportional set size of the tree. Unlike summed RSS it
    counts a page shared by forked Python workers once."""
    kib = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kib += int(re.search(r"^Pss:\s+(\d+)", f.read(), re.M).group(1))
        except (OSError, AttributeError):
            continue
    return kib / 1024


class PssSampler:
    """Background thread sampling the tree's memory every `interval`
    seconds while the block runs; `peak_mb` is the largest sample, and
    `own_cpu_s` the CPU this thread has spent sampling, so that a CPU
    figure of the tree can leave it out."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.own_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        t0 = time.thread_time()
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self.own_cpu_s = time.thread_time() - t0

    def __enter__(self) -> "PssSampler":
        self.peak_mb = tree_pss_mb()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


# --------------------------------------------------------------------------
# host record


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kib = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        java = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=30,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import pyspark

    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kib // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "commit": commit,
    }


def driver_memory_mb() -> int:
    """A heap that fits the host: an eighth of physical RAM, 1-4 GiB."""
    with open("/proc/meminfo") as f:
        mem_kib = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return max(1024, min(4096, mem_kib // 1024 // 8))


# --------------------------------------------------------------------------
# session


def redirect_fds(path: str):
    """Point fds 1 and 2 at `path` and return a function that restores
    them. The JVM and the Python workers inherit the fds current at their
    launch, so their log output lands in the file and this process's
    stdout stays a clean record stream."""
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)

    def restore() -> None:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        os.close(saved[0])
        os.close(saved[1])

    return restore


def start_session(work: str, cores: int, event_dir: str | None = None):
    """local[cores] session with a host-sized heap, shuffle partitions =
    cores, and every scratch directory inside `work`. `event_dir` turns on
    the Spark event log there."""
    from metacheck_spark.session import get_spark

    tmp, mem = os.path.join(work, "tmp"), driver_memory_mb()
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{mem}m",
        # a fixed heap: no resizing between passes to move the memory figure
        "spark.driver.extraJavaOptions": f"-Xms{mem}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.compress"] = "false"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return get_spark(
        master=f"local[{cores}]", app_name="perfbench",
        shuffle_partitions=cores, extra_conf=conf,
    )


def stop_jvm() -> None:
    """Close the JVM PySpark launched and wait for it to exit: its gateway
    server ends the process when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def become_subreaper() -> None:
    """Adopt every orphaned descendant (Linux PR_SET_CHILD_SUBREAPER): a
    Python worker that outlives the JVM which forked it becomes a child of
    this process, so `reap_children` can wait for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me = os.getpid()
    return [pid for pid, f in proc_stat().items() if int(f[1]) == me]


def reap_children(grace_s: float = 20.0) -> None:
    """Return once this process has no child left: wait for each, and kill
    those still running after `grace_s` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# --------------------------------------------------------------------------
# Spark-side counters


def job_group_tasks(spark, group: str) -> tuple[int, int]:
    """(tasks run, tasks failed) over every stage of the group's jobs."""
    st = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else []:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return tasks, failed


def fold_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: shuffle MiB written and the summed task run time,
    scheduler delay and GC time of every SparkListenerTaskEnd."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    info = ev["Task Info"]
                    run_ms = m.get("Executor Run Time", 0)
                    busy = (
                        run_ms
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    delay = max(0, info["Finish Time"] - info["Launch Time"] - busy)
                    acc = out.setdefault(group, {
                        "shuffle_write_mb": 0.0, "task_run_s": 0.0,
                        "scheduler_delay_s": 0.0, "gc_s": 0.0,
                    })
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    acc["task_run_s"] += run_ms / 1000.0
                    acc["scheduler_delay_s"] += delay / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return out


_TASK_BINARY = re.compile(r"Broadcasting large task binary with size ([\d.]+) (KiB|MiB|GiB)")
_KIB = {"KiB": 1.0, "MiB": 1024.0, "GiB": 1024.0 * 1024.0}


def max_task_binary_kib(text: str) -> float:
    """Largest task binary Spark warned about (it warns above 1000 KiB, so
    0.0 means every stage stayed below that line)."""
    sizes = [float(m.group(1)) * _KIB[m.group(2)] for m in _TASK_BINARY.finditer(text)]
    return max(sizes, default=0.0)
