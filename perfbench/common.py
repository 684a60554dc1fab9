"""Measurement plumbing shared by the workloads: metric names, the engine
session, spans, the Spark event log, process-tree memory, disk usage and
the raw host record.  Nothing here imports pyspark at module level."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import subprocess
import threading
import time
from collections import defaultdict

# name -> unit.  Every workload reports every metric: an untraced run the
# end-to-end set, a traced run the per-layer set (0 where a layer is idle).
END_TO_END = {
    "setup_s": "s",
    "warmup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "read_p50_ms": "ms",
    "space_amp": "B/B",
    "peak_rss_mb": "MB",
}

# the containment-store composite, the job-floor target with the most
# jobs; the other store composites do not fit the run budget, see
# perfbench/README.md
COMPOSITE_QUERIES = ("dedup_containment_incremental_recall",)

PER_LAYER = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_ms_per_op": "ms",
    "spark.outside_jobs_ms_per_op": "ms",
    "executor.run_ms_per_op": "ms",
    "executor.cpu_ms_per_op": "ms",
    "executor.gc_ms_per_op": "ms",
    "shuffle.bytes_per_op": "B",
    "spill.bytes_per_op": "B",
    "surface.build_ms": "ms",
    "surface.collect_ms": "ms",
    "surface.rows_per_op": "count",
    "registry.fn_s": "s",
    "registry.action_s": "s",
    **{f"registry.fn_s.{q}": "s" for q in COMPOSITE_QUERIES},
    **{f"registry.action_s.{q}": "s" for q in COMPOSITE_QUERIES},
    "sinks.merge_ms": "ms",
    "sinks.compact_ms": "ms",
    "sinks.read_ms": "ms",
    "sinks.attempts_per_commit": "count",
    "sinks.bytes_written_per_user_byte": "B/B",
    "sinks.files_per_version": "count",
    "sinks.retained_versions": "count",
    "trace.ops_per_s": "1/s",
}


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, pct: int) -> float:
    """``pct``-th percentile with linear interpolation between order
    statistics (``statistics.quantiles``' inclusive method)."""
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return float(statistics.quantiles(values, n=100, method="inclusive")[pct - 1])


def tail_latency(latencies: list[float]) -> dict | None:
    """The highest of p99/p95/p90/p75 with at least ten samples above
    it, in ms, with the sample count; None for fewer than 40 samples."""
    n = len(latencies)
    for pct in (99, 95, 90, 75):
        if n * (100 - pct) / 100 >= 10:
            return {"pct": pct, "ms": 1000 * percentile(latencies, pct), "n": n}
    return None


# ----------------------------------------------------------------- host


def engine_cores() -> int:
    """Engine task threads: one core is left to the driver JVM, the
    client and the GC/JIT threads."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms
    resolution), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def host_record() -> dict:
    """Raw host load: recorded only, never used to drop or label a run."""
    rec: dict = {"time": time.time()}
    try:
        with open("/proc/loadavg") as fh:
            rec["loadavg"] = [float(x) for x in fh.read().split()[:3]]
    except OSError:
        rec["loadavg"] = None
    try:
        with open("/proc/pressure/cpu") as fh:
            rec["psi_cpu"] = fh.read().strip().splitlines()
    except OSError:
        rec["psi_cpu"] = None
    # time the hypervisor ran other guests on this machine's vCPUs
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    rec["cpu_steal_s"] = int(fields[8]) / os.sysconf("SC_CLK_TCK")
    return rec


# ------------------------------------------------------ process tree


def _parent_map() -> dict[int, int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                parents[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
    return parents


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, found by walking ``/proc``."""
    children = defaultdict(list)
    for pid, ppid in _parent_map().items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_peak_rss(root: int) -> dict[int, int]:
    """pid -> ``VmHWM`` (peak resident set, bytes) of every process in
    the tree: Python driver, JVM and Python workers."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return out


class RssSampler:
    """Samples the tree's per-process peak RSS once a second in a daemon
    thread.  ``peak`` sums the peaks of the processes seen in at least
    two samples: a child the JVM has just forked shares the JVM's pages
    until it execs and would count them twice, while the Python driver,
    the JVM and the Python workers live for many samples."""

    def __init__(self, root: int, interval: float = 1.0):
        self.root, self.interval = root, interval
        self._seen: dict[int, list[int]] = {}  # pid -> [samples, peak]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        for pid, hwm in tree_peak_rss(self.root).items():
            rec = self._seen.setdefault(pid, [0, 0])
            rec[0] += 1
            rec[1] = max(rec[1], hwm)

    @property
    def peak(self) -> int:
        return sum(hwm for n, hwm in self._seen.values() if n >= 2)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def stop_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this one started to end; kill stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        rest = [p for p in tree_pids(me) if p != me]
        if not rest:
            return
        time.sleep(0.2)
    for pid in tree_pids(me):
        if pid != me:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
    while [p for p in tree_pids(me) if p != me] and time.monotonic() < deadline + 10:
        time.sleep(0.1)
        with contextlib.suppress(ChildProcessError):
            os.waitpid(-1, os.WNOHANG)


def disk_bytes(root: str) -> int:
    """Total size of the files under ``root``, each inode counted once
    (hardlinked snapshot files are shared, not copied)."""
    seen, total = set(), 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                st = os.lstat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def inodes(root: str) -> dict[int, int]:
    """inode -> size of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            with contextlib.suppress(FileNotFoundError):
                st = os.lstat(os.path.join(dirpath, f))
                out[st.st_ino] = st.st_size
    return out


# ----------------------------------------------------------- session


def engine_env(work: str, cores: int) -> None:
    """Point every scratch location of the engine at the run's work
    directory and size the engine.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, cores: int, trace: bool):
    from full_docker_etl_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logdir}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_engine(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def job_watermark(spark) -> int:
    """``max(jobId) + 1``: the id the next job will get, read from the
    DAG scheduler's job-id counter (``numTotalJobs``).  The counter is bumped when a job is
    submitted, so a job the op started is below the watermark taken when
    the op returns.  The status store (``statusTracker``) would not do:
    the listener bus fills it asynchronously, so it can miss an op's last
    jobs, and it evicts old jobs past ``spark.ui.retainedJobs``, so the
    size of its job list is no count at all."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


# ------------------------------------------------------------ tracing


class Tracer:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent span and op id, kept in memory and written at the end.
    Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def durations(self, name: str, timed_ops: set[int] | None = None) -> list[float]:
        """Durations (s) of the closed spans called ``name``, limited to
        spans of ``timed_ops`` when given."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and "end" in s
            and (timed_ops is None or s["op"] in timed_ops)
        ]


# ------------------------------------------------------------ event log

_WANTED = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"SparkListenerTaskEnd"',
)


def read_event_log(path: str) -> dict:
    """Jobs (submission/completion ms, stage ids), completed stage
    attempts and task metrics per stage, from one application's log."""
    jobs: dict[int, dict] = {}
    stage_attempts: dict[int, int] = defaultdict(int)
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                jobs.setdefault(ev["Job ID"], {"stages": []})["end"] = ev[
                    "Completion Time"
                ]
            elif kind == "SparkListenerStageCompleted":
                stage_attempts[ev["Stage Info"]["Stage ID"]] += 1
            else:
                m = ev.get("Task Metrics") or {}
                t = tasks[ev["Stage ID"]]
                t["n"] += 1
                t["run_ms"] += m.get("Executor Run Time", 0)
                t["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                t["gc_ms"] += m.get("JVM GC Time", 0)
                t["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_b"] += m.get("Disk Bytes Spilled", 0)
    # a stage listed by several jobs runs in the first; later ones skip it
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    return {
        "jobs": jobs,
        "stage_job": stage_job,
        "stage_attempts": stage_attempts,
        "tasks": tasks,
    }


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_layer_metrics(log: dict, ops: list[dict]) -> dict:
    """Per-op means of scheduler and executor work.  Each op carries the
    job-id watermarks taken before (``wm_lo``) and after (``wm_hi``) it;
    its jobs are exactly the ids in ``[wm_lo, wm_hi)``."""
    keys = ("jobs", "stages", "tasks", "job_ms", "outside_ms",
            "run_ms", "cpu_ms", "gc_ms", "shuffle_b", "spill_b")
    sums = dict.fromkeys(keys, 0.0)
    job_stages: dict[int, list[int]] = defaultdict(list)
    for sid, jid in log["stage_job"].items():
        job_stages[jid].append(sid)
    for op in ops:
        lo_ms, hi_ms = op["t0"] * 1000.0, op["t1"] * 1000.0
        intervals = []
        for jid in range(op["wm_lo"], op["wm_hi"]):
            job = log["jobs"].get(jid)
            if job is None:
                continue
            sums["jobs"] += 1
            start, end = job.get("start", lo_ms), job.get("end", hi_ms)
            intervals.append((max(start, lo_ms), min(end, hi_ms)))
            for sid in job_stages.get(jid, ()):
                sums["stages"] += log["stage_attempts"].get(sid, 0)
                t = log["tasks"].get(sid)
                if t:
                    sums["tasks"] += t["n"]
                    for k in ("run_ms", "cpu_ms", "gc_ms", "shuffle_b", "spill_b"):
                        sums[k] += t[k]
        union = _union_ms([iv for iv in intervals if iv[1] > iv[0]])
        sums["job_ms"] += union
        sums["outside_ms"] += max(0.0, hi_ms - lo_ms - union)
    n = max(1, len(ops))
    return {
        "spark.jobs_per_op": sums["jobs"] / n,
        "spark.stages_per_op": sums["stages"] / n,
        "spark.tasks_per_op": sums["tasks"] / n,
        "spark.job_ms_per_op": sums["job_ms"] / n,
        "spark.outside_jobs_ms_per_op": sums["outside_ms"] / n,
        "executor.run_ms_per_op": sums["run_ms"] / n,
        "executor.cpu_ms_per_op": sums["cpu_ms"] / n,
        "executor.gc_ms_per_op": sums["gc_ms"] / n,
        "shuffle.bytes_per_op": sums["shuffle_b"] / n,
        "spill.bytes_per_op": sums["spill_b"] / n,
    }


def event_log_file(work: str, app_id: str) -> str:
    """The application's event log: a single file, or with rolling
    logs the one events file inside ``eventlog_v2_<app_id>/``."""
    import glob

    found = sorted(glob.glob(os.path.join(work, "eventlog", f"*{app_id}*")))
    if not found:
        raise FileNotFoundError(f"no event log for {app_id} under {work}")
    path = found[0]
    if os.path.isdir(path):
        path = sorted(glob.glob(os.path.join(path, "events_*")))[-1]
    return path
