"""Process plumbing: the run's private directories and environment, the
Spark session's start and full shutdown, the /proc RSS sampler and the
Spark event-log reader used by the traced run."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import threading
import time
import uuid

MARK = "PERFBENCH_RUN_ID"


class RunDirs:
    """Everything a run writes lives under ``<checkout>/.bench_run``."""

    def __init__(self, root: str) -> None:
        self.base = os.path.join(root, ".bench_run")
        self.work = os.path.join(self.base, "work")
        self.tmp = os.path.join(self.base, "tmp")
        self.eventlog = os.path.join(self.base, "eventlog")
        self.traces = os.path.join(self.base, "traces")

    def reset(self) -> None:
        for d in (self.work, self.tmp, self.eventlog):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        os.makedirs(self.traces, exist_ok=True)

    def clean(self) -> None:
        for d in (self.work, self.tmp, self.eventlog):
            shutil.rmtree(d, ignore_errors=True)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def prepare_env(root: str, dirs: RunDirs, trace: bool) -> str:
    """Environment for the JVM and Python workers this run starts. The event
    log is switched on here, for the traced run only, not in the program."""
    run_id = uuid.uuid4().hex
    os.environ[MARK] = run_id
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = dirs.tmp
    os.environ["SPARK_LOCAL_DIRS"] = dirs.tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    conf = [f"--driver-java-options '-Djava.io.tmpdir={dirs.tmp} -XX:-UsePerfData'"]
    if trace:
        conf += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{dirs.eventlog}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    return run_id


def start_spark(cpus: int, app: str):
    from searchengine_spark.session import get_spark

    spark = get_spark(app, master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _marked_pids(run_id: str) -> list[int]:
    me = os.getpid()
    out = []
    needle = f"{MARK}={run_id}".encode()
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if needle in f.read():
                    out.append(int(name))
        except OSError:
            continue
    return out


def reap(run_id: str, timeout: float = 20.0) -> None:
    """Wait for every process this run started (JVM, Python workers) to end;
    terminate stragglers after ``timeout``."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not _marked_pids(run_id):
            return
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _marked_pids(run_id):
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(1.0)


def cpu_seconds(run_id: str) -> float:
    """User + system CPU seconds so far of this process and every process it
    started (the JVM's threads and the Python workers included)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _marked_pids(run_id) + [os.getpid()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


class RssSampler:
    """Peak summed RSS of this process and every process it started."""

    def __init__(self, run_id: str, period: float = 1.0) -> None:
        self.run_id = run_id
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in _marked_pids(self.run_id) + [os.getpid()]:
                try:
                    with open(f"/proc/{pid}/status") as f:
                        for line in f:
                            if line.startswith("VmRSS:"):
                                total += int(line.split()[1])
                except OSError:
                    continue
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class EventLog:
    """Task and job records of one application's Spark event log."""

    def __init__(self, path: str) -> None:
        self.tasks: list[dict] = []
        self.jobs: list[float] = []  # submission times, epoch seconds
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "getting_result": (info.get("Getting Result Time") or 0) / 1000.0,
                        "run": m.get("Executor Run Time", 0) / 1000.0,
                        "deser": m.get("Executor Deserialize Time", 0) / 1000.0,
                        "ser": m.get("Result Serialization Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    })
                elif kind == "SparkListenerJobStart":
                    self.jobs.append(ev["Submission Time"] / 1000.0)

    @classmethod
    def find(cls, eventlog_dir: str, app_id: str) -> "EventLog":
        for name in os.listdir(eventlog_dir):
            if name.startswith(app_id):
                return cls(os.path.join(eventlog_dir, name))
        raise FileNotFoundError(f"no event log for {app_id} in {eventlog_dir}")

    def windows(self, spans: list[tuple[float, float]]) -> list[dict]:
        return [t for t in self.tasks if any(a <= t["launch"] <= b for a, b in spans)]

    def jobs_in(self, t0: float, t1: float) -> int:
        return sum(1 for j in self.jobs if t0 <= j <= t1)

    def summary(self, spans: list[tuple[float, float]], cpus: int,
                cpu_s: float) -> dict[str, float]:
        """Figures for the tasks launched inside the timed windows ``spans``;
        ``cpu_s`` is the CPU time all run processes used in them (from
        /proc: the event log's executor CPU time omits the Python workers)."""
        tasks = self.windows(spans)
        wall = sum(b - a for a, b in spans)
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run"])
        skews = [
            max(runs) / statistics.fmean(runs)
            for runs in by_stage.values()
            if len(runs) >= 2 and statistics.fmean(runs) > 0
        ]
        delay = sum(
            max(0.0, (t["finish"] - t["launch"]) - t["run"] - t["deser"] - t["ser"]
                - (t["finish"] - t["getting_result"] if t["getting_result"] else 0.0))
            for t in tasks
        )
        return {
            "spark.tasks": len(tasks),
            "spark.executor_run_s": sum(t["run"] for t in tasks),
            "spark.cpu_util": cpu_s / max(1e-9, wall * cpus),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.task_skew": statistics.median(skews) if skews else 1.0,
            "spark.scheduler_delay_s": delay,
        }
