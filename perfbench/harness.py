"""What every workload shares: the work directory, the Spark
environment, peak-RSS sampling, and the report the runner prints."""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from stats import median, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class RunConfig:
    workload: str
    seed: int
    seconds: float
    trace: bool
    heap: str
    memory_fraction: str
    work_dir: str = ""


@dataclass
class Report:
    """One run's outcome. ``e2e`` holds the contract's end-to-end
    metrics and ``detail`` the workload's own figures (per-type
    latencies, tail percentiles, leak report), as (value, unit) pairs
    where a value has a unit; ``layers`` holds the per-layer values,
    whose units ``layers.all_metrics`` registers."""
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, tuple] = field(default_factory=dict)
    detail: dict[str, object] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, message: str) -> None:
        if not ok:
            self.errors.append(message)

    def latency(self, prefix: str, samples_s: list[float]) -> None:
        """``<prefix>_p50_ms`` and ``<prefix>_tail_ms`` into ``detail``,
        with the tail's percentile and sample count."""
        if not samples_s:
            self.detail[f"{prefix}_n"] = 0
            return
        ms = [s * 1e3 for s in samples_s]
        t = tail(ms)
        self.detail[f"{prefix}_p50_ms"] = (median(ms), "ms")
        self.detail[f"{prefix}_tail_ms"] = (t["value"], "ms")
        self.detail[f"{prefix}_tail_pct"] = t["percentile"]
        self.detail[f"{prefix}_n"] = t["n"]


def prepare_env(cfg: RunConfig) -> None:
    """Pin the Spark regime and keep every file the run writes inside
    the work directory. Must run before the JVM starts: the Python
    workers inherit this environment, which puts the repository on
    their import path."""
    os.makedirs(cfg.work_dir, exist_ok=True)
    tmp = os.path.join(cfg.work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": cfg.heap,
        "SPARK_GRAFT_MEMORY_FRACTION": cfg.memory_fraction,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    })
    # the JVM's scratch (java.io.tmpdir, the catalog warehouse) stays in
    # the work directory too
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{cfg.heap}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(cfg.work_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")


def remove_work_dir(cfg: RunConfig) -> None:
    shutil.rmtree(cfg.work_dir, ignore_errors=True)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it, so a sum over the Python workers
    the daemon forks counts their shared pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and all
    its descendants (the JVM and its Python workers) from /proc between
    ``start`` and ``stop``. A workload starts it after generating its
    inputs and stops it before checking outputs, so the benchmark's own
    work stays out of the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        kids = _proc_children()
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self) -> None:
        pids = self._tree()
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        """Take a last sample and end the sampling; a second call, or a
        call before ``start``, does nothing."""
        if not self._thread.is_alive():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def in_parallel(calls) -> list:
    """Run zero-argument callables on up to one thread per core and
    return their results in order; the first exception is raised after
    every call has ended. Used for warmup
    work, where Spark's driver-side planning and code generation would
    otherwise leave cores idle."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=cores()) as pool:
        futures = [pool.submit(c) for c in calls]
    return [f.result() for f in futures]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class SetupClock:
    """Set-up time: from ``start`` (after input generation) to ``stop``
    (after seeding and the warmup pass)."""

    def __init__(self):
        self.t0 = self.t1 = None
        self.phases: dict[str, float] = {}
        self._last = None

    def start(self) -> None:
        self.t0 = self._last = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current set-up phase under ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._last
        self._last = now

    def stop(self, name: str = "warmup") -> None:
        self.phase(name)
        self.t1 = self._last

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0
