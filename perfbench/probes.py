"""Host and process probes that sit beside the timed passes.

* ``calib_ms`` — a fixed pure-Python loop. Its time tracks how fast the
  host is running right now; it is recorded next to every pass and never
  used to adjust a metric.
* ``RssSampler`` — peak resident memory of the JVM and of the Spark
  Python workers, read from ``/proc`` by a background thread.
* ``code_rev`` — the git revision of the checkout plus a dirty flag, or a
  hash of the engine sources where the checkout is not a git repository.
* ``spark_jobs`` / ``spark_tasks`` — job and task counts read from the
  SparkContext status tracker.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import threading
import time

CALIB_LOOP = 150_000


def calib_ms(reps: int = 5) -> float:
    """Median wall ms of a fixed pure-Python loop."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(CALIB_LOOP):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def spread(values: list[float]) -> float:
    """Interquartile range over median (0 for fewer than two values)."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def code_rev(root: str) -> dict:
    """{"rev": <HEAD sha or src-<hash>>, "dirty": bool | None}. The git
    search stops at ``root`` so a checkout without ``.git`` never picks up
    an enclosing repository."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env,
                              capture_output=True, text=True, timeout=10)
        if head.returncode == 0:
            status = subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=no"],
                cwd=root, env=env, capture_output=True, text=True, timeout=10)
            return {"rev": head.stdout.strip(), "dirty": bool(status.stdout.strip())}
    except (OSError, subprocess.TimeoutExpired):
        pass
    digest = hashlib.sha1()
    pkg = os.path.join(root, "ocr_award_extractor_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as fh:
                    digest.update(fn.encode() + fh.read())
    return {"rev": "src-" + digest.hexdigest()[:12], "dirty": None}


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


class RssSampler:
    """Polls /proc every ``interval`` s for the peak resident set (VmHWM) of
    the JVM and of the largest ``pyspark.daemon`` process below it (the
    daemon and the workers it forks). Other children of the JVM are
    skipped: a child caught between spawn and exec still shows the JVM's
    own memory and command line. Keeps the peaks."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.jvm_peak_kb = 0
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children()
        todo = list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            if _is_python_worker(pid):
                self.workers_peak_kb = max(self.workers_peak_kb, _status_kb(pid, "VmHWM:"))
        self.jvm_peak_kb = max(self.jvm_peak_kb, _status_kb(self.jvm_pid, "VmHWM:"))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def spark_jobs(sc) -> set[int]:
    """Ids of the jobs the status tracker knows (all run without a group)."""
    return set(sc.statusTracker().getJobIdsForGroup())


def spark_tasks(sc, job_ids) -> int:
    """Tasks completed by the given jobs' stages."""
    tracker, n = sc.statusTracker(), 0
    for job in job_ids:
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else ()):
            st = tracker.getStageInfo(stage)
            n += st.numCompletedTasks if st else 0
    return n
