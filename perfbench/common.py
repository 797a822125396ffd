"""Shared plumbing: run directories, environment, process-tree sampling
and clean shutdown of every process a run starts."""

from __future__ import annotations

import bisect
import os
import shutil
import signal
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.dirname(os.path.abspath(__file__))

# Pinned for every run and recorded in its details line.  The engine's
# default driver heap (16g) exceeds a 15 GiB host.
SPARK_CPUS = "2"
SPARK_DRIVER_MEM = "4g"
_CLK = os.sysconf("SC_CLK_TCK")


def make_run_dir(workload: str, seed: int) -> str:
    path = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def run_env(run_dir: str) -> dict[str, str]:
    """Environment for the program under test.

    ``TMPDIR`` keeps the CLI's ``klss-spool-*`` directory (which it never
    deletes) and Spark's scratch inside the run directory; ``PYTHONPATH``
    lets Python workers started outside the checkout root import the
    package; the AWS settings point boto3 at nothing but the local
    endpoint and never at instance metadata."""
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # One processor's worth of JVM helper threads and the serial
        # collector: no GC or JIT threads spinning beside the two task
        # threads.  Paired runs spent about 10% less CPU per record than
        # with two processors and G1, and moved less under steal.
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              "-XX:ActiveProcessorCount=1 -XX:+UseSerialGC"),
        "SPARK_GRAFT_CPUS": SPARK_CPUS,
        "SPARK_GRAFT_DRIVER_MEM": SPARK_DRIVER_MEM,
        "AWS_ACCESS_KEY_ID": "testing",
        "AWS_SECRET_ACCESS_KEY": "testing",
        "AWS_DEFAULT_REGION": "us-east-1",
        "AWS_EC2_METADATA_DISABLED": "true",
        "AWS_CONFIG_FILE": os.path.join(run_dir, "aws-config"),
        "AWS_SHARED_CREDENTIALS_FILE": os.path.join(run_dir, "aws-credentials"),
        "PYTHONWARNINGS": "ignore",
    })
    return env




def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, CPU jiffies of it and its reaped children) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    if rest[0] in ("Z", "X"):
        return None  # exited, not yet reaped
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _pss_kib(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> set[int]:
    parents = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            st = _stat(int(ent))
            if st is not None:
                parents[int(ent)] = st[0]
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


class TreeSampler:
    """Samples this process's tree every ``period_s``: the peak summed PSS
    of the subtree under test, and per-process CPU for the whole tree.

    ``external_cpu_s`` is host busy CPU over the sampled window minus this
    tree's own CPU: what neighbours used while the run measured.  A
    process's CPU counts its reaped children (as ``bench.py`` counts it);
    a process that ended while its parent lives is counted by that parent,
    so only its orphaned relatives (the JVM of an exited CLI) keep their
    own last sample."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.target: int | None = None
        self.target_tree: set[int] = set()  # every pid seen under target
        self.peak_pss_kib = 0
        # (time, CPU seconds of the subtree under test), one per sample
        self.series: list[tuple[float, float]] = []
        self._cpu_first: dict[int, int] = {}
        self._cpu_last: dict[int, int] = {}
        self._ppid: dict[int, int] = {}
        self._alive: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        from bench import _total_busy_jiffies

        self._busy = _total_busy_jiffies
        self._host0 = _total_busy_jiffies()
        self._sample()
        # processes alive now count from here; later ones from birth
        self._cpu_first = dict(self._cpu_last)
        self._thread.start()

    def _sample(self) -> None:
        tree = descendants(os.getpid())
        under_test = descendants(self.target) if self.target else set()
        self.target_tree |= under_test
        self._alive = set()
        for pid in tree:
            st = _stat(pid)
            if st is None:
                continue
            self._alive.add(pid)
            self._ppid[pid] = st[0]
            self._cpu_last[pid] = st[1]
        if self.target:
            self.series.append((time.time(), sum(
                self._cpu_last[p] for p in under_test & self._alive) / _CLK))
        pss = sum(_pss_kib(pid) for pid in under_test)
        self.peak_pss_kib = max(self.peak_pss_kib, pss)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        host = self._busy() - self._host0
        own = sum(v - self._cpu_first.get(p, 0) for p, v in self._cpu_last.items()
                  if p in self._alive or self._ppid[p] not in self._alive)
        return {
            "peak_pss_mb": self.peak_pss_kib / 1024,
            "external_cpu_s": max(host - own, 0) / _CLK,
        }


def cpu_at(series: list[tuple[float, float]], t: float) -> float:
    """CPU seconds at time ``t``, read linearly between the two samples
    of ``series`` around it."""
    i = bisect.bisect_left(series, (t,))
    if i == 0:
        return series[0][1]
    if i == len(series):
        return series[-1][1]
    (ta, ca), (tb, cb) = series[i - 1], series[i]
    return ca + (cb - ca) * (t - ta) / (tb - ta) if tb > ta else cb


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every live process under it.  Time the scheduler gave to other
    processes is not in it."""
    return sum(st[1] for st in map(_stat, descendants(root)) if st) / _CLK


def cpu_seconds(pid: int) -> float:
    st = _stat(pid)
    return st[1] / _CLK if st else 0.0


def reap_tree(pids: set[int], timeout_s: float = 20.0) -> None:
    """Wait until every pid in ``pids`` has exited (an exiting CLI leaves
    its JVM to notice the closed pipe); kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = {p for p in pids if _stat(p) is not None}
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = {p for p in alive if _stat(p) is not None}
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while alive and time.monotonic() < deadline + 5:
        time.sleep(0.1)
        alive = {p for p in alive if _stat(p) is not None}
