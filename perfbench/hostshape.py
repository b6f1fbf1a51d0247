"""Host shape, process-tree accounting and checkout hygiene for the benchmark.

Everything here reads ``/proc`` or runs ``git``; nothing imports Spark, so
the launcher can derive the session's environment before the JVM exists.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096

#: directories a run may leave under the checkout: interpreter bytecode and
#: the engine's native build cache (both named in the root ``.gitignore``),
#: plus the benchmark's own scratch root, which a run empties at exit
TREE_EXCLUDES = ("__pycache__", ".build", ".perfbench_tmp", ".git")


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory_mb(mem_total: int) -> int:
    """An eighth of host memory, between 1 GiB and 8 GiB: local mode runs
    the whole engine in the driver JVM, the benchmark's inputs are small,
    and the host is shared with the Python workers and the DuckDB checks."""
    return max(1024, min(8192, mem_total // (8 * 1024 * 1024)))


def session_env(scratch: str, checkout: str) -> dict[str, str]:
    """Environment the engine's ``get_spark`` reads, derived from this host."""
    cpus = cpu_count()
    local = os.path.join(scratch, "spark-local")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_memory_mb(mem_total_bytes())}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the engine from the checkout
        "PYTHONPATH": checkout + (os.pathsep + path if path else ""),
    }


def proc_forks() -> int:
    """Processes created on this host since boot (``/proc/stat processes``)."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def steal_seconds() -> float:
    """CPU seconds since boot that the hypervisor ran other guests while this
    one had work (``/proc/stat`` steal), over all CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Live descendant pids of ``root`` (default: this process)."""
    kids = _children_map()
    out, stack = [], list(kids.get(root or os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid(), *descendants()]
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def reap(pids: list[int], timeout: float = 20.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGTERM then SIGKILL what outlives
    ``timeout``. Returns the pids that had to be killed."""
    def alive() -> list[int]:
        out = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    state = fh.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                out.append(p)
        return out

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    killed = alive()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in alive():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 3
        while alive() and time.monotonic() < end:
            time.sleep(0.1)
    return killed


def _git(checkout: str, *args: str) -> str | None:
    try:
        return subprocess.run(
            ["git", *args], cwd=checkout, capture_output=True, text=True, timeout=30, check=True
        ).stdout
    except (OSError, subprocess.SubprocessError):
        return None


def engine_commit(checkout: str) -> tuple[str | None, bool | None]:
    """(HEAD sha, engine tree dirty?) — (None, None) outside a git checkout."""
    sha = _git(checkout, "rev-parse", "HEAD")
    if sha is None:
        return None, None
    status = _git(checkout, "status", "--porcelain", "--", "stellar_etl_airflow_spark")
    return sha.strip(), bool(status and status.strip())


def tree_state(checkout: str) -> object:
    """A fingerprint of the checkout that any write by a run would change:
    ``git status --porcelain`` in a git checkout, else every file's size and
    mtime outside the excluded build/scratch directories."""
    status = _git(checkout, "status", "--porcelain")
    if status is not None:
        return status
    out = {}
    for dirpath, dirnames, filenames in os.walk(checkout):
        dirnames[:] = [d for d in dirnames if d not in TREE_EXCLUDES]
        for f in filenames:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out[os.path.relpath(p, checkout)] = (st.st_size, st.st_mtime_ns)
    return out
