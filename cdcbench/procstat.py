"""CPU and resident memory of a process tree, read from ``/proc``.

The Spark driver here is one Python process that launches one JVM, which
in turn forks the Python worker daemon and its workers. Spark's own
``executorCpuTime`` counts JVM task threads only, so CPU spent decoding
and folding inside Python workers would be invisible to it; reading
``/proc`` from outside covers every process of the tree. ``psutil`` is
not assumed to be installed.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
# seconds between resident-memory readings. One reading of the tree costs
# about 50 ms of CPU with a 3 GB JVM, most of it the kernel walking the
# JVM's page tables for smaps_rollup. The JVM and the Python workers
# seldom hand memory back, so their resident size climbs to its peak and
# stays there, and a reading a second loses little of the peak.
INTERVAL = 1.0
# names the JVM gives its JIT compiler threads, cut to 15 bytes by the kernel
_COMPILER_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _read_stat(pid: int):
    """``(ppid, cpu_ticks)`` of one process, or None if gone.

    ``cpu_ticks`` adds the process's own user+system time and that of its
    reaped children, so a worker that exited and was waited for still
    counts, once, through its parent."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the
    # LAST ')' and count fields from there (field 3 of proc(5) is f[0])
    f = raw[raw.rindex(b")") + 2:].split()
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), ticks


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2:][:1] != b"Z"


def tree_parents(root: int) -> dict:
    """``{pid: parent pid}`` of ``root`` and every live descendant."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        out[pid] = parent
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def tree_pids(root: int) -> list:
    """``root`` and every live descendant of it."""
    return list(tree_parents(root))


def _exe(pid) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


class ProcessTree:
    """CPU seconds and peak resident memory of this process and its
    descendants.

    ``cpu_s()`` is a point reading; callers take differences around the
    region they time. It leaves out two kinds of thread:

    * the JVM's JIT compiler threads, whose CPU ``jit_cpu_s()`` reports
      apart: the JVM is still compiling through the timed applies, and
      how much it compiles in a run varies more than the applies' own
      work;
    * the memory sampler's thread: it is the benchmark's cost, not the
      program's.

    ``start()`` runs that daemon thread: it reads the tree's resident
    memory every ``INTERVAL`` seconds, keeps the maximum, and reads the
    compiler threads' CPU, so that one which ends between two ``cpu_s()``
    calls is still counted up to its last second."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss_bytes = 0
        self.sampler_cpu_s = 0.0
        self._jit_ticks: dict = {}  # (pid, tid) -> CPU ticks at last reading
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = None

    def pids(self) -> list:
        return tree_pids(self.root)

    def cpu_s(self) -> float:
        pids = self.pids()
        total = 0
        for pid in pids:
            st = _read_stat(pid)
            if st is not None:
                total += st[1]
        return (total - self._jit(pids)) / _CLK - self.sampler_cpu_s

    def jit_cpu_s(self) -> float:
        return self._jit(self.pids()) / _CLK

    def _jit(self, pids) -> int:
        """CPU ticks of every JIT compiler thread seen so far; a thread
        that has ended counts with its last reading. The JVM ends an idle
        compiler thread, so little of its CPU falls after that reading."""
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm", "rb") as f:
                        if not f.read().startswith(_COMPILER_THREADS):
                            continue
                    with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                        raw = f.read()
                except OSError:
                    continue  # the thread ended between listing and reading
                f = raw[raw.rindex(b")") + 2:].split()
                ticks = int(f[11]) + int(f[12])
                with self._lock:
                    key = (pid, tid)
                    self._jit_ticks[key] = max(ticks,
                                               self._jit_ticks.get(key, 0))
        with self._lock:
            return sum(self._jit_ticks.values())

    def rss_bytes(self) -> int:
        """Resident memory of the tree: the sum of each process's
        proportional set size, which splits a page shared by several
        processes among them. Summing plain RSS would count shared pages
        once per sharer: the forked Python workers share their imports
        with the daemon.

        A process that still runs the JVM's binary under the JVM is left
        out. The JVM runs ``chmod`` for Hadoop's local file system many
        times per apply, through ``posix_spawn``. Until the child execs, it
        shares the JVM's address space, so its ``/proc`` entry shows all
        of the JVM's memory, proportional set size included, and a reading
        that catches one counts the JVM twice."""
        parents = tree_parents(self.root)
        exes = {pid: _exe(pid) for pid in parents}
        total = 0
        for pid, parent in parents.items():
            exe = exes[pid]
            if (exe is not None and os.path.basename(exe) == "java"
                    and exe == exes.get(parent)):
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass  # the process ended between listing and reading
        return total

    def _sample(self):
        while not self._stop.wait(INTERVAL):
            self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())
            self._jit(self.pids())
            self.sampler_cpu_s = time.thread_time()

    def start(self):
        """Start sampling. Call once per tree."""
        self.peak_rss_bytes = self.rss_bytes()
        self._thread = threading.Thread(target=self._sample, daemon=True,
                                        name="procstat-sampler")
        self._thread.start()

    def stop(self):
        """Stop sampling, after one last reading."""
        if self._thread is None:
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self._thread = None
        self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())
