"""The benchmark's process tree: CPU time, memory, host steal and clean
shutdown.  Reads /proc only (Linux)."""

from __future__ import annotations

import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def confine(work: str) -> None:
    """Point every scratch path of this process and the JVMs and Python
    workers it starts (temp files, Spark local dirs, JVM perf data) at
    `work`, so a run writes nothing outside it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                pass  # exited while we looked
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants,
    including children they have reaped (Python workers that exited).
    The guest kernel charges no stolen time, so host contention moves
    this far less than wall time."""
    ticks = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            f = _stat_fields(p)
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / CLK_TCK


def tree_rss_mb() -> float:
    total = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total / 2**20


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled every 100 ms while running."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._halt.wait(0.1)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return max(self.peak, tree_rss_mb())


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    spawned = set(descendants(os.getpid()))
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while alive := {p for p in spawned if _alive(p)}:
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.1)
        while True:  # reap any child that exited meanwhile
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
