"""Host facts, the session the benchmark runs on, and /proc accounting.

Everything the benchmark's processes write goes under one work directory
inside the checkout: Spark's local dirs, the JVM's and Python's temp
files and the event log.
"""

from __future__ import annotations

import os
import platform
import sys
import threading
import time

import pyarrow
import pyspark
from pyspark import SparkContext

from opencv_table_extraction_spark.session import build_session

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_facts() -> dict:
    """nproc, physical RAM, CPU model and the library versions."""
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": _meminfo_mb("MemTotal"),
        "cpu_model": model,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
    }


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def session_confs(work: str, facts: dict, eventlog_dir: str | None) -> dict[str, str]:
    """Confs sized from the host: one task slot per core, and an eighth
    of physical RAM for the driver heap (local mode runs every task
    there). The heap is kept well under RAM because the Python workers
    and the page cache need the rest. It is committed and touched in
    full at JVM start (-Xms = -Xmx, AlwaysPreTouch): a heap that grows
    on demand reaches a different size in every run, as the collector's
    timing decides, and that would set the process tree's peak RSS.

    The JVM compiles with C1 only (-XX:TieredStopAtLevel=1). With the
    default tiered C2, the optimizing compiler works through Spark's code
    for the first minutes of every JVM: on a 4-core host its threads take
    cores from the tasks, a pass keeps getting faster for 10+ passes on
    dedup, and how far it has got depends on how much CPU other tenants
    of the host leave it, so the same code read 4.7-6.7 s a dedup pass in
    different runs. With C1 alone the JVM is warm after one pass and
    passes repeat within a few percent (NOTES.md, Host awareness)."""
    n = facts["nproc"]
    heap = f"{max(1024, facts['ram_mb'] // 8)}m"
    confs = {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(n),
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": (f"-Xms{heap} -XX:+AlwaysPreTouch"
                                          " -XX:TieredStopAtLevel=1"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = eventlog_dir
    return confs


def reference_job(spark, rows: int) -> int:
    """A fixed Spark job that runs no code of the package: Spark's own
    range and sha2 over ``rows`` ids, a zlib map in the Python workers
    over Arrow, and a global sum. It has the parts of a workload pass (JVM
    stages, the Arrow hand-off to the Python workers and back, an
    exchange, a result on the driver), so other tenants of the host slow
    it the way they slow a pass; the benchmark times it between passes to
    measure the host's speed at that moment. Returns the sum, which
    depends on ``rows`` only (``REF_SUMS``)."""

    def compressed_sizes(batches):
        import zlib

        import pyarrow as pa

        for b in batches:
            n = sum(len(zlib.compress(h.encode() * 8, 6))
                    for h in b.column(1).to_pylist())
            yield pa.RecordBatch.from_pydict({"n": [n]})

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ids = spark.range(0, rows, numPartitions=parts).selectExpr(
        "id", "sha2(cast(id as string), 256) as h")
    return ids.mapInArrow(compressed_sizes, "n long").groupBy().sum("n").collect()[0][0]


def reference_sum(rows: int) -> int:
    """What ``reference_job`` returns, computed without Spark."""
    import hashlib
    import zlib

    return sum(len(zlib.compress(hashlib.sha256(str(i).encode()).hexdigest().encode() * 8, 6))
               for i in range(rows))


# reference_sum of the sizes the workloads use (a test recomputes them)
REF_SUMS = {40000: 2650867, 160000: 10603052}


def confine_to(work: str, repo_root: str) -> None:
    """Point every temp location of this process and its children
    (JVM, Python workers) into ``work``; workers import the package
    from ``repo_root``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    # -XX:-UsePerfData: no hsperfdata directory under the system /tmp;
    # JAVA_TOOL_OPTIONS reaches the spark-submit launcher JVM as well
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(confs: dict[str, str]):
    """Start (or restart, in the running JVM) the session with ``confs``."""
    extra = {k: v for k, v in confs.items() if k not in ("spark.master",
                                                         "spark.sql.shuffle.partitions")}
    return build_session(
        "perfbench",
        master=confs["spark.master"],
        shuffle_partitions=int(confs["spark.sql.shuffle.partitions"]),
        extra_confs=extra,
    )


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the py4j gateway JVM and wait for it (and the Python worker
    daemon it owns) to exit."""
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout_s)
    reap_descendants(timeout_s)


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat. Steal
    is time the hypervisor gave this VM's CPUs to another guest: the
    share of it during a pass says how contended the host was."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def descendants(root: int) -> list[int]:
    seen: list[int] = []
    stack = [root]
    while stack:
        p = stack.pop()
        for c in _children(p):
            seen.append(c)
            stack.append(c)
    return seen


def reap_descendants(timeout_s: float) -> None:
    """Wait until no process started by this one is left; kill stragglers."""
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(me):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while descendants(me) and time.monotonic() < deadline + 10:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _stat(pid: int) -> tuple[str, float, int] | None:
    """(kind, cpu seconds incl. reaped children, rss bytes) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[11..14] = utime stime cutime cstime, fields[21] = rss pages
    cpu = sum(int(v) for v in fields[11:15]) / _CLK_TCK
    kind = "jvm" if comm == "java" else "python"
    rss = int(fields[21]) * _PAGE
    if kind == "python" and _exe_name(pid) == "java":
        # a child the JVM forked and has not yet exec'd (it carries the
        # forking thread's name, e.g. for a chmod): it shares the JVM's
        # pages, so its RSS would count the JVM twice
        kind, rss = "jvm", 0
    return kind, cpu, rss


def _exe_name(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


class ProcTree:
    """CPU and resident memory of this process and all its descendants
    (the JVM, the Python worker daemon and its forked workers).

    ``cpu()`` sums utime+stime+cutime+cstime, so workers that exit and are
    reaped by a process in the tree keep counting. Used as a context
    manager, it polls the summed RSS in a thread while the block runs and
    keeps the peak in ``peak_rss``.
    """

    POLL_S = 0.05

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far by kind: jvm, python workers, driver."""
        out = {"jvm": 0.0, "python": 0.0, "driver": 0.0}
        me = _stat(self.root)
        if me is not None:
            out["driver"] = me[1]
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is not None:
                out[st[0]] += st[1]
        return out

    def rss(self) -> int:
        total = 0
        for pid in [self.root, *descendants(self.root)]:
            st = _stat(pid)
            if st is not None:
                total += st[2]
        return total

    def _poll(self) -> None:
        while not self._stop.wait(self.POLL_S):
            self.peak_rss = max(self.peak_rss, self.rss())

    def __enter__(self) -> "ProcTree":
        self.peak_rss = self.rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_rss = max(self.peak_rss, self.rss())
