"""Hermetic run environment: one temp root, the Spark session, and the
process-level measurements (peak RSS, the md5 weather probe).

Everything the run writes (inputs, pipeline outputs, warehouse, Spark
local dirs, JVM temp files, event log, the shipped package zip) lives
under one directory inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
import zipfile
from typing import Dict, List, Optional

PACKAGE = "arabicner_spark"


class RunRoot:
    """A temp directory under ``<checkout>/.perfbench_tmp``, removed on close."""

    def __init__(self, checkout: str):
        base = os.path.join(checkout, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=base)
        self._base = base

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self._base)  # only when no other run is using it
        except OSError:
            pass


def package_zip(checkout: str, root: RunRoot) -> str:
    """Zip a temp copy of the package for the Python workers.

    Copying first means the zip reflects one consistent snapshot of the
    sources, and nothing inside the package directory is written.
    """
    copy = os.path.join(root.sub("pkg"), PACKAGE)
    shutil.copytree(
        os.path.join(checkout, PACKAGE),
        copy,
        ignore=shutil.ignore_patterns("__pycache__", "*.pyc"),
    )
    zip_path = os.path.join(root.path, f"{PACKAGE}.zip")
    base = os.path.dirname(copy)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(copy):
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    z.write(p, os.path.relpath(p, base))
    return zip_path


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(checkout: str, root: RunRoot, event_log: bool):
    """local[nproc] session sized for a small box; all scratch in ``root``."""
    n = cores()
    local = root.sub("local")
    jtmp = root.sub("jtmp")
    # SPARK_LOCAL_DIRS overrides spark.local.dir; the JVM inherits env
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = jtmp
    tempfile.tempdir = jtmp
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # -XX:-UsePerfData: otherwise the JVM writes /tmp/hsperfdata_<user>,
        # outside the run root
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", root.sub("warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", root.sub("events"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(package_zip(checkout, root))
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def event_log_file(root: RunRoot) -> Optional[str]:
    d = os.path.join(root.path, "events")
    if not os.path.isdir(d):
        return None
    files = [os.path.join(d, f) for f in os.listdir(d)]
    return max(files, key=os.path.getsize) if files else None


# ------------------------------------------------------------------ RSS


def _children() -> Dict[int, list]:
    kids: Dict[int, list] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree() -> List[int]:
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process and its
    descendants: this process, the JVM and the Python workers."""
    return sum(_hwm_kb(pid) for pid in _tree()) / 1024.0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and the Python workers), reaped children included."""
    return sum(_cpu_ticks(pid) for pid in _tree()) / os.sysconf("SC_CLK_TCK")


def reset_tree_peak_rss() -> None:
    """Reset VmHWM to the current RSS for the whole tree, so the next
    ``tree_peak_rss_mb`` covers only what ran in between."""
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


# -------------------------------------------------------------- weather


def cpu_times() -> List[int]:
    """Aggregate jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: List[int], after: List[int]) -> float:
    """Share of CPU time the hypervisor took between two ``cpu_times``."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0

_PROBE_BUF = bytes(range(256)) * (1 << 14)  # 4 MiB


def md5_probe_s(rounds: int = 24) -> float:
    """Fixed single-core md5 work: the run's weather control."""
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(rounds):
        h.update(_PROBE_BUF)
    h.hexdigest()
    return time.perf_counter() - t0
