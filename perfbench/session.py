"""Spark session sized from the machine, the environment record, and
process memory readings."""

import os
import platform
import resource
import subprocess
import sys


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb(key: str) -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def driver_memory_mb() -> int:
    """A sixth of physical memory, between 1 and 4 GiB: the box is shared,
    and the driver holds only small tables here."""
    return max(1024, min(4096, _meminfo_mb("MemTotal") // 6))


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                             capture_output=True, text=True, timeout=30,
                             check=False)
    except (OSError, subprocess.TimeoutExpired) as exc:
        return f"unavailable: {exc}"
    lines = [ln for ln in (out.stderr or out.stdout).splitlines()
             if ln and not ln.startswith("Picked up")]
    return lines[0] if lines else "unknown"


def cpu_ticks() -> dict:
    """Seconds of CPU time the whole machine spent busy and stolen by the
    host since boot (/proc/stat)."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy_s": (f[0] + f[1] + f[2] + f[5] + f[6]) / hz,
            "steal_s": (f[7] if len(f) > 7 else 0) / hz}


def environment(work_dir: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cpu_count(),
        "mem_total_mb": _meminfo_mb("MemTotal"),
        "mem_available_mb": _meminfo_mb("MemAvailable"),
        "loadavg_start": os.getloadavg(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "master": f"local[{cpu_count()}]",
        "driver_memory_mb": driver_memory_mb(),
        "work_dir": os.path.relpath(work_dir),
    }


def child_env(work_dir: str) -> None:
    """Keep the JVM, its launcher and the Python workers writing inside
    the work directory, and give every Python process this interpreter."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start(work_dir: str, event_log_dir=None):
    """Build (or rebuild, in the same JVM) the session. With
    ``event_log_dir`` Spark writes an uncompressed, unrolled event log
    there."""
    from pyspark.sql import SparkSession

    n = cpu_count()
    b = (SparkSession.builder.master(f"local[{n}]")
         .appName("qbeast-perfbench")
         .config("spark.driver.memory", f"{driver_memory_mb()}m")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.default.parallelism", str(n))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work_dir, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work_dir, "wh"))
         .config("spark.eventLog.enabled", str(event_log_dir is not None)
                 .lower()))
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def driver_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def process_rss_mb() -> dict:
    """Peak RSS of the JVM and of every Python worker process under it."""
    pid = jvm_pid()
    if pid is None:
        return {"jvm_rss_mb": 0.0, "py_rss_mb": 0.0}
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    workers, todo = 0.0, list(children.get(pid, []))
    while todo:
        p = todo.pop()
        workers += _peak_rss_mb(p)
        todo.extend(children.get(p, []))
    return {"jvm_rss_mb": _peak_rss_mb(pid), "py_rss_mb": workers}
