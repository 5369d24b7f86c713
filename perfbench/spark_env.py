"""Spark session lifecycle and outside-in process probes for the benchmark.

The session config is ``bench.py``'s, except for the core count
(``local[4]``), ``spark.driver.memory`` sized for a 4-core, 15 GB box, no
console progress bar, and every temp path (Spark local dirs, the JVM temp
dir, Python's temp dir) pointed inside ``perfbench/.work`` so a run reads
and writes only inside its checkout.

``start`` launches a fresh JVM unless one is still running; ``stop`` ends
the session, closes the py4j gateway so the JVM exits, and waits until the
JVM and every Python worker it forked have ended.
"""

from __future__ import annotations

import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(HERE, ".work")
TMP_DIR = os.path.join(WORK_DIR, "tmp")
EVENT_LOG_DIR = os.path.join(WORK_DIR, "eventlog")
DRIVER_MEMORY = "4g"
_JAVA_OPTS = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP_DIR}"


def prepare_env() -> None:
    """Point every temp dir of this process and its children at TMP_DIR.
    Must run before the first JVM launch (the launcher reads these)."""
    os.makedirs(TMP_DIR, exist_ok=True)
    os.environ["TMPDIR"] = TMP_DIR
    os.environ["SPARK_LOCAL_DIRS"] = TMP_DIR
    # the spark-submit launcher JVM, which runs before the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = _JAVA_OPTS
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def cpu_control_mops(n_iters: int = 3_000_000) -> float:
    """``bench.py``'s single-core LCG control loop (Mops/s), shortened: a
    same-window proxy for the box's single-thread speed."""
    x = 123456789
    t0 = time.perf_counter()
    for _ in range(n_iters):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFFFFFF
    return n_iters / 1e6 / (time.perf_counter() - t0)


def start(cores: int = 4, event_log: bool = False):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("fast_pdf_parser_spark_perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", _JAVA_OPTS)
    )
    # set both ways: a second session in the same JVM inherits the first
    # session's launch conf unless told otherwise
    builder = builder.config("spark.eventLog.enabled", str(event_log).lower())
    if event_log:
        os.makedirs(EVENT_LOG_DIR, exist_ok=True)
        builder = (builder.config("spark.eventLog.dir", EVENT_LOG_DIR)
                   .config("spark.eventLog.rolling.enabled", "false")
                   .config("spark.eventLog.compress", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the comm field may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """The process's ``VmHWM`` (peak resident set) in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def worker_peak_rss_mb(spark) -> float:
    """Max ``VmHWM`` across the JVM's Python worker processes."""
    return max((peak_rss_mb(p) for p in descendants(jvm_pid(spark))),
               default=0.0)


def hygiene(spark) -> dict:
    """Outside-in session state: persistent RDDs, session conf, temp dir
    entries. Diff two snapshots with ``hygiene_delta``."""
    return {
        "persistent_rdds": int(spark.sparkContext._jsc.getPersistentRDDs()
                               .size()),
        "conf": dict(spark.conf.getAll),
        "tmp": set(os.listdir(TMP_DIR)),
    }


def hygiene_delta(before: dict, after: dict) -> dict:
    changed = {k for k in before["conf"].keys() | after["conf"].keys()
               if before["conf"].get(k) != after["conf"].get(k)}
    return {
        "persistent_rdds": after["persistent_rdds"],
        "conf_changed": len(changed),
        "tmp_residue": sorted(after["tmp"] - before["tmp"]),
    }


def cooldown(spark) -> None:
    """Take the Python and JVM garbage collections between timed reps, not
    inside them. Cached blocks are left alone: a leak must show."""
    import gc

    gc.collect()
    spark._jvm.System.gc()


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited zombie awaiting its reaper counts
    as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, end its JVM, and wait for every process it forked."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    procs = [pid] + descendants(pid)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in procs):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still alive after stop: {procs}")
        time.sleep(0.05)
