"""Host-sized Spark session for the benchmark, plus process-tree helpers.

The session is sized from the machine it runs on: ``local[<nproc>]``,
shuffle partitions equal to the core count, driver memory a fixed share
of physical RAM, UI and console progress off. The package's own confs
(``session.configure``) are applied on top, as every entry point does.
"""

from __future__ import annotations

import os
import subprocess
import tempfile

# Share of physical RAM given to the driver JVM (local mode runs the
# executors inside it). Leaves room for the Python workers and the OS.
DRIVER_MEM_SHARE = 0.3
DRIVER_MEM_MIN_MB = 1024
DRIVER_MEM_MAX_MB = 8192


def cores() -> int:
    """Cores as ``nproc`` reports them (honours the process's CPU mask)."""
    out = subprocess.run(["nproc"], capture_output=True, text=True, check=True)
    return int(out.stdout.strip())


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(total_mb: int) -> int:
    mb = int(total_mb * DRIVER_MEM_SHARE)
    return max(DRIVER_MEM_MIN_MB, min(DRIVER_MEM_MAX_MB, mb))


def start_session(local_dir: str):
    """Build the one SparkSession of a run; returns (spark, host stamp)."""
    from pyspark.sql import SparkSession
    import pyspark

    from teste_carga_avro_vs_json_spark.session import configure

    n, total = cores(), ram_mb()
    mem = driver_mem_mb(total)
    # keep every temporary file (gateway handshake, JVM and worker temp
    # files) under local_dir; Python workers inherit TMPDIR, and the JVM
    # writes no perf-data file to /tmp
    tmp = os.path.join(local_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
        .getOrCreate()
    )
    configure(spark)
    spark.sparkContext.setLogLevel("ERROR")
    stamp = {
        "cores": n,
        "ram_mb": total,
        "driver_mem_mb": mem,
        "spark_version": pyspark.__version__,
    }
    return spark, stamp


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # The gateway JVM exits when its stdin closes.
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant — the driver, its JVM and the Python workers."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

