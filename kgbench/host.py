"""Host-derived session sizing, the process environment that keeps every
file the run writes inside the checkout, and the host/config stamp."""

from __future__ import annotations

import os
import platform
import subprocess
from typing import Dict

# JVM heap: a quarter of MemAvailable in 256 MB steps, at most 1.5 GB.
# The heap is fixed and pre-touched (session.fixed_heap_conf) so that the
# JVM's share of the peak RSS does not depend on when GC ran.
HEAP_SHARE = 4
HEAP_STEP_MB, HEAP_MIN_MB, HEAP_MAX_MB = 256, 1024, 1536


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb(key: str = "MemAvailable") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"/proc/meminfo has no {key}")


def prepare_env(work: str, root: str) -> Dict[str, str]:
    """Point every scratch location at ``work`` before pyspark (or
    ``tempfile``) is first used, and let the Python workers import the
    checkout's packages.  ``SPARK_LOCAL_DIRS`` wins over the
    ``spark.local.dir`` conf in Spark, so both are set to one place."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    import tempfile
    tempfile.tempdir = dirs["tmp"]
    return dirs


def session_conf(dirs: Dict[str, str]) -> Dict[str, str]:
    """``get_spark(extra_conf=...)``: a fixed heap sized from
    MemAvailable, scratch, warehouse and JVM temp files inside the run's
    work dir."""
    from medcat_spark.session import fixed_heap_conf
    heap = meminfo_mb() // HEAP_SHARE // HEAP_STEP_MB * HEAP_STEP_MB
    conf = fixed_heap_conf(f"{max(HEAP_MIN_MB, min(HEAP_MAX_MB, heap))}m")
    conf["spark.driver.extraJavaOptions"] += (
        f" -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData")
    conf.update({
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    })
    return conf


def _git_commit(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def stamp(spark, seed: int, root: str) -> dict:
    """Host and effective session config, read back from the running
    session rather than from what was asked for."""
    import numpy
    import pyarrow
    import pyspark
    conf = spark.sparkContext.getConf()
    jvm_env = spark._jvm.org.apache.spark.SparkEnv.get()
    used = [d.getAbsolutePath() for d in
            jvm_env.blockManager().diskBlockManager().localDirs()]
    return {
        "host": {"cores": nproc(), "cpu_count": os.cpu_count(),
                 "mem_total_mb": meminfo_mb("MemTotal"),
                 "mem_available_mb": meminfo_mb(),
                 "platform": platform.platform()},
        "session": {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "heap": conf.get("spark.driver.memory", "unset"),
            "java_options":
                conf.get("spark.driver.extraJavaOptions", "unset"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_local_dir_conf": conf.get("spark.local.dir", "unset"),
            "SPARK_LOCAL_DIRS_env": os.environ.get("SPARK_LOCAL_DIRS", "unset"),
            "scratch_dirs_used": used},
        "versions": {"python": platform.python_version(),
                     "pyspark": pyspark.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__},
        "seed": seed,
        "git_commit": _git_commit(root),
    }
