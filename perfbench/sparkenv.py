"""Environment pinning and Spark session set-up, from the benchmark side.

Everything the run writes (Spark scratch, JVM and Python temp files, the
generated inputs, the sinks) lives under one fresh work directory inside the
checkout, which `WorkDir.close` removes.
"""

from __future__ import annotations

import os
import resource
import shutil
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A driver heap well below physical RAM: a quarter of it, 1-4 GB."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(4, ram // (4 << 30)))


class WorkDir:
    """A fresh per-run directory; also the process's temp dir."""

    def __init__(self, label: str):
        os.makedirs(WORK_ROOT, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"{label}-", dir=WORK_ROOT)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, name: str) -> str:
        """A new, empty directory under this run."""
        return tempfile.mkdtemp(prefix=f"{name}-", dir=self.path)

    def new_path(self, name: str) -> str:
        """A path under this run that does not exist yet (for a sink)."""
        return os.path.join(self.fresh(name), "out")

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def pin_environment(work: WorkDir) -> dict:
    """Set the package's load settings; return them for the report."""
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": work.sub("spark-local"),
    }
    os.environ.update(settings)
    settings["nproc"] = nproc()
    return settings


def _session_conf(work: WorkDir) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        # the traced run attributes status-store entries by id; keep them all
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp}",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
    }


def start_session(work: WorkDir):
    """Start a session with the package's factory and ship the package to
    Python workers. Returns (spark, start_s, ship_s)."""
    from docling_api_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=_session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    zip_path = shutil.make_archive(
        os.path.join(work.fresh("pkg"), "docling_api_spark"),
        "zip",
        root_dir=ROOT,
        base_dir="docling_api_spark",
    )
    spark.sparkContext.addPyFile(zip_path)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0
