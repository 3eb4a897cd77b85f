"""Process-level plumbing shared by the workloads: the work directory inside
the checkout, the Spark session, the host probe, peak memory and the
per-layer summaries computed from spans and the event log."""

from __future__ import annotations

import multiprocessing as mp
import os
import platform
import shutil
import statistics
import time

import metrics as M

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def work_dir(name: str) -> str:
    path = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``: shuffle/spill dir, warehouse, temp dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # a 3g heap holds every workload; the machine's memory is shared
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def start_spark(work: str, event_log: bool):
    from llm_scraper_spark.session import get_spark

    wh = os.environ["SPARK_GRAFT_WAREHOUSE"]
    conf = {
        # get_spark sets only the derby home here; keep it and add the
        # JVM temp dir so nothing lands outside the work dir
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={wh}/derby "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    # shuffle width as the repo's own bench sizes it for a small host
    return get_spark(app_name="perfbench", master=f"local[{nproc()}]",
                     shuffle_partitions=max(nproc(), 8), extra_conf=conf)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> float:
    """Stop the session and the JVM it launched, wait for the JVM to exit;
    returns peak RSS (MB) of this process plus the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    jvm_mb = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return _vm_hwm_mb(os.getpid()) + jvm_mb


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def cpu_probe(work: int = 3_000_000) -> float:
    """Plain CPU burn on nproc processes (no Spark): burn units per second
    the host delivers right now."""
    n = nproc()
    with mp.get_context("fork").Pool(n) as pool:
        pool.map(_burn, [1000] * n)  # workers up before the clock starts
        t0 = time.perf_counter()
        pool.map(_burn, [work] * n)
        return n / (time.perf_counter() - t0)


def host_info() -> dict:
    import pyarrow
    import pyspark

    return {"nproc": nproc(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


def read_event_log(work: str) -> dict:
    """Parse the session's event log (Spark 4 writes a directory of
    rolled ``events_*`` files per application)."""
    lines = []
    for dp, _ds, fs in sorted(os.walk(os.path.join(work, "eventlog"))):
        for name in sorted(fs):
            with open(os.path.join(dp, name)) as f:
                lines.extend(f)
    return M.parse_event_log(lines)


def abort(name: str) -> None:
    """Error path: stop a running session and its JVM, drop the work dir."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        stop_spark(spark)
    shutil.rmtree(os.path.join(WORK, f"{name}-{os.getpid()}"),
                  ignore_errors=True)


def spark_layer(log: dict, windows) -> dict:
    """spark.* per engine call (wave or extraction pass): medians over the
    calls whose windows are given."""
    per = M.attribute_windows(log, windows, nproc())
    stage_keys = set().union(*(p["stage_keys"] for p in per)) if per else set()
    skews = M.stage_skew(log, stage_keys)

    def med(key):
        return statistics.median(p[key] for p in per) if per else 0.0

    return {
        "spark.jobs_per_wave": med("jobs"),
        "spark.stages_per_wave": med("stages"),
        "spark.tasks_per_wave": med("tasks"),
        "spark.task_slot_idle_share": med("idle_share"),
        "spark.executor_run_s_per_wave": med("run_s"),
        "spark.executor_cpu_s_per_wave": med("cpu_s"),
        "spark.gc_s_per_wave": med("gc_s"),
        "spark.shuffle_write_mb_per_wave": med("shuffle_write_mb"),
        "spark.shuffle_read_mb_per_wave": med("shuffle_read_mb"),
        "spark.spill_mb_per_wave": med("spill_mb"),
        "spark.stage_skew_p50": statistics.median(skews) if skews else 0.0,
    }


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
