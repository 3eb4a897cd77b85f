"""SparkSession factory tuned for the crawl engine.

Local mode is the sandbox proxy for a multi-executor cluster; every knob here
is chosen so the same code scales to a 1000-executor deployment:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- runtime Bloom-filter join pushdown (inside the seen-set's shuffled anti-join)
- Arrow batches for every pandas UDF (the only Python in the engine)
- UTC session timezone so results compare exactly against DuckDB oracles
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "llm_scraper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    # make the package importable inside Python UDF workers regardless of
    # the driver's cwd (workers inherit PYTHONPATH, not driver sys.path;
    # on a cluster this is the --py-files equivalent)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    # shuffle/spill to tmpfs when available: the sandbox VM's virtio disk
    # serializes shuffle I/O (a ~20s sys-time floor on the 8M-URL bench);
    # on a real cluster this models executor-local NVMe
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)

    # local mode = driver-only: this is executor memory. Width-aware and
    # deliberately MODEST: on this sandbox's current boot a 64g heap makes
    # the SAME job 3-15x slower (measured A/B on a 20M-row string-agg
    # micro: 8g -> 2.5-3.2s, 31g/64g -> 10-74s at local[4]) — every fresh
    # young-gen page the big heap touches takes a slow hypervisor-side
    # fault while the host's memory subsystem is contended, and heaps
    # >32g also drop compressed oops. 8g covers <=8 concurrent tasks'
    # execution memory with headroom; wider sessions get 16g (8M-seed
    # bench shuffle partitions are ~75MB/task — far under the 0.6
    # execution fraction either way). Overridable per-run via env.
    cores_m = re.match(r"local\[(\d+|\*)\]", master or "")
    n_cores = (os.cpu_count() if cores_m and cores_m.group(1) == "*"
               else int(cores_m.group(1)) if cores_m else 8)
    default_mem = "8g" if n_cores <= 8 else "16g"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem))
        # fresh python worker per task (reuse OFF): with reused workers
        # this sandbox hit a reproducible executor<->worker Arrow-socket
        # deadlock (JVM mid-readMessageBody in EPoll.wait, worker blocked
        # in recv, zero host pressure — BENCH/hang_evidence_*_jstack.txt;
        # 3 hangs in 6 runs at local[4]/8M-seed legs, 0 in 8 with reuse
        # off, throughput unchanged 550-724k URLs/s). With the stock
        # daemon a fresh worker costs 0.2-0.8 s per task before its first
        # row (re-importing pandas/pyarrow/the engine, and CPython 3.11
        # re-reading every zip importer's directory); the warm daemon
        # below cuts that to ~0.05 s (see worker_daemon.py). On a real
        # cluster flip SPARK_GRAFT_WORKER_REUSE back to true if the
        # deployment's Spark build is past the race.
        .config("spark.python.worker.reuse",
                os.environ.get("SPARK_GRAFT_WORKER_REUSE", "false"))
        # static SparkContext setting; the daemon imports this package,
        # so it is set only here, where PYTHONPATH above already carries
        # it (tune_session / spark-submit keep the stock daemon)
        .config("spark.python.daemon.module",
                "llm_scraper_spark.worker_daemon")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # keep the catalog warehouse + derby metastore out of the repo /cwd
    # (bucketed tables via sinks/bucketed.py need saveAsTable); overridable
    # for a real deployment where the warehouse is a durable path
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse")
    builder = (
        builder.config("spark.sql.warehouse.dir", wh)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={wh}/derby",
        )
    )
    # env-injected conf (subprocess benches / A-B experiments):
    # SPARK_GRAFT_EXTRA_CONF="spark.python.worker.reuse=false;k2=v2"
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine conf to an externally-created session (driver harness)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # conf may be static on a live session; defaults are fine
    return spark
