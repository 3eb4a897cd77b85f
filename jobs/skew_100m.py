"""Skew evidence at the 100M-row scale point (VERDICT r3 #6).

Runs the politeness window (schedule_wave, one WindowGroupLimit window
per host; the manual salted two-stage variant was deleted) plus the adaptive
fetch-shard salting over a 100,000,000-row synthetic frontier with a
pathologically hot host, at local[32], and reports PER-TASK duration
distributions (median / p95 / max per stage) parsed from the Spark
event log — the direct measurement of whether one hot key serializes a
stage. Appends a measurement block to BENCH/SKEW.md.

Usage: python jobs/skew_100m.py [n_rows] [hot_share]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def skewed_frontier(spark, n_rows: int, hot_share: float, n_hosts: int):
    from pyspark.sql import functions as F

    hot_n = int(n_rows * hot_share)
    return spark.range(n_rows).select(
        F.when(F.col("id") < hot_n, F.lit("hot.example.com"))
        .otherwise(F.concat(F.lit("host"),
                            F.pmod(F.xxhash64("id"), F.lit(n_hosts))
                            .cast("string"),
                            F.lit(".example.com"))).alias("host"),
        F.col("id").alias("seq"),
        F.xxhash64("id").alias("url_hash"),
        F.lit(1.0).alias("priority"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(8)).cast("int")
        .alias("salt"),
    )


def task_stats(event_log_dir: str) -> dict[int, dict]:
    """stage id -> per-task duration stats, parsed from the event log."""
    stats: dict[int, list[float]] = {}
    names: dict[int, str] = {}
    paths = []
    for root, _dirs, fns in os.walk(event_log_dir):
        # Spark 4 rolling v2 layout: eventlog_v2_<app>/events_1_<app>
        paths += [os.path.join(root, fn) for fn in fns
                  if fn.startswith(("events", "local-", "app-"))]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    ti = ev.get("Task Info", {})
                    dur = (ti.get("Finish Time", 0)
                           - ti.get("Launch Time", 0)) / 1000.0
                    stats.setdefault(sid, []).append(dur)
                elif ev.get("Event") == "SparkListenerStageSubmitted":
                    si = ev.get("Stage Info", {})
                    names[si.get("Stage ID", -1)] = si.get("Stage Name", "")
    out = {}
    for sid, durs in stats.items():
        durs.sort()
        med = statistics.median(durs)
        out[sid] = {
            "name": names.get(sid, "")[:60],
            "n_tasks": len(durs),
            "median_s": round(med, 3),
            "p95_s": round(durs[int(0.95 * (len(durs) - 1))], 3),
            "max_s": round(durs[-1], 3),
            "skew_ratio": round(durs[-1] / med, 2) if med > 0 else None,
            "total_s": round(sum(durs), 1),
        }
    return out


def main() -> None:
    from llm_scraper_spark.operators.frontier import (
        schedule_wave, with_adaptive_salt)
    from llm_scraper_spark.session import get_spark
    from pyspark.sql import functions as F

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    hot_share = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    n_hosts = 5000
    ev_dir = tempfile.mkdtemp(prefix="skew_evlog_", dir="/dev/shm")
    spark = get_spark(
        app_name="skew_100m", master="local[32]", shuffle_partitions=32,
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{ev_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false"})
    results = {}
    try:
        # NOT persisted: the synthetic frontier is pure codegen exprs over
        # spark.range — regenerating per job is cheaper than caching 100M
        # rows, and it keeps every measured stage a clean scan->shuffle
        frontier = skewed_frontier(spark, n_rows, hot_share, n_hosts)
        n = frontier.count()
        jobs = {
            "window_unsalted": lambda: schedule_wave(
                frontier, default_budget=64),
        }
        job_windows = {}
        for name, build in jobs.items():
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            job_windows[name] = (t0, time.time())
            results[name] = {"wall_s": round(job_windows[name][1] - t0, 2)}
        # adaptive fetch-shard salting: the max (host, salt) shard bound
        t0 = time.time()
        shards = (
            with_adaptive_salt(frontier.drop("salt"),
                               rows_per_shard=400_000)
            .groupBy("host", "salt").agg(F.count(F.lit(1)).alias("n"))
        )
        agg = shards.agg(
            F.max("n").alias("max_shard"),
            F.expr("percentile_approx(n, 0.5)").alias("median_shard"),
            F.count(F.lit(1)).alias("n_shards")).collect()[0]
        results["adaptive_salt_shards"] = {
            "wall_s": round(time.time() - t0, 2),
            "max_shard_rows": int(agg["max_shard"]),
            "median_shard_rows": int(agg["median_shard"]),
            "n_shards": int(agg["n_shards"]),
        }
        pass
        results["config"] = {"n_rows": n, "hot_share": hot_share,
                             "n_hosts": n_hosts, "cpus": 32,
                             "budget": 64}
    finally:
        spark.stop()

    # attribute stages to jobs by time window
    stats = task_stats(ev_dir)
    import shutil
    shutil.rmtree(ev_dir, ignore_errors=True)
    print(json.dumps({"results": results, "stages": stats}, indent=2))
    with open(os.path.join(REPO, "BENCH", "skew_100m_last.json"), "w") as f:
        json.dump({"results": results, "stages": stats}, f, indent=2)


if __name__ == "__main__":
    main()
