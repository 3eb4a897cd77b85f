"""Seen-set regime table: the dedup anti-join under each seen layout.

Three ways to drop the already-seen candidates of one wave:

- delta, no Bloom: the seen set as per-wave parquet dirs (the crawl's
  ``seen_delta`` layout), every candidate through a shuffled anti-join;
- bucketed, no Bloom: the seen set as a ``bucketBy(url_hash, 32)``
  catalog table (``sinks/bucketed.py``), so the anti-join has no
  Exchange on the seen side;
- the crawl's default plan: delta layout, candidates tagged by the
  standing sharded Bloom, and the join ``run_wave`` auto-selects from
  the seen:candidate ratio (the reversed broadcast anti-join at >= 50:1,
  the shuffled anti-join over the maybe-seen rows below it).

Seen = N rows spread over ``n_waves`` dirs; candidates = N / ratio, half
of them seen. Each cell is the median wall of ``reps`` counts of the
join alone; the Bloom tag is materialized first (the wave fuses it into
its discovery checkpoint) and its wall is reported beside the join, as
is the wall of one wave's seen write under each layout. Survivor counts
must agree across the three regimes.

Usage: python jobs/bucketed_ab.py [n_seen,...] [ratio,...] [n_waves] [reps]
Runs at local[nproc] and writes BENCH/BUCKETED_AB.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BUCKETS = 32
REVERSE_RATIO = 50  # run_wave's reversed-join threshold (next_seq >= 50x)


def run_point(spark, n_seen, ratio, n_waves, reps, tbl):
    from pyspark.sql import functions as F

    from llm_scraper_spark.operators.seen import (
        bloom_tag, build_bloom_distributed, filter_unseen)
    from llm_scraper_spark.sinks.bucketed import write_bucketed

    n_cand = n_seen // ratio
    base = tempfile.mkdtemp(prefix="bucketed_ab_", dir="/dev/shm"
                            if os.path.isdir("/dev/shm") else None)
    try:
        seen_expr = spark.range(n_seen).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            (F.col("id") % n_waves).cast("int").alias("first_seen_wave"))
        for w in range(n_waves):
            (seen_expr.filter(F.col("first_seen_wave") == w)
             .write.mode("overwrite")
             .parquet(f"{base}/delta/wave={w}"))
        write_bucketed(seen_expr, tbl, ["url_hash"], N_BUCKETS,
                       path=f"{base}/bucketed")

        # candidates: half hit the seen set, half are new
        cand = spark.range(n_cand).select(
            F.when(F.col("id") % 2 == 0,
                   F.xxhash64((F.col("id") * ratio).cast("string")))
            .otherwise(F.xxhash64(F.concat(F.lit("new:"),
                                           F.col("id").cast("string"))))
            .alias("url_hash")).localCheckpoint()

        delta_seen = spark.read.parquet(
            *[f"{base}/delta/wave={w}" for w in range(n_waves)])
        buck_seen = spark.table(tbl)

        def time_join(j):
            plan = j._jdf.queryExecution().executedPlan().toString()
            walls = []
            for _ in range(reps):
                t0 = time.time()
                n = j.count()
                walls.append(round(time.time() - t0, 3))
            return {"walls": walls, "med": statistics.median(walls),
                    "n": n, "hash_ex": plan.count("Exchange hashpartitioning")}

        def anti(seen_df):
            return cand.join(seen_df.select("url_hash"), on="url_hash",
                             how="left_anti")

        delta = time_join(anti(delta_seen))
        buck = time_join(anti(buck_seen))
        # the standing filter as the wave loop sizes it (4x the seen set)
        bloom = build_bloom_distributed(delta_seen, capacity=4 * n_seen)
        t0 = time.time()
        tagged = bloom_tag(cand, bloom).localCheckpoint()
        tag_s = round(time.time() - t0, 3)
        reverse = ratio >= REVERSE_RATIO
        default = time_join(filter_unseen(
            tagged, delta_seen, bloom=bloom, broadcast_candidates=reverse))
        assert delta["n"] == buck["n"] == default["n"], (
            delta["n"], buck["n"], default["n"])

        # a wave's seen write: its new rows as one more delta dir, or
        # appended to the bucketed table (a shuffle + sort per append)
        new_rows = (cand.filter(F.col("url_hash") % 2 == 0)
                    .withColumn("first_seen_wave", F.lit(n_waves)))

        def time_writes(write):
            walls = []
            for r in range(reps):
                t0 = time.time()
                write(r)
                walls.append(round(time.time() - t0, 3))
            return statistics.median(walls)

        w_delta = time_writes(lambda r: new_rows.write.mode("overwrite")
                              .parquet(f"{base}/new/wave={r}"))
        w_buck = time_writes(lambda r: (
            new_rows.write.mode("append").format("parquet")
            .bucketBy(N_BUCKETS, "url_hash").sortBy("url_hash")
            .saveAsTable(tbl)))
        return {"n_seen": n_seen, "ratio": ratio, "survivors": delta["n"],
                "delta": delta, "buck": buck, "default": default,
                "join": "reversed" if reverse else "shuffled",
                "tag_s": tag_s, "w_delta": w_delta, "w_buck": w_buck}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def main() -> None:
    seen_sizes = ([int(x) for x in sys.argv[1].split(",")]
                  if len(sys.argv) > 1 else [4_000_000])
    ratios = ([int(x) for x in sys.argv[2].split(",")]
              if len(sys.argv) > 2 else [10, 100, 400])
    n_waves = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 5

    from llm_scraper_spark.session import get_spark

    nproc = os.cpu_count() or 1
    spark = get_spark(app_name="bucketed_ab", master=f"local[{nproc}]")
    # broadcasts only where a plan asks for them (the reversed join's
    # hints); the no-Bloom joins stay shuffled at every size
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        points = [run_point(spark, n, r, n_waves, reps,
                            f"ab_seen_bucketed_{i}_{j}")
                  for i, n in enumerate(seen_sizes)
                  for j, r in enumerate(ratios)]
    finally:
        spark.stop()

    def cell(c):
        return f"{c['med']} ({c['hash_ex']})"

    rows = "".join(
        f"| {p['n_seen']:,} | {p['ratio']}:1 | {p['survivors']:,} "
        f"| {cell(p['delta'])} | {cell(p['buck'])} "
        f"| {cell(p['default'])} {p['join']} | {p['tag_s']} "
        f"| {p['w_delta']} | {p['w_buck']} |\n"
        for p in points)
    walls = "".join(
        f"- {p['n_seen']:,} at {p['ratio']}:1: delta {p['delta']['walls']}, "
        f"bucketed {p['buck']['walls']}, default {p['default']['walls']}\n"
        for p in points)
    md = f"""# Seen-set regime table

Generated by `python jobs/bucketed_ab.py` at local[{nproc}] ({nproc} cores),
{n_waves} seen_delta dirs, {N_BUCKETS} buckets, median of {reps} reps.
Each join cell is the median join wall in seconds, with the plan's
number of `Exchange hashpartitioning` nodes in brackets. Candidates are
half seen, half new. The default column is the crawl's plan: Bloom tag
plus the join `run_wave` picks at that ratio. Its tag wall is the next
column (the wave pays it inside its discovery checkpoint). The last two
columns are the median wall of one wave's seen write (about half the
candidates): a new delta dir, or an append to the bucketed table.
Survivor counts agree across the three regimes at every point.

| seen rows | seen:cand | survivors | delta, no Bloom | bucketed, no Bloom | default: Bloom + delta | Bloom tag (s) | delta write (s) | bucketed append (s) |
|---|---|---|---|---|---|---|---|---|
{rows}
All walls (s):

{walls}"""
    out = os.path.join(REPO, "BENCH", "BUCKETED_AB.md")
    with open(out, "w") as f:
        f.write(md)
    print(md)


if __name__ == "__main__":
    main()
