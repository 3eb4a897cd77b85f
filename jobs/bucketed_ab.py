"""Seen-set regime table: the dedup anti-join under each seen layout and
with or without a Bloom pre-filter.

Four ways to drop the already-seen candidates of one wave:

- delta, no Bloom, shuffled: the seen set as per-wave parquet dirs (the
  crawl's layout, its ``frontier_delta`` dirs), every candidate through
  a shuffled anti-join;
- bucketed, no Bloom: the seen set as a ``bucketBy(url_hash, 32)``
  catalog table (``sinks/bucketed.py``), so the anti-join has no
  Exchange on the seen side;
- the crawl's plan: delta layout, no pre-filter, and the join
  ``run_wave`` auto-selects from the seen:candidate ratio (the reversed
  broadcast anti-join at >= 50:1, the shuffled anti-join below it);
- Bloom tag + the same join: the plan the crawl ran before the standing
  Bloom was removed — candidates tagged by a sharded Bloom over the seen
  set, only the maybe-seen rows joined.

Seen = N rows spread over ``n_waves`` dirs; candidates = N / ratio, half
of them seen. Each cell is the median wall of ``reps`` runs. The crawl's
plan and the Bloom plan alternate which runs first in each rep; a Bloom
rep re-materializes the tag (the wave fused it into its discovery
checkpoint) and its wall is tag plus join. The standing filter's build
wall and one wave's seen write under each layout are reported beside
them. Survivor counts must agree across all four plans.

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

    from llm_scraper_spark.operators.checkpoints import (
        local_checkpoint_tracked, release_checkpoint)
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

        def plan_of(j):
            return j._jdf.queryExecution().executedPlan().toString()

        def time_join(j):
            plan = plan_of(j)
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
        # the standing filter as the wave loop sized it (4x the seen set)
        t0 = time.time()
        bloom = build_bloom_distributed(delta_seen, capacity=4 * n_seen)
        build_s = round(time.time() - t0, 3)
        reverse = ratio >= REVERSE_RATIO
        crawl_j = filter_unseen(cand, delta_seen,
                                broadcast_candidates=reverse)

        def bloom_rep():
            t0 = time.time()
            tagged, ids = local_checkpoint_tracked(bloom_tag(cand, bloom))
            bloomed["tag"].append(round(time.time() - t0, 3))
            try:
                j = filter_unseen(tagged, delta_seen, bloom=bloom,
                                  broadcast_candidates=reverse)
                return j.count(), plan_of(j)
            finally:
                release_checkpoint(spark, ids)

        crawl = {"walls": [], "hash_ex": plan_of(crawl_j).count(
            "Exchange hashpartitioning")}
        bloomed = {"walls": [], "tag": []}
        for r in range(reps):
            for which in (("crawl", "bloom") if r % 2 == 0
                          else ("bloom", "crawl")):
                t0 = time.time()
                if which == "crawl":
                    crawl["n"] = crawl_j.count()
                    crawl["walls"].append(round(time.time() - t0, 3))
                else:
                    bloomed["n"], plan = bloom_rep()
                    bloomed["walls"].append(round(time.time() - t0, 3))
                    bloomed["hash_ex"] = plan.count(
                        "Exchange hashpartitioning")
        for c in (crawl, bloomed):
            c["med"] = statistics.median(c["walls"])
        assert delta["n"] == buck["n"] == crawl["n"] == bloomed["n"], (
            delta["n"], buck["n"], crawl["n"], bloomed["n"])

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
                "delta": delta, "buck": buck, "crawl": crawl,
                "bloom": bloomed,
                "join": "reversed" if reverse else "shuffled",
                "build_s": build_s, "w_delta": w_delta, "w_buck": w_buck}
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
        f"| {cell(p['crawl'])} {p['join']} | {cell(p['bloom'])} "
        f"| {statistics.median(p['bloom']['tag'])} | {p['build_s']} "
        f"| {p['w_delta']} | {p['w_buck']} |\n"
        for p in points)
    walls = "".join(
        f"- {p['n_seen']:,} at {p['ratio']}:1: delta {p['delta']['walls']}, "
        f"bucketed {p['buck']['walls']}, crawl {p['crawl']['walls']}, "
        f"Bloom tag + join {p['bloom']['walls']} "
        f"(tag {p['bloom']['tag']})\n"
        for p in points)
    md = f"""# Seen-set regime table

Generated by `python jobs/bucketed_ab.py` at local[{nproc}] ({nproc} cores),
{n_waves} per-wave seen dirs, {N_BUCKETS} buckets, median of {reps} reps.
Each join cell is the median wall in seconds, with the plan's number of
`Exchange hashpartitioning` nodes in brackets. Candidates are half seen,
half new. The crawl column is `run_wave`'s plan: no pre-filter, and the
join it picks at that ratio. The Bloom column is the plan it ran before
the standing Bloom was removed: the tag (materialized, as the wave's
discovery checkpoint did) plus the same join over the maybe-seen rows;
its cell is tag plus join, and the tag alone is the next column. The
two plans alternate which runs first in each rep. The standing build is
the one-off wall of building the Bloom over the whole seen set (paid on
every fresh run, resume and saturation). The last two columns are the
median wall of one wave's seen write (about half the candidates): a new
delta dir, or an append to the bucketed table. Survivor counts agree
across the four plans at every point.

| seen rows | seen:cand | survivors | delta, no Bloom, shuffled | bucketed, no Bloom | crawl: no Bloom + delta | Bloom tag + join | Bloom tag (s) | standing build (s) | delta write (s) | bucketed append (s) |
|---|---|---|---|---|---|---|---|---|---|---|
{rows}
All walls (s):

{walls}"""
    out = os.path.join(REPO, "BENCH", "BUCKETED_AB.md")
    with open(out, "w") as f:
        f.write(md)
    print(md)


if __name__ == "__main__":
    main()
