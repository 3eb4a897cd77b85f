"""Priority frontier + per-host politeness scheduling (SURVEY.md §2.6 O1, §2.10 T2).

Reference semantics: a strict FIFO deque consumed one URL at a time under a
global semaphore of 8 (/root/reference/cache.py:138-148, worker.py:31,154-169).
The distributed re-expression is wave-based:

- the frontier is a table ``(url, canonical_url, host, salt, url_hash,
  priority, wave, seq, status)`` where ``seq`` is the global discovery
  order (FIFO-equivalent total order, deterministic),
- each wave schedules, per host, the first ``budget(host)`` pending URLs in
  ``(priority DESC, seq ASC)`` order — the north rule's per-host politeness
  upgrade of the reference's single global semaphore,
- hot hosts are salted: rows are sharded as ``(host, salt)`` with
  ``n_salts(host)`` proportional to the host's frontier mass, so the
  politeness window shuffle stays even at 10^10 rows. Budget accounting is
  computed pre-salt (per host) and enforced post-salt by ranking over the
  un-salted host key but partition-pruned by the salted key first: a cheap
  per-(host,salt) pre-rank caps each shard at ``budget`` rows before the
  exact per-host rank, so the per-host window never sees more than
  ``budget * n_salts`` rows regardless of skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

DEFAULT_BUDGET = 8  # reference MAX_CONCURRENT_SCRAPES (worker.py:31)
DEFAULT_SALTS = 16


def with_salt(df: DataFrame, n_salts: int = DEFAULT_SALTS,
              hash_col: str = "url_hash") -> DataFrame:
    """Deterministic shard id within a host (hash-derived, not random)."""
    return df.withColumn("salt", F.pmod(F.col(hash_col), F.lit(n_salts)).cast("int"))


def host_histogram(frontier: DataFrame) -> DataFrame:
    """Hot-host histogram used to pick n_salts(host) (SURVEY §4 custom-2)."""
    return frontier.groupBy("host").agg(F.count("*").alias("n_pending"))


def with_adaptive_salt(df: DataFrame, rows_per_shard: int = 100_000,
                       max_salts: int = 256,
                       hash_col: str = "url_hash") -> DataFrame:
    """Skew-aware salting: n_salts(host) = clamp(ceil(n_pending(host) /
    rows_per_shard), 1, max_salts), derived from the live host histogram
    and broadcast back. Cold hosts get salt 0 (no fan-out); hot hosts
    shard so no (host, salt) partition exceeds ~rows_per_shard rows —
    the explicit skew control the north rule demands on a 10^10 frontier
    (AQE skew-join splitting is the runtime backstop, but the politeness
    window needs deterministic shards for budget accounting).
    """
    hist = (
        df.groupBy("host").agg(F.count("*").alias("_n"))
        .withColumn(
            "_n_salts",
            F.least(
                F.greatest(F.ceil(F.col("_n") / F.lit(rows_per_shard)), F.lit(1)),
                F.lit(max_salts),
            ).cast("int"),
        )
        .select("host", "_n_salts")
    )
    out = df.join(F.broadcast(hist), on="host", how="left")
    return out.withColumn(
        "salt",
        F.pmod(F.col(hash_col), F.coalesce(F.col("_n_salts"), F.lit(1))).cast("int"),
    ).drop("_n_salts")


def schedule_wave(
    pending: DataFrame,
    budgets: DataFrame | None = None,
    default_budget: int = DEFAULT_BUDGET,
    salted: bool = False,
) -> DataFrame:
    """Pick this wave's fetch set: per host the first ``budget`` pending URLs
    by (priority DESC, seq ASC); FIFO equality with the reference holds when
    priorities are constant (order then = discovery seq, cache.py:138-148).

    ``budgets``: optional small DataFrame (host, budget) — broadcast-joined.
    Returns the scheduled subset with a ``sched_rank`` column.

    Skew note (MEASURED): Spark >= 3.5 plans ``row_number() <= k`` as
    WindowGroupLimit with a *Partial* pass before the exchange — every map
    task ships at most ``budget`` rows per host into the shuffle, so the
    window is natively skew-immune (a 20M-row frontier with 90% of rows on
    ONE host schedules in 1.3s at local[8]; the salted two-stage pre-rank
    took 4.4s doing the same work twice). ``salted=True`` keeps the manual
    pre-rank for engines without WindowGroupLimit; salting still matters
    for the FETCH stage (bounded per-(host,salt) task batches) — see
    with_adaptive_salt.
    """
    df = pending
    if budgets is not None:
        df = df.join(F.broadcast(budgets), on="host", how="left")
        df = df.withColumn("budget", F.coalesce(F.col("budget"), F.lit(default_budget)))
    else:
        df = df.withColumn("budget", F.lit(default_budget))

    if salted and "salt" in df.columns:
        # stage 1: cap each (host, salt) shard at `budget` rows — bounds the
        # rows entering the exact per-host rank to budget * n_salts even for
        # pathological hosts, keeping the final window partition tiny.
        w_shard = W.partitionBy("host", "salt").orderBy(
            F.col("priority").desc(), F.col("seq").asc()
        )
        df = (
            df.withColumn("_shard_rank", F.row_number().over(w_shard))
            .filter(F.col("_shard_rank") <= F.col("budget"))
            .drop("_shard_rank")
        )

    w_host = W.partitionBy("host").orderBy(F.col("priority").desc(), F.col("seq").asc())
    return (
        df.withColumn("sched_rank", F.row_number().over(w_host))
        .filter(F.col("sched_rank") <= F.col("budget"))
        .drop("budget")
    )


def budgets_from_crawl_delay(robots: DataFrame, wave_seconds: float,
                             default_budget: int = DEFAULT_BUDGET,
                             max_budget: int = 1024) -> DataFrame:
    """Turn robots.txt ``Crawl-delay`` directives into per-host wave
    budgets: a host asking for one request every ``d`` seconds gets
    ``clamp(floor(wave_seconds / d), 1, max_budget)`` fetches per wave;
    hosts with no delay directive keep ``default_budget``. Feed the result
    straight into ``schedule_wave(budgets=...)`` (it is broadcast there —
    the robots table is one row per host, tiny vs the frontier).

    The reference parses robots.txt for sitemaps only and rate-limits with
    a single global semaphore (worker.py:31); honoring Crawl-delay
    per host is the distributed-politeness upgrade the north rule's
    "per-host politeness budgets" asks for.
    """
    d = F.col("crawl_delay")
    budget = F.when(
        d.isNotNull() & (d > 0),
        F.least(
            F.greatest(F.floor(F.lit(float(wave_seconds)) / d), F.lit(1)),
            F.lit(int(max_budget)),
        ),
    ).otherwise(F.lit(int(default_budget)))
    return robots.select("host", budget.cast("int").alias("budget"))


def budgets_from_pagerank(host_ranks: DataFrame, total_budget: int,
                          min_budget: int = 1,
                          max_budget: int = 1024,
                          rank_col: str = "rank") -> DataFrame:
    """Authority-weighted politeness budgets: split ``total_budget``
    fetches/wave across hosts proportionally to their PageRank
    (``operators.graph.host_pagerank`` output), clamped to
    ``[min_budget, max_budget]``: high-authority hosts drain their
    frontier queues first while every host keeps crawling.

    ``budget(h) = clamp(floor(total_budget * rank_h / sum(rank)),
    min_budget, max_budget)`` — integer arithmetic on the fixed-point
    ranks, so the allocation is deterministic under any partitioning.
    The rank table is hosts-sized (tiny vs the frontier); the one
    ``sum`` over it stays LAZY — a 1-row aggregate broadcast-cross-joined
    back (no driver ``collect``, so the allocation plans as one job and
    composes into larger lazy pipelines). Within a host order stays
    (priority DESC, seq ASC): rank is a per-host constant, so it
    allocates ACROSS hosts (budgets) rather than reordering within one.
    Compose with Crawl-delay caps via
    ``least(budgets_from_pagerank(...), budgets_from_crawl_delay(...))``
    joined on host.
    """
    tot = host_ranks.agg(
        F.greatest(F.sum(rank_col), F.lit(1)).cast("long").alias("_total_rank")
    )
    share = F.expr(
        f"({int(total_budget)}L * {rank_col}) DIV _total_rank"
    )
    budget = F.least(
        F.greatest(share, F.lit(int(min_budget))),
        F.lit(int(max_budget)),
    )
    return (
        host_ranks.crossJoin(F.broadcast(tot))
        .select("host", budget.cast("int").alias("budget"))
    )


def assign_global_seq(
    candidates: DataFrame,
    base_seq: int,
    order_cols: tuple[str, ...] = ("parent_seq", "link_idx"),
    ck_sink: list | None = None,
    materialize_input: bool = True,
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Assign the contiguous global FIFO ``seq`` to newly discovered URLs.

    Discovery order within a wave = (parent_seq, link_idx) — exactly the
    order the reference would have enqueued them one at a time
    (scraper.py:64-76). A global-window rank is exact but
    single-partitions; instead this is the scalable zipWithIndex shape:
    range-partitioned sort, per-partition local index, driver-side
    partition offsets.

    Fully JVM-side (no Python stage in the hot wave loop), and ONE
    materialization of the candidate chain. The classic zipWithIndex
    shape (repartitionByRange -> per-partition index -> offset join)
    costs the hot loop twice: the range exchange runs a separate
    bounds-SAMPLING job, and because the sampled bounds carry a per-RDD
    seed the placement is nondeterministic, forcing a SECOND eager
    checkpoint of the shuffled rows before offsets can be collected
    (round-3 regression: deriving offsets from a re-evaluation silently
    dropped rows at 1M+ seeds). This implementation replaces the sampled
    exchange with DETERMINISTIC width bucketing:

    1. checkpoint the input once (the chain behind it — the seen
       anti-join — is the wave's most expensive lineage);
    2. two tiny driver jobs over the checkpointed blocks: min/max of the
       leading order column, then per-bucket counts for
       ``bucket = (v - lo) DIV ceil(span / P)`` — exact integer driver
       math, no sampling, same result on every evaluation;
    3. ``seq = base + offset[bucket] + row_number() over (bucket,
       ORDER BY order_cols..)``— the bucket offsets fold into one
       literal ``create_map`` so the projection is codegen arithmetic,
       and the single window exchange executes when the CALLER first
       materializes the result (no extra materialization here at all).

    Bucket boundaries are value-ranges of the leading order column, so
    cross-bucket ordering is preserved by construction; within a bucket
    the window orders by the full ``order_cols`` tuple plus an xxhash64
    of the whole row as a deterministic tiebreak (production keys are
    unique — ``_disc_ord`` — but synthetic/test inputs may carry
    duplicate keys, and ``row_number`` over a tie would otherwise be
    free to disagree between two evaluations). Wave discovery volumes
    have near-uniform leading keys (``_disc_ord`` ~ parent seq range),
    so the value-width buckets stay balanced without sampling.

    ``ck_sink``: optional list — the checkpoint's block-id set is
    appended so the caller can release it (operators/checkpoints.py)
    once the returned frame has been materialized/persisted downstream;
    without a sink the blocks live until session end (matching plain
    localCheckpoint semantics).
    """
    from .checkpoints import local_checkpoint_tracked

    # ``materialize_input=False`` is for callers whose candidate lineage
    # is ALREADY cheap and value-deterministic to re-evaluate (the wave
    # loop: a native filter + union of two checkpointed frames) — the
    # two metadata aggregates and the final window then re-read cached
    # blocks instead of paying one more full materialization. Bucket
    # counts depend only on VALUES, so determinism needs no checkpoint —
    # only cost does.
    if materialize_input:
        candidates, cand_ck_ids = local_checkpoint_tracked(candidates)
        if ck_sink is not None:
            ck_sink.append(cand_ck_ids)

    spark = candidates.sparkSession
    first = order_cols[0]
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if bounds is not None and bounds[0] is not None:
        # caller-provided [lo, hi] covering every candidate's leading
        # key (a SUPERSET range is correct — boundaries only bucket,
        # exact offsets come from the counts job below). The wave loop
        # rides min/max on its discovery Observation, saving one
        # driver job per wave.
        lo, hi = int(bounds[0]), int(bounds[1])
    else:
        mm = candidates.agg(
            F.min(F.col(first).cast("long")).alias("lo"),
            F.max(F.col(first).cast("long")).alias("hi"),
        ).collect()[0]
        if mm["lo"] is None:  # empty input
            return candidates.withColumn(
                "seq", F.lit(int(base_seq)).cast("long"))
        lo, hi = int(mm["lo"]), int(mm["hi"])
    span = hi - lo + 1
    if span >= (1 << 62):  # (v - lo) must stay in int64; degenerate, never
        n_buckets = 1      # hit by wave keys (bounded parent_seq ranges)
    width = max(1, -(-span // n_buckets))
    bucket = F.expr(f"(CAST({first} AS BIGINT) - {lo}L) DIV {width}L")
    counts = sorted(
        candidates.groupBy(bucket.alias("_bkt"))
        .agg(F.count(F.lit(1)).alias("n")).collect(),
        key=lambda r: r["_bkt"],
    )
    if not counts:  # empty input with caller-provided bounds
        return candidates.withColumn(
            "seq", F.lit(int(base_seq)).cast("long"))
    flat_off: list = []
    offset = 0
    for r in counts:
        flat_off += [F.lit(int(r["_bkt"])), F.lit(int(offset))]
        offset += r["n"]
    off_of = F.create_map(*flat_off)[F.col("_bkt")]
    ordering = [F.col(c).asc() for c in order_cols] + [
        F.xxhash64(*[F.col(c) for c in candidates.columns]).asc()]
    w = W.partitionBy("_bkt").orderBy(*ordering)
    return (
        candidates.withColumn("_bkt", bucket)
        .withColumn(
            "seq",
            (F.lit(int(base_seq)) + off_of + F.row_number().over(w)
             - F.lit(1)).cast("long"),
        )
        .drop("_bkt")
    )


def recrawl_intervals(history: DataFrame, max_exponent: int = 10,
                      url_col: str = "url", wave_col: str = "wave",
                      fp_col: str = "fingerprint") -> DataFrame:
    """Freshness-aware re-crawl scheduling over a fetch history
    ``(url, wave, fingerprint)``: the classic adaptive-revisit policy
    (Cho & Garcia-Molina, "Effective Page Refresh Policies for Web
    Crawlers", TODS 2003) — a page observed UNCHANGED doubles its revisit
    interval (capped at ``2**max_exponent`` waves), any content change
    resets it to 1. The reference re-fetches everything each run
    (worker.py enqueues the full config set); at a 10^10-URL frontier,
    revisit scheduling IS the crawl budget, so intervals must be derivable
    in one pass, not tracked per-URL on a driver.

    Emits per observation: ``changed`` (fingerprint differs from the
    previous fetch; first fetch counts as changed), ``streak``
    (consecutive unchanged observations), ``interval`` (waves until next
    revisit: ``2**min(streak, max_exponent)``), and ``next_due_wave``.
    Feed ``next_due_wave <= current_wave`` into ``schedule_wave`` as the
    frontier's revisit filter.

    Scale shape: every window shares PARTITION BY url ORDER BY wave, so
    Catalyst plans ONE exchange + one Window stage; the arithmetic is
    integer (bit shift), so any SQL engine reproduces it exactly.
    """
    w = W.partitionBy(url_col).orderBy(wave_col)
    prev_fp = F.lag(fp_col).over(w)
    changed = prev_fp.isNull() | (F.col(fp_col) != prev_fp)
    run = w.rowsBetween(W.unboundedPreceding, 0)
    df = (
        history.withColumn("_obs", F.row_number().over(w))
        .withColumn("changed", changed)
    )
    last_changed = F.max(F.when(F.col("changed"), F.col("_obs"))).over(run)
    streak = (F.col("_obs") - last_changed).cast("int")
    # shiftleft with a COLUMN bit count needs the SQL form (the Python
    # F.shiftleft only takes a literal int)
    interval = F.expr(
        f"CAST(shiftleft(1, least(streak, {int(max_exponent)})) AS BIGINT)"
    )
    return (
        df.withColumn("streak", streak)
        .withColumn("interval", interval)
        .withColumn("next_due_wave",
                    (F.col(wave_col) + F.col("interval")).cast("long"))
        .drop("_obs")
    )


def crawl_snapshot_diff(prev: DataFrame, curr: DataFrame,
                        url_col: str = "url",
                        fp_col: str = "fingerprint") -> DataFrame:
    """Incremental-crawl snapshot diff: classify every URL across two
    consecutive crawl snapshots ``(url, fingerprint)`` as ``new`` (only in
    the current crawl), ``vanished`` (only in the previous), ``changed``
    (present in both, fingerprint differs) or ``unchanged``.

    This is the batch producer for ``recrawl_intervals``' fetch history
    (the reference re-fetches every configured URL each run —
    /root/reference/worker.py:98-219 — and has no change detection at
    all; at a 10^10-URL corpus the diff IS the crawl report): the
    ``changed``/``new`` partition seeds the next wave's priority frontier,
    ``vanished`` rows feed tombstones, and the per-status counts are the
    wave's freshness metrics.

    Scale shape: ONE full-outer join on the URL key. Both snapshot sides
    are unique on ``url`` (crawl outputs), so the join carries no skew
    and AQE's post-shuffle coalescing right-sizes the output; when the
    standing snapshots are written co-bucketed on the url key
    (``sinks/bucketed.py``) the sort-merge join needs no exchange at all.
    Status is a codegen'd CASE over the two fingerprint columns — no
    second pass, no Python.
    """
    p = prev.select(F.col(url_col).alias("url"),
                    F.col(fp_col).alias("prev_fingerprint"))
    c = curr.select(F.col(url_col).alias("url"),
                    F.col(fp_col).alias("curr_fingerprint"))
    status = (
        F.when(F.col("prev_fingerprint").isNull(), F.lit("new"))
        .when(F.col("curr_fingerprint").isNull(), F.lit("vanished"))
        .when(F.col("prev_fingerprint") == F.col("curr_fingerprint"),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        p.join(c, "url", "full_outer")
        .select("url", "prev_fingerprint", "curr_fingerprint",
                status.alias("status"))
    )


def trap_patterns(df: DataFrame, url_col: str = "url",
                  min_urls: int = 50) -> DataFrame:
    """Crawler-trap detection: collapse every URL to its digit-normalized
    template (``/cal/2026/08/19`` -> ``/cal/N/N/N``) and flag (host,
    pattern) templates that account for >= ``min_urls`` distinct URLs —
    calendars, session-id mazes, paginated mirrors, the classic infinite
    URL spaces (Heydon & Najork, "Mercator" 1999 §4; the reference has no
    trap defense at all, its config lists fixed URLs,
    /root/reference/worker.py:98-219). The flagged templates feed the
    frontier as host+prefix deny rules — at 10^10 URLs an undetected
    calendar trap spends the whole politeness budget of its host on
    garbage.

    Returns ``(host, pattern, n_urls)`` for flagged templates.

    Scale shape: the normalization is one codegen'd regexp projection; the
    count is one hash aggregate on (host, pattern) with map-side partial
    combine (the template space is tiny next to the URL space — that
    collapse IS the detector), and the threshold filter runs on the
    aggregate side. distinct-before-count keeps re-discovered URLs from
    inflating a template.
    """
    host = F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/?#]+)", 1)
    pattern = F.regexp_replace(
        F.regexp_extract(F.col(url_col), r"^[a-z]+://[^/?#]+(.*)$", 1),
        r"[0-9]+", "N")
    return (
        df.select(host.alias("host"), pattern.alias("pattern"),
                  F.col(url_col).alias("url"))
        .distinct()
        .groupBy("host", "pattern")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .filter(F.col("n_urls") >= int(min_urls))
    )


def gate_trap_patterns(frontier: DataFrame, deny: DataFrame,
                       url_col: str = "url",
                       host_col: str = "host") -> DataFrame:
    """Drop frontier rows whose digit-normalized URL template is on the
    deny list — the enforcement half of ``trap_patterns`` (its output IS
    this input): once a calendar maze or session-id space is flagged,
    every further URL minted by it dies here before costing a politeness
    slot or a fetch.

    Scale shape: the candidate's template is the same one codegen'd
    regexp projection as the detector; the deny list is tiny (flagged
    templates, not URLs) so the LEFT ANTI join on (host, pattern)
    broadcasts — no shuffle touches the frontier.
    """
    pattern = F.regexp_replace(
        F.regexp_extract(F.col(url_col), r"^[a-z]+://[^/?#]+(.*)$", 1),
        r"[0-9]+", "N")
    deny_slim = F.broadcast(
        deny.select(F.col(host_col).alias("_deny_host"),
                    F.col("pattern").alias("_deny_pattern")).distinct())
    annotated = frontier.withColumn("_pattern", pattern)
    return (
        annotated.join(
            deny_slim,
            (annotated[host_col] == deny_slim["_deny_host"])
            & (annotated["_pattern"] == deny_slim["_deny_pattern"]),
            "left_anti",
        ).drop("_pattern")
    )


def aimd_budgets(history: DataFrame, host_col: str = "host",
                 wave_col: str = "wave", attempted_col: str = "n_attempted",
                 failed_col: str = "n_failed", init: int = 8,
                 cap: int = 64) -> DataFrame:
    """AIMD (additive-increase / multiplicative-decrease) adaptive
    politeness budgets — the TCP-congestion-control rule applied to
    per-host fetch rates, the standard production answer to servers that
    start throwing 5xx/timeouts under crawl load: a FAILURE wave (at
    least half the host's fetches failed, integer test
    2*n_failed >= n_attempted) halves the next wave's budget
    (floor, min 1); a healthy wave adds 1 (max ``cap``).

    Returns the full trajectory ``(host, wave, budget)`` where ``budget``
    is the budget IN EFFECT for that wave (wave 0 always runs at
    ``init``), so the scheduler can join wave N+1's frontier against the
    budget that wave N's outcome produced.

    Scale shape: the recurrence is sequential per host, but a host's wave
    history is tiny and bounded (one row per completed wave), so it is
    collected per host with one map-side-combined groupBy and folded with
    a native ``aggregate`` HOF — interpreted, but over |waves|-length
    arrays, never over fetch-level data; no driver involvement, no
    iteration over the corpus. All arithmetic is integer (DIV/least/
    greatest), so the trajectory is bit-reproducible on any engine."""
    per_wave = history.select(
        F.col(host_col).alias("host"),
        F.struct(
            F.col(wave_col).cast("long").alias("wave"),
            F.col(attempted_col).cast("long").alias("att"),
            F.col(failed_col).cast("long").alias("fail"),
        ).alias("w"),
    )
    folded = (
        per_wave.groupBy("host")
        .agg(F.sort_array(F.collect_list("w")).alias("ws"))
        .select(
            "host", "ws",
            # budgets[i] = budget in effect for ws[i]; fold appends the
            # NEXT wave's budget from each observed outcome, so slice off
            # the trailing lookahead entry
            F.expr(f"""
                slice(
                  aggregate(
                    ws,
                    array({int(init)}L),
                    (acc, x) -> array_append(
                      acc,
                      CASE WHEN 2 * x.fail >= x.att
                           THEN greatest(1L, element_at(acc, -1) DIV 2)
                           ELSE least({int(cap)}L,
                                      element_at(acc, -1) + 1)
                      END)),
                  1, size(ws))
            """).alias("budgets"),
        )
    )
    return (
        folded.select(
            "host",
            F.posexplode(F.arrays_zip("ws", "budgets")).alias("_i", "z"))
        .select("host", F.col("z.ws.wave").alias("wave"),
                F.col("z.budgets").alias("budget"))
    )


def ewma_crawl_delay(fetch_log: DataFrame, host_col: str = "host",
                     wave_col: str = "wave", latency_col: str = "latency_ms",
                     alpha_num: int = 1, alpha_den: int = 4,
                     scale: int = 1000, k_num: int = 3, k_den: int = 2,
                     min_delay_ms: int = 100,
                     max_delay_ms: int = 30_000) -> DataFrame:
    """EWMA-adaptive per-host crawl delay — the latency-tracking
    complement to :func:`aimd_budgets`: AIMD reacts to FAILURES, this
    reacts to response-time drift (a server slowing from 80ms to 2s is
    signalling load long before it starts 500ing), the same smoothed-RTT
    rule TCP uses for RTO (Jacobson 1988) and polite crawlers use for
    adaptive inter-request delays.

    Per host, waves in order (multiple fetches per (host, wave) are
    floor-averaged first — integer ``sum DIV count``):

        ewma_0 = lat_0 * scale
        ewma_t = (alpha_num*lat_t*scale + (alpha_den-alpha_num)*ewma_{t-1})
                 DIV alpha_den
        delay_t = clamp((k_num * ewma_t) DIV (k_den * scale),
                        min_delay_ms, max_delay_ms)

    Returns the full trajectory ``(host, wave, ewma_fp, delay_ms)`` —
    ``delay_ms`` is the inter-request delay IN EFFECT after observing
    that wave, ready to join against the next wave's schedule.

    Scale shape (the aimd_budgets pattern): the recurrence is sequential
    per host, but a host's wave history is one row per wave — collected
    per host with one map-side-combined groupBy and folded with a native
    ``aggregate`` HOF over the |waves|-length array; no driver loop, no
    Python stage, never fetch-level data. All arithmetic is integer
    fixed-point (``scale`` sub-ms units), so the trajectory is
    bit-reproducible and the DuckDB oracle replays it as a
    WITH RECURSIVE walk, value-exact."""
    per_wave = (
        fetch_log.groupBy(
            F.col(host_col).alias("host"), F.col(wave_col).alias("wave"))
        .agg(F.expr(f"sum({latency_col}) DIV count(1)").alias("lat"))
        .select("host", F.struct(
            F.col("wave").cast("long").alias("wave"),
            F.col("lat").cast("long").alias("lat")).alias("w"))
    )
    a, d, s = int(alpha_num), int(alpha_den), int(scale)
    folded = (
        per_wave.groupBy("host")
        .agg(F.sort_array(F.collect_list("w")).alias("ws"))
        .select(
            "host", "ws",
            F.expr(f"""
                aggregate(
                  ws,
                  cast(array() as array<bigint>),
                  (acc, x) -> array_append(
                    acc,
                    CASE WHEN size(acc) = 0 THEN x.lat * {s}
                         ELSE ({a} * x.lat * {s}
                               + {d - a} * element_at(acc, -1)) DIV {d}
                    END))
            """).alias("ewmas"),
        )
    )
    return (
        folded.select(
            "host",
            F.posexplode(F.arrays_zip("ws", "ewmas")).alias("_i", "z"))
        .select(
            "host", F.col("z.ws.wave").alias("wave"),
            F.col("z.ewmas").alias("ewma_fp"),
            F.greatest(
                F.lit(int(min_delay_ms)).cast("long"),
                F.least(
                    F.lit(int(max_delay_ms)).cast("long"),
                    F.expr(f"({int(k_num)} * z.ewmas) "
                           f"DIV ({int(k_den)} * {s})"),
                )).alias("delay_ms"),
        )
    )


def ewma_crawl_delay_oracle_sql(fetch_log_sql: str, alpha_num: int = 1,
                                alpha_den: int = 4, scale: int = 1000,
                                k_num: int = 3, k_den: int = 2,
                                min_delay_ms: int = 100,
                                max_delay_ms: int = 30_000) -> str:
    """WITH RECURSIVE DuckDB twin of :func:`ewma_crawl_delay` (the
    aimd_budgets oracle pattern): per-host row_number walk applying the
    identical integer fixed-point recurrence and clamp."""
    a, d, s = int(alpha_num), int(alpha_den), int(scale)
    return f"""
WITH RECURSIVE raw AS ({fetch_log_sql}),
hist AS (
  SELECT host, wave, CAST(SUM(latency_ms) // COUNT(*) AS BIGINT) AS lat
  FROM raw GROUP BY host, wave
), idx AS (
  SELECT host, wave, lat,
         row_number() OVER (PARTITION BY host ORDER BY wave) AS i
  FROM hist
), rec AS (
  SELECT host, wave, lat, i, CAST(lat * {s} AS BIGINT) AS ewma_fp
  FROM idx WHERE i = 1
  UNION ALL
  SELECT idx.host, idx.wave, idx.lat, idx.i,
         CAST(({a} * idx.lat * {s} + {d - a} * rec.ewma_fp) // {d}
              AS BIGINT)
  FROM idx JOIN rec ON idx.host = rec.host AND idx.i = rec.i + 1
)
SELECT host, wave, ewma_fp,
       greatest({int(min_delay_ms)},
                least({int(max_delay_ms)},
                      ({int(k_num)} * ewma_fp) // ({int(k_den)} * {s})))
         ::BIGINT AS delay_ms
FROM rec"""


# ---------------------------------------------------------------------------
# rendezvous (HRW) shard assignment
# ---------------------------------------------------------------------------

def rendezvous_shard(df: DataFrame, key_col: str, n_shards: int,
                     hash_family: str = "xxhash64",
                     out_col: str = "shard") -> DataFrame:
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar,
    IEEE/ACM ToN 1998): ``shard(key) = argmax over s of hash(key, s)``.
    THE frontier-partitioning primitive for an elastic crawl cluster:
    unlike ``hash(key) % n``, growing n -> n+1 shards reassigns only the
    keys the NEW shard wins (~1/(n+1) of them) — per-host state (seen
    shards, robots caches, politeness windows) stays put through
    rescales. Ties (astronomically rare, but the spec must be total)
    break to the smallest shard id.

    Scale shape: ZERO shuffle — the argmax is a single narrow projection
    (an array of (hash, shard) structs reduced with array_max, entirely
    inside whole-stage codegen), so sharding 10^10 frontier rows costs
    one map pass. ``n_shards`` is bounded (a cluster has at most
    thousands of executor groups); for n_shards beyond ~1000 prefer
    hashing onto virtual nodes.

    md5 family is the oracle twin (``md5(key || '#hrw' || s)`` 60-bit);
    xxhash64(key, s) is the scale path.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    kc = F.col(key_col)
    structs = []
    for s in range(int(n_shards)):
        if hash_family == "md5":
            h = F.conv(
                F.substring(
                    F.md5(F.concat(kc.cast("string"), F.lit(f"#hrw{s}"))),
                    1, 15),
                16, 10).cast("long")
        elif hash_family == "xxhash64":
            h = F.xxhash64(kc, F.lit(s))
        else:
            raise ValueError(f"unknown hash_family: {hash_family}")
        # negate the shard id so array_max's lexicographic struct order
        # breaks hash ties toward the SMALLEST shard
        structs.append(F.struct(h.alias("h"), F.lit(-s).alias("ns")))
    best = F.array_max(F.array(*structs))
    return df.withColumn(out_col, (-best["ns"]).cast("int"))


def rendezvous_shard_sql_expr(key_sql: str, n_shards: int) -> str:
    """DuckDB scalar expression twin of :func:`rendezvous_shard` (md5
    family): a CASE chain selecting the first shard id whose hash equals
    the greatest — identical smallest-id tie-break."""
    hs = [
        f"('0x' || substring(md5({key_sql} || '#hrw{s}'), 1, 15))::BIGINT"
        for s in range(int(n_shards))
    ]
    greatest = "greatest(" + ", ".join(hs) + ")"
    cases = " ".join(
        f"WHEN {h} = {greatest} THEN {s}" for s, h in enumerate(hs))
    return f"(CASE {cases} END)"


# ---------------------------------------------------------------------------
# log-bucket latency quantiles
# ---------------------------------------------------------------------------

def latency_quantiles(fetch_log: DataFrame, host_col: str = "host",
                      latency_col: str = "latency_ms",
                      quantiles: tuple[int, ...] = (50, 95, 99)
                      ) -> DataFrame:
    """Per-host fetch-latency percentiles from a log2-bucket histogram —
    the HdrHistogram idea (fixed exponential buckets, bounded relative
    error) reduced to pure relational algebra: bucket = bit_length(x)-1
    (so bucket b covers [2^b, 2^{b+1})), counts per (host, bucket), and
    each requested percentile is the UPPER BOUND of the first bucket
    whose cumulative count crosses q% of the host's total. Feeds the
    politeness tier: p95/p99 (not the mean the EWMA tracks) is what a
    timeout/backoff policy should key on.

    Why not percentile_approx: Spark's GK sketch is float-valved,
    merge-order-dependent at the margins, and not reproducible in
    another engine. The histogram is exact integer state: deterministic
    under any partitioning, mergeable wave-over-wave (sum the counts),
    and the quantile read-out is an integer comparison
    (``100 * cum >= q * total``), so DuckDB replays it bit-for-bit.
    Relative error is bounded by the bucket width (factor of 2; use
    quarter-decade buckets for tighter SLOs, same shape).

    Scale shape: one map-side-combined groupBy to (host, bucket) — rows
    bounded by hosts x 64 — then a tiny cumulative window per host.
    Non-positive latencies clamp to bucket 0 ([1, 2) i.e. value 1).

    Returns ``(host, n_obs, p{q}_hi...)`` with p-hi = 2^{b+1} - 1, the
    inclusive upper bound of the crossing bucket.
    """
    lc = F.col(latency_col)
    # bit_length(x) - 1 == length(bin(x)) - 1 for positive BIGINT
    bucket = (
        F.when(lc <= 0, F.lit(0))
        .otherwise(F.length(F.bin(lc.cast("long"))) - F.lit(1))
        .cast("int")
    )
    counts = (
        fetch_log.select(F.col(host_col).alias("host"),
                         bucket.alias("bucket"))
        .groupBy("host", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (W.partitionBy("host").orderBy("bucket")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    wt = W.partitionBy("host").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    cum = (counts.withColumn("cum", F.sum("cnt").over(w))
           .withColumn("total", F.sum("cnt").over(wt)))
    aggs = [F.max("total").alias("n_obs")]
    for q in quantiles:
        aggs.append(
            F.min(
                F.when(F.lit(100) * F.col("cum") >= F.lit(int(q))
                       * F.col("total"), F.col("bucket"))
            ).alias(f"_b{q}")
        )
    out = cum.groupBy("host").agg(*aggs)
    sel = [F.col("host"), F.col("n_obs")]
    for q in quantiles:
        sel.append(
            F.expr(f"CAST(shiftleft(1L, _b{q} + 1) - 1 AS BIGINT)")
            .alias(f"p{q}_hi"))
    return out.select(*sel)


def latency_quantiles_oracle_sql(fetch_log_sql: str,
                                 quantiles: tuple[int, ...] = (50, 95, 99)
                                 ) -> str:
    """DuckDB twin of :func:`latency_quantiles`: same bucket derivation
    (length(bin(x)) - 1 with the <=0 clamp), same cumulative window and
    integer crossing test. Ends in a SELECT with no ORDER BY."""
    bq = ",\n         ".join(
        f"min(CASE WHEN 100 * cum >= {int(q)} * total THEN bucket END)"
        f" AS _b{q}" for q in quantiles)
    ps = ",\n       ".join(
        f"CAST((1::BIGINT << (_b{q} + 1)) - 1 AS BIGINT) AS p{int(q)}_hi"
        for q in quantiles)
    return f"""WITH log AS ({fetch_log_sql}),
bucketed AS (
  SELECT host,
         CASE WHEN latency_ms <= 0 THEN 0
              ELSE length(bin(latency_ms::BIGINT)) - 1 END AS bucket
  FROM log),
counts AS (SELECT host, bucket, count(*)::BIGINT AS cnt
           FROM bucketed GROUP BY host, bucket),
cums AS (
  SELECT host, bucket, cnt,
         sum(cnt) OVER (PARTITION BY host ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
         sum(cnt) OVER (PARTITION BY host) AS total
  FROM counts),
agg AS (
  SELECT host, max(total)::BIGINT AS n_obs,
         {bq}
  FROM cums GROUP BY host)
SELECT host, n_obs,
       {ps}
FROM agg"""


# ---------------------------------------------------------------------------
# water-filling global budget allocation
# ---------------------------------------------------------------------------

def waterfill_budgets(demands: DataFrame, budget: int,
                      host_col: str = "host", demand_col: str = "demand",
                      weight_col: str = "weight") -> DataFrame:
    """Weighted water-filling (max-min fair) allocation of a single
    global fetch budget across hosts: find the largest integer water
    level L such that ``sum over hosts of min(demand, L * weight) <=
    budget`` and allocate ``min(demand, L * weight)`` to each host — the
    classic max-min fairness rule (Bertsekas & Gallager, Data Networks
    §6.5.2) that per-host caps (politeness budgets) and per-host
    priorities (weights) both fold into. Hosts with little pending work
    get it all; the rest share the remainder in proportion to weight —
    no host starves, no budget is wasted on saturated hosts.

    Exact integer algorithm, two small shuffles: a host saturates at
    level ``t = ceil(demand / weight)``; f(L) is piecewise linear with
    breakpoints at the DISTINCT t values, so hosts are first collapsed
    to per-t (sum_demand, sum_weight) rows — the only global-ordered
    window then runs over distinct saturation levels, typically
    thousands of rows even for 10^8 hosts (it is the breakpoint set,
    not the host set; bucket t logarithmically if ever unbounded). Per
    breakpoint interval the max feasible L is closed-form
    ``(budget - cum_sat_demand) DIV remaining_weight`` — guarded to
    non-negative operands so Spark's truncating DIV and DuckDB's
    flooring // agree — clamped into the interval; L* is the max over
    intervals and the scalar rides a broadcast back onto the host table.
    Up to ``remaining_weight - 1`` units may be left unallocated
    (integer level); callers wanting exhaustion run a second pass over
    unsaturated hosts.

    Returns ``(host, demand, weight, alloc)``; hosts with demand <= 0
    are dropped (alloc would be 0).
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    B = int(budget)
    d = (
        demands.select(
            F.col(host_col).alias("host"),
            F.col(demand_col).cast("long").alias("demand"),
            F.col(weight_col).cast("long").alias("weight"),
        )
        .filter((F.col("demand") > 0) & (F.col("weight") > 0))
    )
    per_t = (
        d.withColumn("t", F.expr("(demand + weight - 1) DIV weight"))
        .groupBy("t")
        .agg(F.sum("demand").alias("sd"), F.sum("weight").alias("sw"))
    )
    w_ord = (W.orderBy("t")
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    w_all = W.orderBy("t").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing)
    rows = (
        per_t.withColumn("cd", F.sum("sd").over(w_ord))
        .withColumn("cw", F.sum("sw").over(w_ord))
        .withColumn("total_w", F.sum("sw").over(w_all))
        .withColumn("min_t", F.min("t").over(w_all))
        .withColumn("nxt", F.lead("t").over(W.orderBy("t")))
    )
    # candidate level inside [t, nxt-1]: all hosts with t' <= t saturated
    cand = F.expr(f"""
        CASE WHEN total_w - cw = 0 THEN (CASE WHEN cd <= {B} THEN t END)
             WHEN {B} >= cd THEN
               CASE WHEN ({B} - cd) DIV (total_w - cw) >= t
                    THEN least(({B} - cd) DIV (total_w - cw),
                               coalesce(nxt - 1, ({B} - cd)
                                        DIV (total_w - cw)))
               END
        END""")
    level = rows.select(cand.alias("cand"), "min_t", "total_w").groupBy().agg(
        F.max("cand").alias("_c"),
        F.max("min_t").alias("_mt"),
        F.max("total_w").alias("_tw"),
    ).select(
        F.greatest(
            F.coalesce(F.col("_c"), F.lit(-1)),
            F.least(F.expr(f"{B} DIV _tw"), F.col("_mt") - 1),
        ).cast("long").alias("level")
    )
    return (
        d.crossJoin(F.broadcast(level))
        .select(
            "host", "demand", "weight",
            F.least(F.col("demand"),
                    F.col("level") * F.col("weight"))
            .cast("long").alias("alloc"),
        )
    )


def waterfill_oracle_sql(demands_sql: str, budget: int) -> str:
    """DuckDB twin of :func:`waterfill_budgets`: identical breakpoint
    collapse, guarded non-negative integer division, interval clamp, and
    final greatest(max-candidate, below-first-breakpoint candidate).
    ``demands_sql`` must yield (host, demand, weight). Ends in a SELECT
    with no ORDER BY."""
    B = int(budget)
    return f"""WITH d AS (
  SELECT host, demand::BIGINT AS demand, weight::BIGINT AS weight
  FROM ({demands_sql}) WHERE demand > 0 AND weight > 0),
per_t AS (
  SELECT (demand + weight - 1) // weight AS t,
         sum(demand)::BIGINT AS sd, sum(weight)::BIGINT AS sw
  FROM d GROUP BY 1),
rows_ AS (
  SELECT t, sd, sw,
         sum(sd) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cd,
         sum(sw) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cw,
         sum(sw) OVER () AS total_w,
         min(t) OVER () AS min_t,
         lead(t) OVER (ORDER BY t) AS nxt
  FROM per_t),
cands AS (
  SELECT min_t, total_w,
         CASE WHEN total_w - cw = 0
                THEN (CASE WHEN cd <= {B} THEN t END)
              WHEN {B} >= cd THEN
                CASE WHEN ({B} - cd) // (total_w - cw) >= t
                     THEN least(({B} - cd) // (total_w - cw),
                                coalesce(nxt - 1, ({B} - cd)
                                         // (total_w - cw)))
                END
         END AS cand
  FROM rows_),
lvl AS (
  SELECT greatest(coalesce(max(cand), -1),
                  least({B} // max(total_w), max(min_t) - 1))::BIGINT
           AS level
  FROM cands)
SELECT d.host, d.demand, d.weight,
       least(d.demand, lvl.level * d.weight)::BIGINT AS alloc
FROM d, lvl"""


# ---------------------------------------------------------------------------
# Mercator front/back-queue politeness schedule
# ---------------------------------------------------------------------------

def mercator_schedule(frontier: DataFrame, n_queues: int,
                      url_col: str = "url", host_col: str = "host",
                      seq_col: str = "seq",
                      delay_col: str | None = None,
                      default_delay_ms: int = 1000,
                      hash_family: str = "md5") -> DataFrame:
    """Mercator-style back-queue fetch schedule (Heydon & Najork,
    "Mercator: a scalable, extensible web crawler", WWW Journal 1999,
    §3.2): hosts are pinned to one of ``n_queues`` back queues so no two
    workers ever fetch the same host concurrently, each host serializes
    its own URLs one crawl-delay apart, and each queue drains in
    earliest-ready-time order across the hosts it owns. The reference has
    the degenerate form (one global semaphore of 8, worker.py:31); at
    10^10 URLs the back-queue structure IS the politeness scheduler.

    Relational model, integer end-to-end:

    - ``queue``     = hash(host) mod n_queues (md5 60-bit oracle family
      or xxhash64+pmod scale family) — host affinity, never rebalanced
      mid-wave;
    - ``host_pos``  = 0-based FIFO position within the host (ordered by
      ``seq_col``);
    - ``ready_ms``  = host_pos * crawl_delay(host) — when the URL may
      be fetched, given the host serializes itself;
    - ``queue_pos`` = drain order within the queue: ORDER BY
      (ready_ms, seq) — the heap-pop order of Mercator's back-queue
      ready heap, made deterministic by the seq tie-break.

    Scale shape: two windows — PARTITION BY host (politeness) then
    PARTITION BY queue (drain order). The queue window is the wider one
    but n_queues is chosen ~3x the worker count (Mercator's rule), so
    rows-per-queue ~ frontier/n_queues, and the whole schedule is two
    exchanges with zero Python. ``delay_col`` (ms per host, e.g. from
    :func:`ewma_crawl_delay` or robots Crawl-delay) is optional;
    absent hosts fall back to ``default_delay_ms``.
    """
    if n_queues < 1:
        raise ValueError("n_queues must be >= 1")
    h = F.col(host_col)
    if hash_family == "md5":
        qid = F.pmod(
            F.conv(F.substring(F.md5(h.cast("string")), 1, 15), 16, 10)
            .cast("long"), F.lit(int(n_queues)))
    elif hash_family == "xxhash64":
        qid = F.pmod(F.xxhash64(h), F.lit(int(n_queues)))
    else:
        raise ValueError(f"unknown hash_family: {hash_family}")
    delay = (F.coalesce(F.col(delay_col), F.lit(int(default_delay_ms)))
             if delay_col else F.lit(int(default_delay_ms)))
    wh = W.partitionBy(host_col).orderBy(seq_col)
    out = (
        frontier.withColumn("queue", qid.cast("int"))
        .withColumn("host_pos",
                    (F.row_number().over(wh) - F.lit(1)).cast("long"))
        .withColumn("ready_ms",
                    (F.col("host_pos") * delay.cast("long")).cast("long"))
    )
    wq = W.partitionBy("queue").orderBy("ready_ms", seq_col)
    return out.withColumn("queue_pos",
                          (F.row_number().over(wq) - F.lit(1)).cast("long"))


def mercator_oracle_sql(frontier_sql: str, n_queues: int,
                        default_delay_ms: int = 1000,
                        delay_sql: str | None = None) -> str:
    """DuckDB twin of :func:`mercator_schedule` (md5 family): identical
    mod-hash queue pin, host FIFO window, and (ready_ms, seq) drain
    order."""
    # mirror the Spark twin's NULL fallback: a host with no delay row
    # gets default_delay_ms, never a NULL ready time
    delay = (f"coalesce({delay_sql}, {int(default_delay_ms)})"
             if delay_sql else str(int(default_delay_ms)))
    return f"""
WITH f AS ({frontier_sql}),
pinned AS (
  SELECT *,
         (('0x' || substring(md5(host), 1, 15))::BIGINT
          % {int(n_queues)})::INT AS queue,
         (row_number() OVER (PARTITION BY host ORDER BY seq) - 1)::BIGINT
           AS host_pos
  FROM f),
ready AS (
  SELECT *, (host_pos * ({delay}))::BIGINT AS ready_ms FROM pinned)
SELECT *,
       (row_number() OVER (PARTITION BY queue ORDER BY ready_ms, seq)
        - 1)::BIGINT AS queue_pos
FROM ready"""


# ---------------------------------------------------------------------------
# Poisson change-rate estimation (Cho & Garcia-Molina 2003)
# ---------------------------------------------------------------------------

def change_rate(history: DataFrame, url_col: str = "url",
                wave_col: str = "wave", fp_col: str = "fingerprint",
                max_interval: int = 1024) -> DataFrame:
    """Per-URL Poisson change-rate estimate from revisit history
    ``(url, wave, fingerprint)`` — the principled companion to
    :func:`recrawl_intervals`' double-or-reset heuristic. Cho &
    Garcia-Molina ("Estimating Frequency of Change", TOIT 2003, §4.2)
    show the naive X/T estimator is biased (a revisit sees AT MOST one
    change no matter how many occurred) and derive the consistent

        lambda_hat = -ln((n - X + 0.5) / (n + 0.5)) / Tbar

    where ``n`` = revisit comparisons, ``X`` = comparisons that showed a
    change, ``Tbar`` = mean inter-visit gap (the +0.5s are their
    continuity correction, which also keeps X = n finite). Output drives
    the revisit period: crawl a page about once per expected change.

    Exactness discipline (the lm_score/bm25 pattern): n, X and the wave
    span W are exact BIGINTs; the estimate is ONE fixed-order float
    expression over exactly-representable integers —
    ``floor((-1e6 * ln((2*(n-X)+1) / (2*n+1))) * n / W)`` — so both
    engines perform the identical ln / multiply / divide sequence on
    identical doubles. ``revisit_waves`` is then pure integer arithmetic:
    1e6 DIV lambda_fp, clamped to [1, max_interval].

    Scale shape: one window per URL (shared exchange with
    recrawl_intervals' shape) + one groupBy(url) — map-side combined;
    single-observation URLs (n = 0) emit NULL estimates and the max
    interval (nothing is known about them).

    Returns ``(url, n_obs, n_changed, wave_span, lambda_fp,
    revisit_waves)``.
    """
    w = W.partitionBy(url_col).orderBy(wave_col)
    prev_fp = F.lag(fp_col).over(w)
    obs = history.select(
        F.col(url_col).alias("url"), F.col(wave_col).alias("_wave"),
        F.when(prev_fp.isNull(), None)
        .otherwise((F.col(fp_col) != prev_fp).cast("int")).alias("_chg"),
    )
    agg = obs.groupBy("url").agg(
        F.count("_chg").cast("long").alias("n_obs"),
        F.coalesce(F.sum("_chg"), F.lit(0)).cast("long").alias("n_changed"),
        (F.max("_wave") - F.min("_wave")).cast("long").alias("wave_span"),
    )
    n, x, span = F.col("n_obs"), F.col("n_changed"), F.col("wave_span")
    ratio = ((F.lit(2) * (n - x) + F.lit(1)).cast("double")
             / (F.lit(2) * n + F.lit(1)).cast("double"))
    lam = F.floor(((F.lit(-1e6) * F.log(ratio)) * n.cast("double"))
                  / span.cast("double")).cast("long")
    cap = int(max_interval)
    revisit = (
        F.when(F.col("lambda_fp").isNull() | (F.col("lambda_fp") <= 0),
               F.lit(cap))
        .otherwise(F.least(F.greatest(
            F.expr("1000000 DIV lambda_fp"), F.lit(1)), F.lit(cap)))
        .cast("long")
    )
    return (
        agg.withColumn(
            "lambda_fp", F.when((n > 0) & (span > 0), lam))
        .withColumn("revisit_waves", revisit)
    )


def change_rate_oracle_sql(history_sql: str,
                           max_interval: int = 1024) -> str:
    """DuckDB twin of :func:`change_rate` — identical window, counts and
    the same fixed-order ln/multiply/divide float expression."""
    cap = int(max_interval)
    return f"""
WITH h AS ({history_sql}),
obs AS (
  SELECT url, wave AS _wave,
         CASE WHEN lag(fingerprint) OVER
                     (PARTITION BY url ORDER BY wave) IS NULL THEN NULL
              WHEN fingerprint <> lag(fingerprint) OVER
                     (PARTITION BY url ORDER BY wave) THEN 1 ELSE 0
         END AS _chg
  FROM h),
agg AS (
  SELECT url,
         count(_chg)::BIGINT AS n_obs,
         coalesce(sum(_chg), 0)::BIGINT AS n_changed,
         (max(_wave) - min(_wave))::BIGINT AS wave_span
  FROM obs GROUP BY url),
est AS (
  SELECT *,
         CASE WHEN n_obs > 0 AND wave_span > 0 THEN
           floor(((-1e6 * ln((2*(n_obs - n_changed) + 1)::DOUBLE
                             / (2*n_obs + 1)::DOUBLE))
                  * n_obs::DOUBLE) / wave_span::DOUBLE)::BIGINT
         END AS lambda_fp
  FROM agg)
SELECT url, n_obs, n_changed, wave_span, lambda_fp,
       (CASE WHEN lambda_fp IS NULL OR lambda_fp <= 0 THEN {cap}
             ELSE least(greatest(1000000 // lambda_fp, 1), {cap})
        END)::BIGINT AS revisit_waves
FROM est"""


# ---------------------------------------------------------------------------
# URL-template entropy (crawler-trap scoring)
# ---------------------------------------------------------------------------

TEMPLATE_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"


def url_template_entropy(df: DataFrame, url_col: str = "url",
                         min_urls: int = 20,
                         entropy_threshold_fp: int = 2_000_000
                         ) -> DataFrame:
    """Per-host Shannon entropy of URL *path templates* — the statistical
    trap detector that complements :func:`trap_patterns`' structural
    rules. A host minting session ids / calendar pages into the path
    produces a near-unique template per URL, so the template distribution
    approaches uniform and its entropy approaches ln(n): high entropy
    over many URLs = the host's URL space is not converging = trap (the
    signal behind IRLbot's "spam and infinite-loop avoidance", Lee et
    al., TWEB 2009). Low entropy = few templates serve all pages = a
    finite site.

    Template = URL path with every digit run collapsed to ``D`` and every
    long hex run to ``X`` (order matters: hex first, else hex runs with
    digits split). Entropy is computed EXACTLY in fixed point via
    ``H = ln(N) - (sum_t c_t*ln(c_t)) / N``: each template row
    contributes ``floor(1e6 * c * ln(c))`` — a BIGINT — so the per-host
    sum is exact integer under any partitioning, and

        entropy_fp = floor(1e6 * ln(N)) - (S DIV N)

    is pure integer arithmetic both engines replay bit-for-bit
    (floor-before-sum, the bm25/lm_score discipline; c=1 rows contribute
    exactly 0). ``trap`` fires when entropy_fp exceeds the threshold
    (default 2.0 nats) with at least ``min_urls`` evidence.

    Scale shape: two map-side-combined groupBys — (host, template) then
    host — both narrow projections; no windows, no Python.

    Returns ``(host, n_urls, n_templates, entropy_fp, trap)``.
    """
    u = F.col(url_col)
    path = F.regexp_extract(u, TEMPLATE_PATH_RE, 1)
    template = F.regexp_replace(
        F.regexp_replace(path, r"[0-9a-fA-F]{8,}", "X"), r"[0-9]+", "D")
    per_t = (
        df.select(_mercator_host(u).alias("host"),
                  template.alias("template"))
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    term_fp = F.floor(F.lit(1e6) * F.col("c").cast("double")
                      * F.log(F.col("c").cast("double"))).cast("long")
    per_h = (
        per_t.select("host", "c", term_fp.alias("_term"))
        .groupBy("host")
        .agg(F.sum("c").cast("long").alias("n_urls"),
             F.count(F.lit(1)).cast("long").alias("n_templates"),
             F.sum("_term").cast("long").alias("_s"))
    )
    ent = (F.floor(F.lit(1e6) * F.log(F.col("n_urls").cast("double")))
           .cast("long") - F.expr("_s DIV n_urls")).cast("long")
    return (
        per_h.withColumn("entropy_fp", ent)
        .withColumn(
            "trap",
            (F.col("entropy_fp") > int(entropy_threshold_fp))
            & (F.col("n_urls") >= int(min_urls)))
        .drop("_s")
    )


def _mercator_host(c):
    return F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)


def url_template_entropy_oracle_sql(urls_sql: str, min_urls: int = 20,
                                    entropy_threshold_fp: int = 2_000_000
                                    ) -> str:
    """DuckDB twin of :func:`url_template_entropy` — identical host/path
    regexes, per-row floor-quantized c*ln(c), integer read-out."""
    return f"""
WITH u AS ({urls_sql}),
per_t AS (
  SELECT regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)
           AS host,
         regexp_replace(
           regexp_replace(
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1),
             '[0-9a-fA-F]{{8,}}', 'X', 'g'),
           '[0-9]+', 'D', 'g') AS template,
         count(*)::BIGINT AS c
  FROM u GROUP BY 1, 2),
per_h AS (
  SELECT host, sum(c)::BIGINT AS n_urls, count(*)::BIGINT AS n_templates,
         sum(floor(1e6 * c::DOUBLE * ln(c::DOUBLE))::BIGINT)::BIGINT AS _s
  FROM per_t GROUP BY host)
SELECT host, n_urls, n_templates,
       (floor(1e6 * ln(n_urls::DOUBLE))::BIGINT - _s // n_urls)::BIGINT
         AS entropy_fp,
       (floor(1e6 * ln(n_urls::DOUBLE))::BIGINT - _s // n_urls
        > {int(entropy_threshold_fp)}) AND n_urls >= {int(min_urls)}
         AS trap
FROM per_h"""


# ---------------------------------------------------------------------------
# Wilson-lower-bound fetch success ranking
# ---------------------------------------------------------------------------

def wilson_success(history: DataFrame, host_col: str = "host",
                   ok_col: str = "ok") -> DataFrame:
    """Per-host fetch-success ranking by the Wilson score interval's
    lower bound (Wilson 1927; the "how not to sort by average rating"
    correction): a host that served 3/3 requests must NOT outrank one
    that served 96/100, so the retry/suspend policy sorts by the
    confidence-adjusted lower bound, not the raw ratio. z = 2
    (~97.7% one-sided) keeps every constant an exact small integer:

        lb = (s + 2 - 2*sqrt(s*(n-s)/n + 1)) / (n + 4)

    Determinism: n and s are exact BIGINTs from one map-side-combined
    groupBy; the bound is ONE fixed-order double expression over
    exactly-representable integers — division, sqrt (correctly rounded
    per IEEE 754, so engine-identical), multiply, divide — floored to
    1e6 fixed point. No windows, no Python.

    Returns ``(host, n, s, wilson_fp)``.
    """
    agg = (
        history.groupBy(F.col(host_col).alias("host"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.coalesce(
                 F.sum(F.col(ok_col).cast("int")), F.lit(0))
             .cast("long").alias("s"))
    )
    n, s = F.col("n").cast("double"), F.col("s").cast("double")
    lb = ((s + F.lit(2.0)
           - F.lit(2.0) * F.sqrt(s * (n - s) / n + F.lit(1.0)))
          / (n + F.lit(4.0)))
    return agg.withColumn(
        "wilson_fp", F.floor(F.lit(1e6) * lb).cast("long"))


def wilson_success_oracle_sql(history_sql: str) -> str:
    """DuckDB twin of :func:`wilson_success` — identical counts and the
    same fixed-order sqrt expression."""
    return f"""
WITH h AS ({history_sql}),
agg AS (
  SELECT host, count(*)::BIGINT AS n,
         coalesce(sum(CASE WHEN ok THEN 1 ELSE 0 END), 0)::BIGINT AS s
  FROM h GROUP BY host)
SELECT host, n, s,
       floor(1e6 * ((s::DOUBLE + 2.0
                     - 2.0 * sqrt(s::DOUBLE * (n::DOUBLE - s::DOUBLE)
                                  / n::DOUBLE + 1.0))
                    / (n::DOUBLE + 4.0)))::BIGINT AS wilson_fp
FROM agg"""


# ---------------------------------------------------------------------------
# HTTP cache-policy revisit decisions
# ---------------------------------------------------------------------------

def cache_policy(fetch_log: DataFrame, now_s: int,
                 url_col: str = "url") -> DataFrame:
    """RFC 9111 freshness arithmetic over a fetch log — the header-aware
    upgrade of the reference's fixed-TTL result cache
    (/root/reference/cache.py: every result expires after one global
    TTL): each URL's OWN ``Cache-Control``/``Expires``/validator headers
    decide when a revisit is due and whether it can be a cheap
    conditional request. Semantics (the deterministic core of §4.2):

    - ``no-store``/``no-cache`` -> always stale (revisit now);
    - ``max-age=N`` (first occurrence in the header) wins over
      ``Expires``; fresh until ``fetched_at + N``;
    - ``Expires`` (already parsed to epoch seconds by the fetch layer,
      NULL if absent/malformed) used otherwise;
    - neither -> heuristic freshness = ``(fetched_at - last_modified)
      DIV 10`` (the RFC's 10% rule), 0 without a validator;
    - ``revalidable`` = an ETag or Last-Modified exists, so the due
      fetch can be conditional (If-None-Match / If-Modified-Since) —
      at crawl scale the 304 path is the bandwidth budget.

    Input columns: ``url, fetched_at (epoch s), cache_control (string,
    nullable), expires_s (epoch s, nullable), last_modified_s (epoch s,
    nullable), etag (string, nullable)``. All arithmetic is integer;
    one narrow projection, no shuffle, no Python.

    Returns the input plus ``fresh_until_s, stale (as of now_s),
    revalidable``.
    """
    cc = F.coalesce(F.lower(F.col("cache_control")), F.lit(""))
    no_cache = cc.contains("no-store") | cc.contains("no-cache")
    max_age = F.regexp_extract(cc, r"max-age=(\d+)", 1)
    has_ma = max_age != ""
    heur = F.when(
        F.col("last_modified_s").isNotNull()
        & (F.col("fetched_at") > F.col("last_modified_s")),
        F.expr("(fetched_at - last_modified_s) DIV 10")).otherwise(F.lit(0))
    fresh_until = (
        F.when(no_cache, F.col("fetched_at"))
        .when(has_ma, F.col("fetched_at") + max_age.cast("long"))
        .when(F.col("expires_s").isNotNull(), F.col("expires_s"))
        .otherwise(F.col("fetched_at") + heur)
        .cast("long")
    )
    return (
        fetch_log.withColumn("fresh_until_s", fresh_until)
        .withColumn("stale", F.col("fresh_until_s") <= F.lit(int(now_s)))
        .withColumn(
            "revalidable",
            F.col("etag").isNotNull() | F.col("last_modified_s").isNotNull())
    )


def cache_policy_oracle_sql(fetch_log_sql: str, now_s: int) -> str:
    """DuckDB twin of :func:`cache_policy` — identical precedence chain
    and integer heuristic."""
    return f"""
WITH f AS ({fetch_log_sql}),
base AS (
  SELECT *,
         coalesce(lower(cache_control), '') AS _cc,
         regexp_extract(coalesce(lower(cache_control), ''),
                        'max-age=(\\d+)', 1) AS _ma
  FROM f)
SELECT * EXCLUDE (_cc, _ma),
       (CASE WHEN _cc LIKE '%no-store%' OR _cc LIKE '%no-cache%'
             THEN fetched_at
             WHEN _ma <> '' THEN fetched_at + _ma::BIGINT
             WHEN expires_s IS NOT NULL THEN expires_s
             ELSE fetched_at + (CASE WHEN last_modified_s IS NOT NULL
                                      AND fetched_at > last_modified_s
                                     THEN (fetched_at - last_modified_s)
                                          // 10
                                     ELSE 0 END)
        END)::BIGINT AS fresh_until_s,
       (CASE WHEN _cc LIKE '%no-store%' OR _cc LIKE '%no-cache%'
             THEN fetched_at
             WHEN _ma <> '' THEN fetched_at + _ma::BIGINT
             WHEN expires_s IS NOT NULL THEN expires_s
             ELSE fetched_at + (CASE WHEN last_modified_s IS NOT NULL
                                      AND fetched_at > last_modified_s
                                     THEN (fetched_at - last_modified_s)
                                          // 10
                                     ELSE 0 END)
        END) <= {int(now_s)} AS stale,
       (etag IS NOT NULL OR last_modified_s IS NOT NULL) AS revalidable
FROM base"""


def ucb_schedule(history: DataFrame, host_col: str = "host",
                 ok_col: str = "ok", top_k: int = 20) -> DataFrame:
    """UCB1 bandit scheduling over fetch-success history (Auer et al.,
    Machine Learning 2002): the next crawl wave's host budget should
    EXPLOIT hosts that served well AND EXPLORE hosts with thin history —
    a host that failed its only probe must not be written off the way a
    0/100 host is. The score is the classic

        mean + sqrt(2 ln N / n)

    with the ln made engine-exact: ``ilog2(N)`` — the binary-string
    length of the total pull count, an exact string/integer op on both
    engines — replaces ln N (same growth, deterministic), the division
    is integer, and the final ``sqrt`` of that integer is IEEE
    correctly-rounded, hence bit-identical across JVM and DuckDB. All
    fixed point at 1e6: mean_fp = ok*1e6 DIV n; bonus_fp =
    floor(sqrt((2*ilog2(N)*1e12) DIV n)).

    Complements the adaptive-politeness tier: AIMD reacts to failures,
    EWMA tracks latency, Wilson ranks confidence — UCB allocates the
    explore/exploit budget. One map-side-combined groupBy + a broadcast
    1-row total + one top-k window (WindowGroupLimit prunes map-side).

    Returns (host, n, ok_n, mean_fp, bonus_fp, score_fp, picked),
    ``picked`` marking the top_k hosts by (score_fp desc, host asc).
    """
    per_host = history.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(ok_col).cast("long")).cast("long").alias("ok_n"),
    )
    total = per_host.agg(F.sum("n").cast("long").alias("_N"))
    scored = (
        per_host.crossJoin(F.broadcast(total))
        # ilog2 via base-2 string length: exact on any engine
        .withColumn("_ilog2", F.length(F.conv(F.col("_N"), 10, 2)) - 1)
        .withColumn("mean_fp", F.expr("(ok_n * 1000000) DIV n"))
        .withColumn(
            "bonus_fp",
            F.floor(F.sqrt(
                F.expr("(2 * _ilog2 * 1000000000000) DIV n")
                .cast("double"))).cast("long"))
        .withColumn("score_fp", F.col("mean_fp") + F.col("bonus_fp"))
    )
    w = W.orderBy(F.col("score_fp").desc(), F.col("host").asc())
    return (
        scored.withColumn("picked", F.row_number().over(w) <= top_k)
        .select("host", "n", "ok_n", "mean_fp", "bonus_fp", "score_fp",
                "picked")
    )


def ucb_schedule_oracle_sql(history_sql: str, top_k: int = 20) -> str:
    """DuckDB twin of :func:`ucb_schedule` — identical integer counts,
    the same printf('%b') ilog2, integer DIV under the sqrt, and the
    same deterministic tie order."""
    return f"""
WITH h AS ({history_sql}),
per_host AS (
  SELECT host, count(*)::BIGINT AS n, sum(ok::BIGINT)::BIGINT AS ok_n
  FROM h GROUP BY host),
tot AS (SELECT sum(n)::BIGINT AS N FROM per_host),
scored AS (
  SELECT p.host, p.n, p.ok_n,
         (p.ok_n * 1000000) // p.n AS mean_fp,
         floor(sqrt(((2 * (length(printf('%b', t.N)) - 1)
                      * 1000000000000) // p.n)::DOUBLE))::BIGINT
             AS bonus_fp
  FROM per_host p, tot t)
SELECT host, n, ok_n, mean_fp, bonus_fp,
       (mean_fp + bonus_fp)::BIGINT AS score_fp,
       ROW_NUMBER() OVER (ORDER BY mean_fp + bonus_fp DESC, host ASC)
           <= {top_k} AS picked
FROM scored"""


def crawl_value_schedule(pages: DataFrame, ranks: DataFrame,
                         top_k: int = 50) -> DataFrame:
    """Value-of-refresh scheduling — the composition the whole
    crawl-intelligence tier exists for: the expected value of
    re-fetching a page NOW is (how much the page matters) x (how likely
    it changed since we last saw it), i.e. Cho & Garcia-Molina's
    freshness objective with PageRank-style importance as the weight
    (the policy production schedulers actually run; see also Olston &
    Najork, "Web Crawling", §5).

    Inputs: ``pages`` (url, host, lambda_fp, age) — the per-URL Poisson
    change rate from :func:`change_rate` (1e6 fixed point, NULL when a
    URL has a single observation) and the waves elapsed since the last
    visit; ``ranks`` (host, rank) — any BIGINT importance score
    (host_pagerank / trust_rank / salsa all qualify).

    Arithmetic: staleness = P(changed by now) = 1 - exp(-lambda * age).
    ``lambda_fp * age`` is an exact BIGINT, the conversion and the
    single exp/multiply/floor sequence is ONE fixed float order (the
    change_rate ln discipline), and everything after is integer:
    ``value = rank * staleness_fp DIV 1e6``. NULL lambda (never
    revisited — nothing known) gets staleness 1e6: full exploration
    weight, mirroring UCB's thin-history optimism.

    Scale shape: one broadcast join (the host-rank table is hosts-sized,
    tiny next to the URL table) + one top-k window (WindowGroupLimit
    prunes map-side). No URL-table shuffle beyond the window.

    Returns (url, host, rank, lambda_fp, age, staleness_fp, value,
    picked).
    """
    # LEFT join + rank floor 1: a URL on a newly-discovered host (absent
    # from the rank table) must stay schedulable — unknown importance gets
    # the floor weight, mirroring the NULL-lambda optimism below, never a
    # silent drop
    j = (pages.join(F.broadcast(ranks), "host", "left")
         .withColumn("rank",
                     F.coalesce(F.col("rank"), F.lit(1)).cast("long")))
    lam_age = F.col("lambda_fp") * F.col("age")
    staleness = F.when(
        F.col("lambda_fp").isNull(), F.lit(1_000_000).cast("long")
    ).otherwise(
        F.lit(1_000_000)
        - F.floor(F.lit(1e6) * F.exp(-(lam_age.cast("double") / F.lit(1e6))))
        .cast("long")
    )
    scored = (
        j.withColumn("staleness_fp", staleness)
        .withColumn("value", F.expr("(rank * staleness_fp) DIV 1000000"))
    )
    w = W.orderBy(F.col("value").desc(), F.col("url").asc())
    return (
        scored.withColumn("picked", F.row_number().over(w) <= top_k)
        .select("url", "host", "rank", "lambda_fp", "age", "staleness_fp",
                "value", "picked")
    )


def crawl_value_oracle_sql(pages_sql: str, ranks_sql: str,
                           top_k: int = 50) -> str:
    """DuckDB twin of :func:`crawl_value_schedule` — identical join,
    the same single-exp fixed float order, integer value arithmetic,
    and deterministic tie order."""
    return f"""
WITH pages AS ({pages_sql}),
ranks AS ({ranks_sql}),
j AS (SELECT p.*, coalesce(r.rank, 1)::BIGINT AS rank
      FROM pages p LEFT JOIN ranks r USING (host)),
scored AS (
  SELECT url, host, rank, lambda_fp, age,
         CASE WHEN lambda_fp IS NULL THEN 1000000::BIGINT
              ELSE 1000000 - floor(
                  1e6 * exp(-((lambda_fp * age)::DOUBLE / 1e6)))::BIGINT
         END AS staleness_fp
  FROM j)
SELECT url, host, rank, lambda_fp, age, staleness_fp,
       (rank * staleness_fp) // 1000000 AS value,
       ROW_NUMBER() OVER (
           ORDER BY (rank * staleness_fp) // 1000000 DESC, url ASC)
           <= {top_k} AS picked
FROM scored"""


def fairness_index(df: DataFrame, value_col: str,
                   stage_col: str | None = None) -> DataFrame:
    """Jain's fairness index (Jain, Chiu & Hawe 1984) over per-host
    allocations: J = (sum x)^2 / (n * sum x^2) — 1.0 when every host
    gets the same share, 1/n when one host gets everything. THE scalar
    a scheduler audit watches: politeness budgets and skew salting
    exist to push J up, and a J regression between waves means a hot
    domain is eating the frontier again.

    Exactness: the three sufficient statistics are exact BIGINTs in ONE
    map-side-combined aggregate (no window, no second scan); J is one
    fixed-order float expression floored to 1e6 fixed point — the
    assortativity/wilson discipline, engine-identical. Grouped by
    ``stage_col`` when given (e.g. raw vs budget-capped, before/after).

    Returns (stage?, n, sum_x, sum_x2, jain_fp).
    """
    keys = [stage_col] if stage_col else []
    agg = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(value_col).cast("long").alias("sum_x"),
        F.sum(F.col(value_col) * F.col(value_col)).cast("long")
        .alias("sum_x2"),
    )
    num = F.col("sum_x").cast("double") * F.col("sum_x").cast("double")
    den = F.col("n").cast("double") * F.col("sum_x2").cast("double")
    return agg.withColumn(
        "jain_fp",
        F.when(F.col("sum_x2") > 0, F.floor(F.lit(1e6) * (num / den)))
        .cast("long"))


def fairness_oracle_sql(rows_sql: str, value_col: str,
                        stage_col: str | None = None) -> str:
    """DuckDB twin of :func:`fairness_index` — identical integer
    statistics and the same fixed-order float read-out."""
    key = f"{stage_col}, " if stage_col else ""
    grp = f"GROUP BY {stage_col}" if stage_col else ""
    return f"""
WITH r AS ({rows_sql}),
agg AS (
  SELECT {key}count(*)::BIGINT AS n, sum({value_col})::BIGINT AS sum_x,
         sum({value_col} * {value_col})::BIGINT AS sum_x2
  FROM r {grp})
SELECT {key}n, sum_x, sum_x2,
       CASE WHEN sum_x2 > 0
            THEN floor(1e6 * ((sum_x::DOUBLE * sum_x::DOUBLE)
                              / (n::DOUBLE * sum_x2::DOUBLE)))
       END::BIGINT AS jain_fp
FROM agg"""


def ring_assign(keys: DataFrame, n_shards: int, vnodes: int = 8,
                key_col: str = "key") -> DataFrame:
    """Consistent-hash ring sharding (Karger et al., STOC 1997) with
    virtual nodes — the OTHER standard elastic partitioner next to
    rendezvous/HRW (:func:`rendezvous_shard`): shard s places
    ``vnodes`` points on a hash ring, each key goes to the first vnode
    clockwise from its own hash. Growing the cluster moves ONLY the
    keys whose ring successor lands on the new shard's vnodes
    (~1/(n+1) of traffic), which is why frontier shards can be added
    without re-shuffling the world.

    Plan shape: the vnode table is tiny (n_shards * vnodes rows), so it
    collapses into ONE sorted array<struct(h, shard)> via an aggregate,
    broadcast to every key row; the successor lookup is a native
    filter + element_at over that array (wrap to the first element) —
    zero shuffle on the key table, no UDF. Hashes are the md5 closed
    form, so any engine replays the ring bit-for-bit.

    Returns keys + (key_hash, shard).
    """
    rows = [(s, r) for s in range(n_shards) for r in range(vnodes)]
    spark = keys.sparkSession
    vn = spark.createDataFrame(rows, "shard int, replica int").select(
        F.conv(F.substring(
            F.md5(F.concat(F.lit("vn:"), F.col("shard").cast("string"),
                           F.lit(":"), F.col("replica").cast("string"))),
            1, 15), 16, 10).cast("long").alias("h"),
        "shard",
    )
    ring = vn.agg(F.array_sort(F.collect_list(F.struct("h", "shard")))
                  .alias("_ring"))
    kh = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15),
                16, 10).cast("long")
    out = keys.crossJoin(F.broadcast(ring)).withColumn("key_hash", kh)
    succ = F.filter(F.col("_ring"),
                    lambda x: x["h"] >= F.col("key_hash"))
    pick = F.when(F.size(succ) > 0, F.element_at(succ, 1)).otherwise(
        F.element_at(F.col("_ring"), 1))
    return (
        out.withColumn("shard", pick["shard"])
        .drop("_ring")
    )


def ring_assign_oracle_sql(keys_sql: str, n_shards: int,
                           vnodes: int = 8,
                           key_col: str = "key") -> str:
    """DuckDB twin of :func:`ring_assign` — the same md5 vnode ring,
    successor via correlated min-subqueries with wraparound.
    ``key_col`` mirrors ring_assign's parameter so the twin contract
    holds for any key column name."""
    return f"""
WITH ks AS ({keys_sql}),
vn AS (
  SELECT ('0x' || substring(md5('vn:' || s::VARCHAR || ':'
                                || r::VARCHAR), 1, 15))::BIGINT AS h,
         s AS shard
  FROM generate_series(0, {n_shards - 1}) t(s),
       generate_series(0, {vnodes - 1}) u(r)),
keyed AS (
  SELECT ks.*,
         ('0x' || substring(md5({key_col}::VARCHAR), 1, 15))::BIGINT
             AS key_hash
  FROM ks),
picked AS (
  SELECT k.*,
         coalesce((SELECT min(h) FROM vn WHERE vn.h >= k.key_hash),
                  (SELECT min(h) FROM vn)) AS _sh
  FROM keyed k)
SELECT picked.* EXCLUDE (_sh), vn.shard
FROM picked JOIN vn ON vn.h = picked._sh"""
