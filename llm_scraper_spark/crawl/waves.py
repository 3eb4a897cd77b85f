r"""The crawl wave loop — the engine's top-level dataflow (SURVEY.md §3.2).

Each wave is one batch of the reference's consume-loop
(/root/reference/scraper.py:64-76) re-expressed as DataFrame stages:

    pending --politeness window--> scheduled --fetch (mapInPandas: page,
    chunker, uuid5 doc id, outlink canonicalize)--> pages --> documents
         \--outlinks explode--> native hash --robots gate-->
           in-wave first-occurrence dedup --exact anti-join vs seen-->
           assign global seq --> frontier delta (the seen set's growth)

Shuffle inventory per wave (the two the north rule names, plus one):
  1. per-host politeness window (WindowGroupLimit: each map task ships at
     most ``budget`` rows per host into the exchange)
  2. the dedup anti-join over 64-bit hashes, exact and unfiltered:
     shuffled, or reversed into two broadcasts (no exchange) when the
     seen set is >= 50x the wave's discoveries; AQE-coalesced
  3. the fetch spread: ``scheduled`` hashed on (host, salt) into
     min(task slots, rows) partitions before the fetch crossing. AQE
     sizes the window's output by bytes and scheduled rows are tiny, so
     without it the wave's heaviest Python stage (and http_fetcher's
     only network concurrency) runs as ONE task. Always taken when more
     than one row is scheduled: the window's exchange is keyed on host
     alone, so at scale it would put a host's whole budget in one task.
Everything else is narrow or a broadcast.

Ordering contract vs the reference (cache.py:138-148 FIFO): ``seq`` is the
global enqueue order — seeds in seed order, then discoveries in
(parent_seq, link_idx) order, deduped first-occurrence. With constant
priority the politeness window schedules per host strictly by seq, which
is exactly the reference FIFO batched into waves. The oracle simulator
(crawl/simulator.py) implements the same contract single-node; tests
assert schedule-log and final-seen-set equality.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions.urls import canonicalize_batch, with_canonical
from ..operators import frontier as frontier_ops
from ..operators import seen as seen_ops
from ..operators.checkpoints import (local_checkpoint_tracked,
                                     release_checkpoint)
from ..operators.chunker import doc_ids_and_spans
from ..operators.robots import gate_frontier
from ..schemas import SPAN_DDL
from ..sources.synthetic import synth_page
from .simulator import MAX_OUTLINKS_PER_PAGE
from .state import CrawlState

# The fetch contract: every fetcher returns these columns, built per Arrow
# batch by ``fetch_frame``. Canonicalization of outlinks, the chunker and
# the uuid5 doc id all run inside the fetch batch, so the page corpus
# crosses the Arrow boundary ONCE per wave; url_hash stays native xxhash64
# (JVM, after the explode). A fetcher may add columns (``content`` for
# archive mode).
FETCH_FUSED_DDL = (
    "url string, canonical_url string, host string, salt int, url_hash long, "
    "priority double, wave int, seq long, "
    f"doc_id string, spans {SPAN_DDL}, "
    "outlinks_canon array<struct<url:string,canonical_url:string,"
    "host:string>>, ok boolean"
)
# top-level fields are ", "-separated; nested struct fields use ","
_FETCH_FUSED_COLS = [f.split(" ")[0] for f in FETCH_FUSED_DDL.split(", ")]

Fetcher = Callable[[DataFrame], DataFrame]

# every discovered link's priority: constant, so the politeness window
# schedules discoveries per host in seq order (the reference FIFO)
LINK_PRIORITY = 1.0

_FETCH_COLS = ["url", "canonical_url", "host", "salt", "url_hash",
               "priority", "wave", "seq"]


def fetch_frame(pdf, contents, outlinks_list, media_list, oks):
    """Build one batch of the fetch contract (FETCH_FUSED_DDL) from the
    scheduled rows ``pdf`` and the fetched pages' content, outlinks,
    media refs and ok flags: doc_id + spans via the chunker's batch
    function, and canonicalized outlink structs from ONE
    canonicalize_batch pass over the batch's flattened outlinks."""
    import pandas as pd

    out = pdf[_FETCH_COLS].copy()
    out["doc_id"], out["spans"] = doc_ids_and_spans(
        pdf["canonical_url"], contents, media_list)
    flat = [u for links in outlinks_list for u in links]
    if flat:
        cdf = canonicalize_batch(pd.Series(flat))
        canon = cdf["canonical_url"].tolist()
        hosts = cdf["host"].tolist()
    else:
        canon, hosts = [], []
    structs, i = [], 0
    for links in outlinks_list:
        structs.append([
            {"url": links[j], "canonical_url": canon[i + j],
             "host": hosts[i + j]}
            for j in range(len(links))
        ])
        i += len(links)
    out["outlinks_canon"] = structs
    out["ok"] = oks
    return out


def synthetic_fetcher(n_hosts: int = 50, fanout: int = 4,
                      with_content: bool = False) -> Fetcher:
    """Deterministic offline fetcher over the synthetic web (sources/synthetic.py).

    mapInPandas: one Arrow batch in, ``fetch_frame`` batches out — the
    slot where a real deployment runs bounded async HTTP (http_fetcher
    below); run_wave spreads the scheduled rows over every task slot.
    ``with_content=True`` adds the raw page text as the optional
    ``content`` column (as http_fetcher does) for archive mode; CrawlRun
    asks for it when ``archive_dir`` is set and no fetcher is passed.
    """

    def fetch(scheduled: DataFrame) -> DataFrame:
        def gen(batches):
            for pdf in batches:
                pages = [synth_page(u, n_hosts=n_hosts, fanout=fanout)
                         for u in pdf["url"]]
                contents = [p["content"] for p in pages]
                out = fetch_frame(pdf, contents,
                                  [p["outlinks"] for p in pages],
                                  [p["media_refs"] for p in pages],
                                  [True] * len(pages))
                if with_content:
                    out["content"] = contents
                yield out

        schema = FETCH_FUSED_DDL + (", content string" if with_content else "")
        return scheduled.select(*_FETCH_COLS).mapInPandas(gen, schema=schema)

    return fetch


def http_fetcher(timeout_s: float = 15.0, max_concurrent_per_task: int = 8,
                 user_agent: str = "llm-scraper-spark/0.1") -> Fetcher:
    """Real network fetcher: bounded thread-pool urllib GETs inside
    mapInPandas (reference envelope: 8 concurrent, 15s timeout,
    follow_redirects=True, src/llm_scraper/scraper.py:37-41,
    worker.py:31-32). Parity with scrape_url (scraper.py:88-109):
    4xx/5xx raise and the page fails (ok=False, crawl continues), and
    links/media absolutize against the POST-redirect URL — the
    reference passes ``str(response.url)`` to Article.from_html.
    ``timeout_s`` is both the socket timeout and each URL's total wall
    deadline: a timer hangs up the URL's sockets once it passes, so a
    server that drips its headers or body (each recv inside the socket
    timeout) fails the page (ok=False) instead of holding the slot.
    Emits the fetch contract (``fetch_frame``) plus the raw ``content``,
    ``outlinks`` and ``media_refs`` columns: the WARC archive and the
    parity tests need them, and for live HTTP the network dominates.
    Exercised by the loopback battery in tests/test_http_fetch.py."""

    def fetch(scheduled: DataFrame) -> DataFrame:
        def gen(batches):
            import socket
            import threading
            from urllib.request import (HTTPHandler, HTTPSHandler, Request,
                                        build_opener)

            from ..operators.extraction.dom import parse_html
            from ..operators.extraction.values import extract_links_and_media

            class Watch:
                """Records every socket the opener connects (each redirect
                hop's too) in ``self.socks``, for the deadline timer."""

                def do_open(self, http_class, req, **kw):
                    def connection(host, **conn_kw):
                        conn = http_class(host, **conn_kw)
                        create = conn._create_connection

                        def watched(*args, **create_kw):
                            sock = create(*args, **create_kw)
                            self.socks.append(sock)
                            if self.expired.is_set():  # connected too late
                                sock.close()
                                raise TimeoutError("per-URL deadline")
                            return sock

                        conn._create_connection = watched
                        return conn

                    return super().do_open(connection, req, **kw)

            class WatchedHTTP(Watch, HTTPHandler):
                pass

            class WatchedHTTPS(Watch, HTTPSHandler):
                pass

            def get(url: str):
                # the socket timeout bounds each recv, not the page: at
                # the deadline the timer shuts the URL's sockets down, so
                # a blocked connect, header or body read returns at once
                handlers = [WatchedHTTP(), WatchedHTTPS()]
                socks, expired = [], threading.Event()
                for h in handlers:
                    h.socks, h.expired = socks, expired

                def hang_up():
                    expired.set()
                    for sock in list(socks):
                        try:
                            sock.shutdown(socket.SHUT_RDWR)
                        except OSError:
                            pass

                timer = threading.Timer(timeout_s, hang_up)
                timer.daemon = True
                timer.start()
                try:
                    req = Request(url, headers={"User-Agent": user_agent})
                    with build_opener(*handlers).open(
                            req, timeout=timeout_s) as resp:
                        final_url = resp.geturl()  # post-redirect base
                        html = resp.read().decode("utf-8", errors="ignore")
                    if expired.is_set():  # a hung-up body may read short
                        raise TimeoutError(f"{url}: over {timeout_s}s")
                    root = parse_html(html)
                    text, links, media = extract_links_and_media(root, final_url)
                    return text, links, media, True
                except Exception:
                    return "", [], [], False
                finally:
                    timer.cancel()

            with ThreadPoolExecutor(max_workers=max_concurrent_per_task) as pool:
                for pdf in batches:
                    results = list(pool.map(get, pdf["url"]))
                    contents = [r[0] for r in results]
                    outlinks = [r[1] for r in results]
                    media = [r[2] for r in results]
                    out = fetch_frame(pdf, contents, outlinks, media,
                                      [r[3] for r in results])
                    out["content"] = contents
                    out["outlinks"] = outlinks
                    out["media_refs"] = media
                    yield out

        schema = (FETCH_FUSED_DDL + ", content string, "
                  "outlinks array<string>, media_refs array<string>")
        return scheduled.select(*_FETCH_COLS).mapInPandas(gen, schema=schema)

    return fetch


class _WavePipeline:
    """One wave's commit pipeline, for ``run_wave`` and the seed init
    (wave -1): per-phase driver walls (``mark`` stores the wall since the
    last mark or ``restart``), tracked checkpoints (``ck``), and state
    writes (``write``) launched on a pool as soon as their input exists.

    The caller joins every write (``join_writes``) before the ledger
    commit, so a failed write raises before any commit. Leaving the
    ``with`` block waits for the writes, on the error path too (a failed
    wave leaks no thread, only orphan dirs that ``clean_uncommitted``
    removes), then releases the wave's checkpoints: every cross-wave
    input is re-read from the committed parquet, and a long crawl would
    otherwise keep one wave's MEMORY_AND_DISK blocks per wave."""

    def __init__(self, state: CrawlState):
        self.state = state
        self.timings: dict[str, float] = {}
        self._ck_ids: set[int] = set()
        self._writes: dict = {}
        # a wave writes four tables; threads start only as writes arrive
        self._pool = ThreadPoolExecutor(max_workers=4)
        self.restart()

    def __enter__(self) -> _WavePipeline:
        return self

    def __exit__(self, *exc) -> None:
        try:
            self._pool.shutdown(wait=True)
        finally:
            release_checkpoint(self.state.spark, self._ck_ids)

    def restart(self) -> None:
        self._t0 = time.time()

    def mark(self, phase: str) -> None:
        now = time.time()
        self.timings[phase] = round(now - self._t0, 3)
        self._t0 = now

    def ck(self, df: DataFrame) -> DataFrame:
        """Eager tracked checkpoint, released when the block exits."""
        out, ids = local_checkpoint_tracked(df)
        self._ck_ids |= ids
        return out

    def write(self, table: str, wave: int, df: DataFrame) -> None:
        """Launch ``state.write(table, wave, df)`` on the pool now."""
        t_sub = time.time()

        def _do():
            self.state.write(table, wave, df)
            return round(time.time() - t_sub, 3)

        self._writes[f"write_{table}"] = self._pool.submit(_do)

    def join_writes(self) -> dict[str, float]:
        """Wait for every submitted write; a failed one raises here.
        Returns each write's submit-to-finish wall by ``write_<table>``
        (it includes any queueing behind the wave's own jobs)."""
        return {key: fut.result() for key, fut in self._writes.items()}


class CrawlRun:
    """Drives waves over a CrawlState; resumable at wave granularity."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        fetcher: Fetcher | None = None,
        budgets: DataFrame | None = None,
        robots: DataFrame | None = None,
        default_budget: int = frontier_ops.DEFAULT_BUDGET,
        n_salts: int = frontier_ops.DEFAULT_SALTS,
        compact_every: int = 8,
        scope_filter: bool = False,
        archive_dir: str | None = None,
        archive_shards: int = 8,
        deny_patterns: DataFrame | None = None,
        compact_tables_every: int = 0,
    ):
        self.spark = spark
        self.state = CrawlState(spark, state_dir)
        self.fetcher = fetcher or synthetic_fetcher(
            with_content=bool(archive_dir))
        self.budgets = budgets
        self.robots = robots
        self.default_budget = default_budget
        self.n_salts = n_salts
        # opt-in frontier URL hygiene (functions/urls.py): strip tracking/
        # session params from canonical URLs (re-hashing natively so alias
        # URLs collapse in dedup and the seen set) and drop out-of-scope
        # URLs (depth / non-content extension / param count / length)
        # before they enter the frontier. Off by default: reference crawl-
        # ordering equality is defined on raw canonical URLs.
        self.scope_filter = scope_filter
        # fold the enqueue and fetch (schedule_log) logs' per-wave dirs
        # into flat files every N waves (state.compact_frontier): bounds
        # the file count each state read opens. 0 disables.
        self.compact_every = compact_every
        # fold the append-only OUTPUT tables (documents/metrics) every
        # N waves via the crash-safe compaction executor
        # (state.compact_output_tables): each wave appends a handful of
        # files per table, so an un-folded long crawl's full-table reads
        # open O(waves) files. 0 disables (short runs don't need it).
        self.compact_tables_every = compact_tables_every
        # opt-in Common-Crawl-style archiving (sources/warc.py): each
        # wave's fetch output is written as wave=N/.warc.gz shards plus a
        # CDX capture index. Shards are byte-deterministic and published
        # atomically, so a wave replay after a crash rewrites identical
        # bytes — same idempotence contract as the ledger tables. Off by
        # default: archiving is an extra job per wave.
        self.archive_dir = archive_dir
        self.archive_shards = archive_shards
        # opt-in crawler-trap deny list (frontier.trap_patterns output):
        # candidates whose digit-normalized template is flagged die in a
        # broadcast anti-join before costing a politeness slot. Off by
        # default: crawl-ordering equality is defined without gating.
        self.deny_patterns = deny_patterns

    # ------------------------------------------------------------------
    def _apply_scope(self, cand: DataFrame) -> DataFrame:
        """Frontier hygiene splice (scope_filter=True): tracking-param strip
        + native re-hash + crawl-scope drop, all JVM expressions — adds no
        Python stage to the wave plan."""
        from ..functions.urls import crawl_scope_filter, strip_tracking_params

        cand = cand.withColumn(
            "canonical_url", strip_tracking_params(F.col("canonical_url"))
        ).withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
        return crawl_scope_filter(cand, "canonical_url")

    # ------------------------------------------------------------------
    def init_from_seeds(self, seeds: DataFrame) -> dict:
        """Wave -1 'commit': canonicalize seeds, first-occurrence dedup,
        mark seen at enqueue (reference add_url semantics, cache.py:78-92).
        Returns per-phase driver wall times (same shape as run_wave)."""
        with _WavePipeline(self.state) as pipe:
            canon = with_canonical(seeds.select("url", "priority", "seq"),
                                   key_hex=False)
            if self.scope_filter:
                canon = self._apply_scope(canon)
            deduped = seen_ops.first_occurrence_dedup(canon, "url_hash", "seq")
            frontier = (
                frontier_ops.with_salt(deduped, self.n_salts)
                .withColumn("wave", F.lit(0))
                .select("url", "canonical_url", "host", "salt", "url_hash",
                        "priority", "wave", F.col("seq").alias("_orig_seq"))
            )
            # the count and the seq assigner's bounds ride the eager
            # checkpoint: no separate count or min/max job
            obs = Observation("seed_n")
            frontier = pipe.ck(frontier.observe(
                obs, F.count(F.lit(1)).alias("n"),
                F.min(F.col("_orig_seq").cast("long")).alias("lo"),
                F.max(F.col("_orig_seq").cast("long")).alias("hi")))
            n = int(obs.get["n"])
            # re-number seeds contiguously in first-occurrence order
            frontier = frontier_ops.assign_global_seq(
                frontier, 0, ("_orig_seq",),
                bounds=(obs.get["lo"], obs.get["hi"]),
            ).drop("_orig_seq")
            pipe.mark("seed_canon_dedup_seq")
            # the seed delta is the seed frontier and the first seen rows
            pipe.write("frontier_delta", -1, frontier)
            pipe.join_writes()
        pipe.mark("seed_writes")
        stats = {"seeded": n, "timings": pipe.timings}
        self.state.commit_wave(-1, n, stats)
        return stats

    # ------------------------------------------------------------------
    def run_wave(self, wave: int) -> dict:
        """Execute wave K (0-based) and commit. Returns wave stats
        (counts + per-phase driver wall times under ``timings``)."""
        st = self.state
        next_seq = st.read_ledger()["next_seq"]
        pending = st.read_pending(wave)

        # each state write launches as soon as its checkpointed input
        # exists and overlaps the wave's remaining compute: e.g. the
        # documents write (the slowest table) runs during discover/dedup/
        # seq (~6s of compute at 1M seeds) and is fully hidden
        with _WavePipeline(st) as pipe:
            if self.robots is not None:
                pending = gate_frontier(pending, self.robots)

            # Wave counters ride on Observation nodes attached just before
            # each localCheckpoint: the checkpoint materializes the branch
            # exactly once, the observation sums during that pass, and NO
            # separate count() jobs run in the hot loop (at the 10^10
            # design point a per-wave driver action is a scheduler
            # round-trip per metric).
            obs_sched = Observation(f"w{wave}_scheduled")
            scheduled = frontier_ops.schedule_wave(
                pending, self.budgets, self.default_budget
            ).withColumn("wave", F.lit(wave))
            scheduled = pipe.ck(scheduled.observe(
                obs_sched, F.count(F.lit(1)).alias("n")
            ))
            # the checkpoint above is eager, so the observed count is
            # already final — read it here; it sizes the anti-join below
            n_scheduled = int(obs_sched.get["n"])
            pipe.mark("schedule")
            # the fetch log derives from the scheduled checkpoint alone —
            # write it while the fetch runs
            pipe.write("schedule_log", wave, scheduled)

            # fetch spread (shuffle 3 above): one fetch task per slot.
            # (host, salt) is the politeness shard unit, so one host's
            # URLs still reach at most n_salts tasks
            n_fetch = min(self.spark.sparkContext.defaultParallelism,
                          n_scheduled)
            to_fetch = scheduled
            if n_fetch > 1:
                to_fetch = scheduled.repartition(n_fetch, "host", "salt")
            pages = self.fetcher(to_fetch)
            # schema metadata only (no Spark job): a fetcher off the
            # contract fails here, not deep in the wave plan
            missing = [c for c in _FETCH_FUSED_COLS if c not in pages.columns]
            if missing:
                raise ValueError(
                    f"fetcher output lacks fetch-contract columns {missing}: "
                    "build each batch with crawl.waves.fetch_frame and "
                    "declare FETCH_FUSED_DDL (plus any extra columns) as "
                    "the mapInPandas schema")
            pages = pipe.ck(pages)
            pipe.mark("fetch")

            if self.archive_dir:
                import os

                from ..sources.warc import write_warc_cdx

                if "content" not in pages.columns:
                    raise ValueError(
                        "archive_dir needs the page payload: use a fetcher "
                        "that emits 'content' (http_fetcher, or "
                        "synthetic_fetcher(with_content=True))")
                arc_dir = os.path.join(self.archive_dir, f"wave={wave}")
                recs = pages.select(
                    F.col("url").alias("target_uri"),
                    F.when(F.col("ok"), 200).otherwise(500)
                    .cast("int").alias("http_status"),
                    F.lit("text/html").alias("content_type"),
                    F.encode(F.coalesce(F.col("content"), F.lit("")), "utf-8")
                    .alias("payload"),
                    F.pmod(F.col("url_hash"), F.lit(self.archive_shards))
                    .alias("file_id"),
                )
                # the CDX parquet write is the one action that drives the
                # applyInPandas shard writes; overwrite keeps replay
                # idempotent
                write_warc_cdx(recs, arc_dir).write.mode("overwrite").parquet(
                    os.path.join(arc_dir, "cdx.parquet"))
                pipe.mark("archive_warc")

            # pinned-schema read: lists the committed frontier_delta dirs
            # and runs no Spark job, so it never queues behind the writes
            seen_df = st.read_seen(wave)

            # --- documents: doc_id + spans were computed inside the fetch
            # batch, so the page corpus never re-crosses the Arrow
            # boundary. The slowest table write (the full span payload) —
            # launch now so it runs under the discovery/dedup/seq phases
            pipe.write("documents", wave,
                       pages.filter(F.col("ok"))
                       .select("doc_id", "spans", "url", "host", "wave",
                               "seq"))

            # --- discovery: outlinks -> in-wave dedup -> unseen. Outlinks
            # arrive pre-canonicalized (struct per link); only the 64-bit
            # hash stays JVM-side — native xxhash64, codegen. parent_seq/
            # link_idx fold into _disc_ord (unique while link_idx stays
            # under the cap) and nothing downstream reads them — dropping
            # them narrows the dedup shuffle rows.
            cand = (
                pages.select(
                    F.col("seq").alias("parent_seq"),
                    F.posexplode_outer(F.col("outlinks_canon"))
                    .alias("link_idx", "_l"),
                )
                .filter(F.col("_l").isNotNull()
                        & (F.col("link_idx") < F.lit(MAX_OUTLINKS_PER_PAGE)))
                .select(
                    F.col("_l.url").alias("url"),
                    F.col("_l.canonical_url").alias("canonical_url"),
                    F.col("_l.host").alias("host"),
                    (F.col("parent_seq") * F.lit(MAX_OUTLINKS_PER_PAGE)
                     + F.col("link_idx")).alias("_disc_ord"),
                )
                .withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
            )
            if self.scope_filter:
                cand = self._apply_scope(cand)
            cand = seen_ops.first_occurrence_dedup(cand, "url_hash",
                                                   "_disc_ord")
            # checkpoint: (a) the reversed join below consumes cand on two
            # branches (its broadcast side and its probe side) — without
            # materialization both would recompute the explode+dedup
            # lineage; (b) the observation counts once, before the join
            # is picked.
            obs_disc = Observation(f"w{wave}_discovered")
            # min/max of the discovery order key ride the same
            # observation: they bound every post-filter subset, so the seq
            # assigner can skip its own min/max driver job (a superset
            # range only buckets; exact offsets come from the assigner's
            # counts job)
            cand = cand.observe(
                obs_disc, F.count(F.lit(1)).alias("n"),
                F.min(F.col("_disc_ord").cast("long")).alias("lo"),
                F.max(F.col("_disc_ord").cast("long")).alias("hi"))
            cand = pipe.ck(cand)
            n_discovered = obs_disc.get["n"]
            disc_bounds = (obs_disc.get["lo"], obs_disc.get["hi"])
            pipe.mark("discover_dedup")
            # Join-strategy selection from ledger stats alone (no extra
            # Spark action): reverse the dedup anti-join (broadcast every
            # candidate hash, at most 4M, and scan the seen table narrow)
            # only when the seen table dwarfs the wave's discoveries — A/B
            # at 2.5M seen / 0.5M cand measured the reversed plan ~40%
            # SLOWER (sequential broadcast chaining), while at the 10^10
            # design point (seen 3-4 orders of magnitude over per-wave
            # discoveries) shuffling the seen side is the single biggest
            # cost in the wave. next_seq == |seen| by the enqueue
            # invariant. The exact join is the only membership test: an
            # approximate pre-filter could only shrink the broadcast side,
            # never skip the seen scan, and it cost more than it saved at
            # every measured ratio (BENCH/BUCKETED_AB.md).
            reverse_join = (int(n_discovered) <= 4_000_000
                            and next_seq >= 50 * max(int(n_discovered), 1))
            new = seen_ops.filter_unseen(
                cand, seen_df, broadcast_candidates=reverse_join)
            # pin the anti-join's output: the seq assigner reads its
            # input twice (counts job, window). With no seen table the
            # chain is the cand checkpoint itself.
            if seen_df is not None:
                new = pipe.ck(new)
            if self.deny_patterns is not None:
                new = frontier_ops.gate_trap_patterns(new, self.deny_patterns)
            new = frontier_ops.with_salt(new, self.n_salts)
            if self.robots is not None:
                new = gate_frontier(new, self.robots)

            new = frontier_ops.assign_global_seq(
                new, next_seq, ("_disc_ord",), bounds=disc_bounds)
            obs_new = Observation(f"w{wave}_new")
            new_frontier_rows = (
                new.withColumn("priority", F.lit(LINK_PRIORITY))
                .withColumn("wave", F.lit(wave + 1))
                .select("url", "canonical_url", "host", "salt", "url_hash",
                        "priority", "wave", "seq")
                .observe(obs_new, F.count(F.lit(1)).alias("n"))
            )
            new_frontier_rows = pipe.ck(new_frontier_rows)
            n_new = obs_new.get["n"]
            pipe.mark("unseen_seq")
            # the new rows are both the next pending rows and the seen
            # set's growth: one write, launched now so it overlaps the
            # remaining wave bookkeeping
            pipe.write("frontier_delta", wave, new_frontier_rows)

            # --- metrics: per-partition lineage + fetch/dedup counts
            metrics = (
                pages.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.count("*").alias("scheduled"),
                    F.sum(F.when(F.col("ok"), 1).otherwise(0))
                    .alias("fetched_ok"),
                    F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                    .alias("fetch_failed"),
                )
                .withColumn("wave", F.lit(wave))
                .withColumn("discovered", F.lit(n_discovered))
                .withColumn("deduped_new", F.lit(n_new))
            )
            pipe.write("metrics", wave, metrics)

            # --- commit barrier (data first, ledger last): JOIN every
            # pipelined write, then commit. The recorded per-write times
            # are submit-to-finish walls (they include any scheduler
            # queueing behind the wave's own jobs); state_writes is the
            # wall spent BLOCKED here — i.e. only the part of the write
            # work the overlap failed to hide.
            pipe.restart()
            pipe.timings.update(pipe.join_writes())
        pipe.mark("state_writes")
        stats = {
            "scheduled": n_scheduled,
            "discovered": int(n_discovered),
            "deduped_new": int(n_new),
            "timings": pipe.timings,
        }
        st.commit_wave(wave, next_seq + n_new, stats)
        # periodic fold of the two logs (after the wave commit — the
        # fold has its own stage -> manifest -> finish crash protocol)
        if self.compact_every and (wave + 1) % self.compact_every == 0:
            pipe.restart()
            st.compact_frontier(wave)
            pipe.mark("compact_frontier")
        # output-table fold (same boundary, own crash protocol): runs
        # AFTER the wave commit so a crash mid-fold settles on resume
        # without touching the wave ledger
        if self.compact_tables_every and \
                (wave + 1) % self.compact_tables_every == 0:
            pipe.restart()
            st.compact_output_tables()
            pipe.mark("compact_tables")
        return stats

    # ------------------------------------------------------------------
    def run(self, n_waves: int, seeds: DataFrame | None = None) -> list[dict]:
        """Run (or resume) the crawl for up to n_waves waves."""
        last = self.state.last_wave()
        if last is None:
            if seeds is None:
                raise ValueError("no checkpoint and no seeds")
            self.init_from_seeds(seeds)
            last = -1
        else:
            # resume: drop orphan wave dirs a mid-commit crash left behind
            # (reads are already ledger-bounded; replay overwrites anyway —
            # this keeps the on-disk state exactly the committed snapshot)
            self.state.clean_uncommitted()
        return [self.run_wave(wave) for wave in range(last + 1, n_waves)]
