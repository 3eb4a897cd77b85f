r"""The crawl wave loop — the engine's top-level dataflow (SURVEY.md §3.2).

Each wave is one batch of the reference's consume-loop
(/root/reference/scraper.py:64-76) re-expressed as DataFrame stages:

    pending --politeness window--> scheduled --fetch (mapInPandas)-->
    pages --chunker UDF--> documents
         \--outlinks explode--> canonicalize+hash --robots gate-->
           in-wave first-occurrence dedup --bloom + anti-join vs seen-->
           assign global seq --> frontier append + seen delta

Shuffle inventory per wave (the two the north rule names):
  1. per-host politeness window (salted: capped shards before exact rank)
  2. the dedup anti-join (bloom pre-filtered; AQE-coalesced)
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

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions.urls import with_canonical
from ..operators import cuckoo as cuckoo_ops
from ..operators import frontier as frontier_ops
from ..operators import seen as seen_ops
from ..operators.checkpoints import local_checkpoint_tracked, release_checkpoint
from ..operators.chunker import spans_from_text, uuid5_url
from ..operators.robots import gate_frontier
from ..sources.synthetic import synth_page
from .state import CrawlState

FETCH_RESULT_DDL = (
    "url string, canonical_url string, host string, salt int, url_hash long, "
    "priority double, wave int, seq long, content string, "
    "outlinks array<string>, media_refs array<string>, ok boolean"
)

# the FUSED fetch contract (r5): canonicalization of outlinks, the
# chunker, and the uuid5 doc id all run inside the fetch batch — the
# page corpus crosses the Arrow boundary ONCE instead of three times
# (fetch out, chunker in/out, canonicalize in/out). The wave loop
# detects the extra columns and skips its own spans/canonicalize
# stages; url_hash stays native xxhash64 (JVM, after the explode).
SPAN_DDL = ("array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>")
FETCH_FUSED_DDL = (
    "url string, canonical_url string, host string, salt int, url_hash long, "
    "priority double, wave int, seq long, "
    f"doc_id string, spans {SPAN_DDL}, "
    "outlinks_canon array<struct<url:string,canonical_url:string,"
    "host:string>>, ok boolean"
)

Fetcher = Callable[[DataFrame], DataFrame]

_FETCH_COLS = ["url", "canonical_url", "host", "salt", "url_hash",
               "priority", "wave", "seq"]


def _fused_frame(pdf, contents, outlinks_list, media_list, oks):
    """Build the fused-output batch: spans + doc_id + canonicalized
    outlink structs, with ONE canonicalize pass over the batch's
    flattened outlinks (same canonicalize_batch the standalone UDF
    uses, so the fused and unfused paths agree byte-for-byte)."""
    import pandas as pd

    from ..functions.urls import canonicalize_batch
    from ..operators.chunker import (
        chunk_by_token_estimate, doc_id_for_url, interleave_spans)

    out = pdf[_FETCH_COLS].copy()
    out["doc_id"] = [doc_id_for_url(u) if isinstance(u, str) else None
                     for u in pdf["canonical_url"]]
    out["spans"] = [
        interleave_spans(
            chunk_by_token_estimate(c if isinstance(c, str) else ""),
            [m for m in (refs if refs is not None else [])],
        )
        for c, refs in zip(contents, media_list)
    ]
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
                      fused: bool = True, with_content: bool = False) -> Fetcher:
    """Deterministic offline fetcher over the synthetic web (sources/synthetic.py).

    mapInPandas: one Arrow batch in, pages out — the slot where a real
    deployment runs bounded async HTTP (http_fetcher below).
    ``fused=True`` (default, the production path) chunks + canonicalizes
    in-batch (see FETCH_FUSED_DDL); ``fused=False`` emits the plain
    content/outlinks contract for schema tests. ``with_content=True``
    adds the raw page text to the fused contract as the optional
    ``content`` column (as http_fetcher does) for archive mode; CrawlRun
    asks for it when ``archive_dir`` is set and no fetcher is passed.
    """

    def fetch(scheduled: DataFrame) -> DataFrame:
        def gen(batches):
            for pdf in batches:
                pages = [synth_page(u, n_hosts=n_hosts, fanout=fanout)
                         for u in pdf["url"]]
                contents = [p["content"] for p in pages]
                outlinks = [p["outlinks"] for p in pages]
                media = [p["media_refs"] for p in pages]
                if fused:
                    out = _fused_frame(pdf, contents, outlinks, media,
                                       [True] * len(pages))
                    if with_content:
                        out["content"] = contents
                    yield out
                else:
                    out = pdf[_FETCH_COLS].copy()
                    out["content"] = contents
                    out["outlinks"] = outlinks
                    out["media_refs"] = media
                    out["ok"] = True
                    yield out

        if not fused:
            schema = FETCH_RESULT_DDL
        elif with_content:
            schema = FETCH_FUSED_DDL + ", content string"
        else:
            schema = FETCH_FUSED_DDL
        return scheduled.select(*_FETCH_COLS).mapInPandas(gen, schema=schema)

    return fetch


def http_fetcher(timeout_s: float = 15.0, max_concurrent_per_task: int = 8,
                 user_agent: str = "llm-scraper-spark/0.1",
                 fused: bool = True) -> Fetcher:
    """Real network fetcher: bounded thread-pool urllib GETs inside
    mapInPandas (reference envelope: 8 concurrent, 15s timeout,
    follow_redirects=True, src/llm_scraper/scraper.py:37-41,
    worker.py:31-32). Parity with scrape_url (scraper.py:88-109):
    4xx/5xx raise and the page fails (ok=False, crawl continues), and
    links/media absolutize against the POST-redirect URL — the
    reference passes ``str(response.url)`` to Article.from_html.
    Exercised by the loopback battery in tests/test_http_fetch.py."""

    def fetch(scheduled: DataFrame) -> DataFrame:
        def gen(batches):
            from concurrent.futures import ThreadPoolExecutor
            from urllib.request import Request, urlopen

            from ..operators.extraction.dom import parse_html
            from ..operators.extraction.values import extract_links_and_media

            def get(url: str):
                try:
                    req = Request(url, headers={"User-Agent": user_agent})
                    with urlopen(req, timeout=timeout_s) as resp:
                        html = resp.read().decode("utf-8", errors="ignore")
                        final_url = resp.geturl()  # post-redirect base
                    root = parse_html(html)
                    text, links, media = extract_links_and_media(root, final_url)
                    return text, links, media, True
                except Exception:
                    return "", [], [], False

            with ThreadPoolExecutor(max_workers=max_concurrent_per_task) as pool:
                for pdf in batches:
                    results = list(pool.map(get, pdf["url"]))
                    contents = [r[0] for r in results]
                    outlinks = [r[1] for r in results]
                    media = [r[2] for r in results]
                    oks = [r[3] for r in results]
                    if fused:
                        out = _fused_frame(pdf, contents, outlinks, media, oks)
                        # the raw page text rides along: the WARC archive
                        # and parity tests need it, and for live HTTP the
                        # network dominates — the extra columns are noise
                        out["content"] = contents
                        out["outlinks"] = outlinks
                        out["media_refs"] = media
                    else:
                        out = pdf[_FETCH_COLS].copy()
                        out["content"] = contents
                        out["outlinks"] = outlinks
                        out["media_refs"] = media
                        out["ok"] = oks
                    yield out

        schema = (FETCH_FUSED_DDL + ", content string, "
                  "outlinks array<string>, media_refs array<string>"
                  if fused else FETCH_RESULT_DDL)
        return scheduled.select(*_FETCH_COLS).mapInPandas(gen, schema=schema)

    return fetch


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
        use_bloom: bool = True,
        link_priority: float = 1.0,
        seen_filter: str | None = None,
        compact_every: int = 8,
        scope_filter: bool = False,
        archive_dir: str | None = None,
        archive_shards: int = 8,
        deny_patterns: DataFrame | None = None,
        seen_layout: str = "delta",
        n_seen_buckets: int = 32,
        compact_tables_every: int = 0,
        compact_target_bytes: int = 128 * 1024 * 1024,
    ):
        self.spark = spark
        self.state = CrawlState(spark, state_dir, seen_layout=seen_layout,
                                n_seen_buckets=n_seen_buckets)
        self.fetcher = fetcher or synthetic_fetcher(
            with_content=bool(archive_dir))
        self.budgets = budgets
        self.robots = robots
        self.default_budget = default_budget
        self.n_salts = n_salts
        self.use_bloom = use_bloom
        self.link_priority = link_priority
        # opt-in frontier URL hygiene (functions/urls.py): strip tracking/
        # session params from canonical URLs (re-hashing natively so alias
        # URLs collapse in dedup and the seen set) and drop out-of-scope
        # URLs (depth / non-content extension / param count / length)
        # before they enter the frontier. Off by default: reference crawl-
        # ordering equality is defined on raw canonical URLs.
        self.scope_filter = scope_filter
        # the standing approximate seen-filter: "bloom" (default) or
        # "cuckoo" (operators/cuckoo.py — deletable fingerprints, same
        # no-false-negative contract, same executor-side build + per-wave
        # delta merge); None / use_bloom=False disables the pre-filter
        # and every candidate takes the exact anti-join
        if seen_filter is None:
            seen_filter = "bloom" if use_bloom else None
        elif not use_bloom:
            seen_filter = None
        if seen_filter not in (None, "bloom", "cuckoo"):
            raise ValueError(f"unknown seen_filter {seen_filter!r}")
        self.seen_filter = seen_filter
        self._bloom = None  # standing filter, delta-merged per wave
        # in-flight delta merge (see _join_bloom_delta): the per-wave
        # delta build+merge is NOT state — only the NEXT wave's dedup
        # needs it — so it runs on this single persistent thread PAST the
        # commit barrier and is joined lazily at its first use. A crash
        # in between loses only in-memory bits; resume rebuilds from the
        # committed seen table.
        self._bloom_fut = None
        self._bloom_pool = None
        # fold the delta frontier every N waves (state.compact_frontier):
        # bounds both the per-read delta dir count and the tombstone
        # anti-join side (<= N waves x budget rows). 0 disables.
        self.compact_every = compact_every
        # fold the append-only OUTPUT tables (documents/schedule_log/
        # metrics) every N waves via the crash-safe compaction executor
        # (state.compact_output_tables): each wave appends a handful of
        # files per table, so an un-folded long crawl's full-table reads
        # open O(waves) files. 0 disables (short runs don't need it).
        self.compact_tables_every = compact_tables_every
        self.compact_target_bytes = compact_target_bytes
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
    def _join_bloom_delta(self) -> float:
        """Join the previous wave's in-flight delta merge. Returns the
        wall spent BLOCKED here (usually ~0: the merge ran during the
        previous commit barrier + this wave's schedule/fetch)."""
        if self._bloom_fut is None:
            return 0.0
        import time as _time

        t0 = _time.time()
        self._bloom_fut.result()
        self._bloom_fut = None
        # the delta job was the last reader of its wave's new-rows
        # checkpoint — safe to free those blocks now
        ids = getattr(self, "_bloom_ck_ids", None)
        if ids:
            release_checkpoint(self.spark, set(ids))
            self._bloom_ck_ids = None
        self._last_bloom_join_wait = round(_time.time() - t0, 3)
        return self._last_bloom_join_wait

    def _standing_bloom(self, seen_df: DataFrame | None):
        """Maintain the standing seen filter (Bloom or cuckoo) across
        waves: build executor-side from the full seen table only when
        missing (fresh run / resume) or saturated; otherwise the per-wave
        delta merge (in run_wave) keeps it current without touching the
        10^10-row table (VERDICT #4)."""
        if self.seen_filter is None:
            return None
        # the previous wave's delta must be merged before this wave
        # tags candidates: a missing merge would mark last wave's URLs
        # "definitely new" and re-enqueue them (false negative). Joined
        # before the empty-seen return too: this wave submits its own
        # delta, and only one may be in flight.
        self._join_bloom_delta()
        if seen_df is None:
            return None
        if self._bloom is None or self._bloom.saturated():
            # next_seq == total URLs ever enqueued == |seen| (seq is
            # assigned per enqueue), so capacity needs no counting job
            n_seen = max(self.state.read_ledger()["next_seq"], 1)
            build = (seen_ops.build_bloom_distributed
                     if self.seen_filter == "bloom"
                     else cuckoo_ops.build_cuckoo_distributed)
            # growth factor 4x (not 2x): every saturation rebuild scans the
            # FULL seen table (profiled ~20s at 2.5M; O(10^10) at the design
            # point), while filter memory is bits-per-key — quartering the
            # rebuild frequency costs ~2x bitmap for 3x less amortized
            # rebuild work per insert (1/(g-1) full scans per |seen|).
            self._bloom = build(seen_df, capacity=max(4 * n_seen, 100_000))
        return self._bloom


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
        import time as _time

        timings: dict[str, float] = {}
        _t0 = _time.time()

        def _mark(phase: str) -> None:
            nonlocal _t0
            now = _time.time()
            timings[phase] = round(now - _t0, 3)
            _t0 = now

        canon = with_canonical(seeds.select("url", "priority", "seq"),
                               key_hex=False)
        if self.scope_filter:
            canon = self._apply_scope(canon)
        deduped = seen_ops.first_occurrence_dedup(canon, "url_hash", "seq")
        frontier = (
            frontier_ops.with_salt(deduped, self.n_salts)
            .withColumn("wave", F.lit(0))
            .withColumn("status", F.lit("pending"))
            .select("url", "canonical_url", "host", "salt", "url_hash",
                    "priority", "wave", "seq", "status")
        )
        # re-number seeds contiguously in first-occurrence order
        ck_sink: list = []
        frontier = frontier_ops.assign_global_seq(
            frontier.withColumnRenamed("seq", "_orig_seq"), 0, ("_orig_seq",),
            ck_sink=ck_sink,
        ).drop("_orig_seq")
        _mark("seed_canon_dedup_seq")
        # Observation rides the eager checkpoint, so no separate count job
        obs = Observation("seed_n")
        frontier, ids = local_checkpoint_tracked(
            frontier.observe(obs, F.count(F.lit(1)).alias("n")))
        ck_sink.append(ids)
        n = int(obs.get["n"])
        _mark("seed_materialize")
        # both seed tables derive from the same checkpoint — overlap the
        # writes (same protocol as run_wave: data concurrent, ledger last)
        from concurrent.futures import ThreadPoolExecutor

        seen = frontier.select(
            "url_hash",
            F.md5(F.col("url")).alias("key_hex"),
            F.lit(0).alias("first_seen_wave"),
        )
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(self.state.write, "frontier_delta", -1,
                                frontier),
                    pool.submit(self.state.write, "seen_delta", 0, seen)]
            for f in futs:
                f.result()
        _mark("seed_writes")
        self.state.commit_wave(-1, n, {"seeded": n, "timings": timings})
        # seed state is committed to parquet — the in-memory checkpoint
        # blocks behind it are dead weight from here on
        release_checkpoint(self.spark, set().union(*ck_sink))
        return {"seeded": n, "timings": timings}

    # ------------------------------------------------------------------
    def run_wave(self, wave: int) -> dict:
        """Execute wave K (0-based) and commit. Returns wave stats
        (counts + per-phase driver wall times under ``timings``)."""
        import time as _time

        timings: dict[str, float] = {}
        _t0 = _time.time()

        def _mark(phase: str) -> None:
            nonlocal _t0
            now = _time.time()
            timings[phase] = round(now - _t0, 3)
            _t0 = now

        wave_ck: list = []

        def _ck(df: DataFrame) -> DataFrame:
            out, ids = local_checkpoint_tracked(df)
            wave_ck.append(ids)
            return out

        st = self.state
        ledger = st.read_ledger()
        next_seq = ledger["next_seq"]
        pending = st.read_pending(wave)

        # Commit pipeline: every state write launches AS SOON AS its
        # (checkpointed) input exists, so the writes overlap the wave's
        # remaining compute instead of serializing after it — e.g. the
        # documents write (the chunker-UDF pass, the slowest table) runs
        # during discover/dedup/seq (~6s of compute at 1M seeds) and is
        # fully hidden. The crash protocol is unchanged: every write is
        # JOINED before commit_wave below, the ledger stays last, and a
        # failed write surfaces at its .result() before any commit.
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=7)
        write_futs: dict = {}

        def _submit_write(key: str, table: str, w: int, df: DataFrame):
            t_sub = _time.time()

            def _do():
                st.write(table, w, df)
                return round(_time.time() - t_sub, 3)

            write_futs[key] = pool.submit(_do)

        try:
            return self._run_wave_body(
                wave, st, next_seq, pending, timings, _mark, _ck, wave_ck,
                pool, write_futs, _submit_write)
        finally:
            # error path: never leak write threads past the wave — a
            # failed wave leaves only orphan table dirs, which
            # clean_uncommitted removes on resume
            pool.shutdown(wait=True)

    def _run_wave_body(self, wave, st, next_seq, pending, timings, _mark,
                       _ck, wave_ck, pool, write_futs, _submit_write):
        import time as _time

        # with the filter disabled the tag path (whose _standing_bloom
        # joins the previous wave's delta future) never runs — join the
        # trivial future here to keep the single-in-flight invariant
        if self.seen_filter is None:
            self._join_bloom_delta()

        if self.robots is not None:
            pending_gated = gate_frontier(pending, self.robots)
        else:
            pending_gated = pending

        # Wave counters ride on Observation nodes attached just before each
        # localCheckpoint: the checkpoint materializes the branch exactly
        # once, the observation sums during that pass, and NO separate
        # count() jobs run in the hot loop (at the 10^10 design point a
        # per-wave driver action is a scheduler round-trip per metric).
        obs_sched = Observation(f"w{wave}_scheduled")
        scheduled = frontier_ops.schedule_wave(
            pending_gated, self.budgets, self.default_budget
        ).withColumn("wave", F.lit(wave))
        scheduled = _ck(scheduled.observe(
            obs_sched, F.count(F.lit(1)).alias("n")
        ))
        # the checkpoint above is eager, so the observed count is already
        # final — read it here; it sizes the anti-join strategy below
        n_scheduled = int(obs_sched.get["n"])
        _mark("schedule")
        # both derive from the scheduled checkpoint alone — write while
        # the fetch runs
        _submit_write("write_schedule_log", "schedule_log", wave,
                      scheduled.select("wave", "seq", "url", "host",
                                       "priority"))
        _submit_write("write_fetched", "fetched", wave,
                      scheduled.select("url_hash"))

        pages = _ck(self.fetcher(scheduled))
        _mark("fetch")

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
            # applyInPandas shard writes; overwrite keeps replay idempotent
            write_warc_cdx(recs, arc_dir).write.mode("overwrite").parquet(
                os.path.join(arc_dir, "cdx.parquet"))
            _mark("archive_warc")

        # standing filter BEFORE the documents write is submitted: the
        # seen read's tiny schema job would otherwise FIFO-queue behind
        # the cluster-wide chunker pass (profiled ~1.2s of driver stall
        # attributed to bloom_standing)
        seen_df = st.read_seen(wave)
        bloom = self._standing_bloom(seen_df)
        _mark("bloom_standing")
        # wall actually BLOCKED waiting on the previous wave's deferred
        # delta merge (inside bloom_standing above; usually ~0 — the
        # merge ran during the previous commit barrier + this fetch)
        timings["bloom_delta"] = getattr(self, "_last_bloom_join_wait", 0.0)
        self._last_bloom_join_wait = 0.0

        # --- documents: uuid5 doc id + interleaved spans (production 512/50)
        fused = "spans" in pages.columns
        if fused:
            # fused fetch contract: doc_id + spans were computed inside
            # the fetch batch — the page corpus never re-crosses the
            # Arrow boundary for chunking
            docs = (pages.filter(F.col("ok"))
                    .select("doc_id", "spans", "url", "host", "wave", "seq"))
        else:
            docs = (
                pages.filter(F.col("ok"))
                .withColumn("doc_id", uuid5_url(F.col("canonical_url")))
                .withColumn("spans", spans_from_text(F.col("content"),
                                                     F.col("media_refs")))
                .select("doc_id", "spans", "url", "host", "wave", "seq")
            )
        # the slowest table write (the full span payload) — launch now so
        # it runs under the discovery/dedup/seq phases
        _submit_write("write_documents", "documents", wave, docs)

        # --- discovery: outlinks -> canonical -> in-wave dedup -> unseen
        # parent_seq/link_idx are folded into _disc_ord and nothing
        # downstream reads them — dropping them narrows the dedup shuffle
        # rows. membership tag FUSED into the discovery checkpoint below
        # (computed once during that materialization).
        if fused:
            # outlinks arrive pre-canonicalized (struct per link); only
            # the 64-bit hash stays JVM-side — native xxhash64, codegen
            cand = (
                pages.select(
                    F.col("seq").alias("parent_seq"),
                    F.posexplode_outer(F.col("outlinks_canon"))
                    .alias("link_idx", "_l"),
                )
                .filter(F.col("_l").isNotNull())
                .select(
                    F.col("_l.url").alias("url"),
                    F.col("_l.canonical_url").alias("canonical_url"),
                    F.col("_l.host").alias("host"),
                    (F.col("parent_seq") * F.lit(1_000_000)
                     + F.col("link_idx")).alias("_disc_ord"),
                )
                .withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
            )
        else:
            links = (
                pages.select(
                    F.col("seq").alias("parent_seq"),
                    F.posexplode_outer(F.col("outlinks")).alias("link_idx", "url"),
                )
                .filter(F.col("url").isNotNull())
                .withColumn(
                    "_disc_ord",
                    F.col("parent_seq") * F.lit(1_000_000) + F.col("link_idx"),
                )
            )
            cand = with_canonical(links.select("url", "_disc_ord"),
                                  key_hex=False)
        if self.scope_filter:
            cand = self._apply_scope(cand)
        cand = seen_ops.first_occurrence_dedup(cand, "url_hash", "_disc_ord")
        if bloom is not None:
            cand = seen_ops.bloom_tag(cand, bloom)
        # checkpoint: (a) the bloom split consumes cand on two branches —
        # without materialization both branches would recompute the
        # canonicalize+dedup(+tag) lineage; (b) the observation counts once.
        obs_disc = Observation(f"w{wave}_discovered")
        # min/max of the discovery order key ride the same observation:
        # they bound every post-filter subset, so the seq assigner can
        # skip its own min/max driver job (a superset range only
        # buckets; exact offsets come from the assigner's counts job)
        cand = cand.observe(
            obs_disc, F.count(F.lit(1)).alias("n"),
            F.min(F.col("_disc_ord").cast("long")).alias("lo"),
            F.max(F.col("_disc_ord").cast("long")).alias("hi"))
        cand = _ck(cand)
        n_discovered = obs_disc.get["n"]
        disc_bounds = (obs_disc.get["lo"], obs_disc.get["hi"])
        _mark("discover_dedup")
        # Join-strategy selection from ledger stats alone (no extra Spark
        # action): reverse the dedup anti-join (broadcast the maybe-seen
        # hashes, scan the seen table narrow) only when the seen table
        # dwarfs the wave's discoveries — A/B at 2.5M seen / 0.5M cand
        # measured the reversed plan ~40% SLOWER (sequential broadcast
        # chaining + re-evaluating the bloom tag), while at the 10^10
        # design point (seen 3-4 orders of magnitude over per-wave
        # discoveries) shuffling the seen side is the single biggest
        # cost in the wave. next_seq == |seen| by the enqueue invariant.
        reverse_join = (int(n_discovered) <= 4_000_000
                        and next_seq >= 50 * max(int(n_discovered), 1))
        # pin only the tiny anti-join branch (checked_ck): the rest of
        # the unseen chain is a native filter over the cand checkpoint,
        # cheap to re-evaluate — so the seq assigner can skip its own
        # full input materialization (one fewer 0.5M-row checkpoint per
        # wave). With the bloom OFF the whole chain IS the anti-join, so
        # the assigner materializes as before.
        new = seen_ops.filter_unseen(
            cand, seen_df, bloom=bloom, broadcast_candidates=reverse_join,
            checked_ck=_ck if bloom is not None else None)
        if self.deny_patterns is not None:
            new = frontier_ops.gate_trap_patterns(new, self.deny_patterns)
        if self.robots is not None:
            new = gate_frontier(
                frontier_ops.with_salt(new, self.n_salts), self.robots
            )
        else:
            new = frontier_ops.with_salt(new, self.n_salts)

        new = frontier_ops.assign_global_seq(
            new, next_seq, ("_disc_ord",), ck_sink=wave_ck,
            materialize_input=bloom is None, bounds=disc_bounds)
        obs_new = Observation(f"w{wave}_new")
        new_frontier_rows = (
            new.withColumn("priority", F.lit(self.link_priority))
            .withColumn("wave", F.lit(wave + 1))
            .withColumn("status", F.lit("pending"))
            .select("url", "canonical_url", "host", "salt", "url_hash",
                    "priority", "wave", "seq", "status")
            .observe(obs_new, F.count(F.lit(1)).alias("n"))
        )
        # tracked separately from wave_ck: the DEFERRED bloom-delta job
        # (below) reads these blocks past the commit barrier, so they are
        # released by _join_bloom_delta, not the wave-end sweep
        new_frontier_rows, nfr_ids = local_checkpoint_tracked(new_frontier_rows)
        n_new = obs_new.get["n"]
        _mark("unseen_seq")
        # everything downstream of the new-rows checkpoint launches now
        # and overlaps the bloom delta + the remaining wave bookkeeping
        _submit_write(
            "write_seen_delta", "seen_delta", wave + 1,
            new_frontier_rows.select(
                "url_hash",
                F.md5(F.col("url")).alias("key_hex"),
                F.lit(wave + 1).alias("first_seen_wave"),
            ))
        _submit_write("write_frontier_delta", "frontier_delta", wave,
                      new_frontier_rows)

        # incremental filter update: merge a delta built (executor-side,
        # against the already-checkpointed new rows) with the standing
        # filter's geometry — bitmap OR for the Bloom, fingerprint
        # re-insert for the cuckoo. Runs on the PERSISTENT bloom thread:
        # it is only needed by the NEXT wave's dedup, so it is NOT joined
        # at this wave's commit barrier — it keeps running through the
        # commit and the next wave's schedule/fetch, and _standing_bloom
        # joins it right before the next tag (r4 profile: the join cost
        # ~1.1s of pure barrier wall when it had to finish pre-commit).
        def _bloom_delta():
            if self._bloom is None or n_new <= 0:
                return 0.0
            t0 = _time.time()
            if self.seen_filter == "bloom":
                delta = seen_ops.build_bloom_distributed(
                    new_frontier_rows, geometry=self._bloom.geometry())
                self._bloom.or_(delta)
            else:
                delta = cuckoo_ops.build_cuckoo_distributed(
                    new_frontier_rows, geometry=self._bloom.geometry())
                self._bloom.merge_(delta)
            return round(_time.time() - t0, 3)

        if self._bloom_pool is None:
            from concurrent.futures import ThreadPoolExecutor as _TPE

            self._bloom_pool = _TPE(max_workers=1)
        # any prior in-flight merge was joined by _standing_bloom above
        # (or by the defensive join in _run_wave_body's entry)
        assert self._bloom_fut is None
        self._bloom_ck_ids = nfr_ids
        self._bloom_fut = self._bloom_pool.submit(_bloom_delta)
        _mark("bloom_delta_submit")

        # --- next pending = pending - scheduled + new
        # NOT checkpointed: the union has exactly one consumer (the
        # frontier parquet write below) and both inputs are already
        # materialized (pending = parquet, scheduled/new = checkpoints),
        # so a checkpoint here would materialize the full multi-million-row
        # frontier twice per wave for nothing (profiled at 1M seeds:
        # 7-22s/wave of pure duplicate work).
        # next pending is DELTA state (state.py): this wave commits only
        # its new rows (frontier_delta) and its fetch tombstones (fetched,
        # budget-bounded) — read_pending folds base + deltas - tombstones
        # at the next wave's read, broadcasting the tombstone side off the
        # ledger's own counts. O(new + scheduled) state writes per wave
        # instead of O(frontier): the full-snapshot rewrite was the one
        # remaining at-scale bottleneck at the 10^10-URL design point.
        _mark("next_frontier")

        # --- metrics: per-partition lineage + fetch/dedup counts (A7/T7)
        metrics = (
            pages.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("scheduled"),
                F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("fetched_ok"),
                F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("fetch_failed"),
            )
            .withColumn("wave", F.lit(wave))
            .withColumn("discovered", F.lit(n_discovered))
            .withColumn("deduped_new", F.lit(n_new))
        )

        _submit_write("write_metrics", "metrics", wave, metrics)

        # --- commit barrier (data first, ledger last): JOIN every
        # pipelined write + the bloom delta, then commit. The recorded
        # per-write times are submit-to-finish walls (they include any
        # scheduler queueing behind the wave's own jobs); state_writes is
        # the wall spent BLOCKED here — i.e. only the part of the write
        # work the overlap failed to hide.
        _tw0 = _time.time()
        for key, fut in write_futs.items():
            timings[key] = fut.result()
        pool.shutdown(wait=True)
        _t0 = _time.time()
        timings["state_writes"] = round(_t0 - _tw0, 3)
        stats = {
            "scheduled": n_scheduled,
            "discovered": int(n_discovered),
            "deduped_new": int(n_new),
            "timings": timings,
        }
        st.commit_wave(wave, next_seq + n_new, stats)
        # periodic fold of the delta frontier (after the wave commit —
        # compaction has its own table-then-ledger crash protocol)
        if self.compact_every:
            base = st.frontier_base_wave()
            if wave - (base if base is not None else -1) >= self.compact_every:
                st.compact_frontier(wave)
                timings["compact_frontier"] = round(
                    _time.time() - _t0, 3)
        # output-table fold (same boundary, own crash protocol): runs
        # AFTER the wave commit so a crash mid-fold settles on resume
        # without touching the wave ledger
        if self.compact_tables_every and \
                (wave + 1) % self.compact_tables_every == 0:
            _tc = _time.time()
            st.compact_output_tables(capacity=self.compact_target_bytes)
            timings["compact_tables"] = round(_time.time() - _tc, 3)
        # every cross-wave input is re-read from the committed parquet
        # (CrawlState), so this wave's checkpoint blocks are dead weight
        # now — release them or a long crawl accumulates one wave's
        # MEMORY_AND_DISK blocks per wave
        release_checkpoint(self.spark, set().union(*wave_ck))
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
        stats = []
        try:
            for wave in range(last + 1, n_waves):
                stats.append(self.run_wave(wave))
            # settle the last wave's deferred delta merge on the success
            # path (surfaces a failed merge as this run's error)
            self._join_bloom_delta()
        finally:
            # ERROR path too, or a failed run leaks one wave's
            # frontier-sized checkpoint blocks plus a thread per run;
            # best-effort here so a join failure can't mask the
            # original exception (idempotent — no-op after the join
            # above succeeded)
            try:
                self._join_bloom_delta()
            except Exception:
                pass
            if self._bloom_pool is not None:
                self._bloom_pool.shutdown(wait=True)
                self._bloom_pool = None
        return stats
