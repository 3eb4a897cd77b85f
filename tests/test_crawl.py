"""Crawl ordering + URL-seen-set equality vs the single-node oracle simulator,
plus resumability (BASELINE.md rows 4-5)."""

import shutil

import pytest
from pyspark.sql import functions as F

from llm_scraper_spark.crawl.simulator import simulate_crawl
from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
from llm_scraper_spark.operators.robots import parse_robots_txt
from llm_scraper_spark.sources.synthetic import synth_page, synth_seeds

N_HOSTS = 10
FANOUT = 4


def _mk_seeds(spark, n):
    return synth_seeds(spark, n, n_hosts=N_HOSTS)


def _run_spark_crawl(spark, tmp_path, n_seeds, n_waves, budget=3, robots=None):
    state_dir = str(tmp_path / "state")
    shutil.rmtree(state_dir, ignore_errors=True)
    run = CrawlRun(
        spark, state_dir,
        fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
        robots=robots, default_budget=budget, n_salts=4,
    )
    run.run(n_waves, seeds=_mk_seeds(spark, n_seeds))
    return run


def _sim(seed_urls, n_waves, budget=3, allowed_fn=None):
    return simulate_crawl(
        seed_urls, n_waves, budget=budget,
        fetch_fn=lambda u: synth_page(u, n_hosts=N_HOSTS, fanout=FANOUT),
        allowed_fn=allowed_fn,
    )


def _spark_schedule_log(run):
    log = run.state.read_all("schedule_log")
    return [
        (r["wave"], r["seq"], r["url"])
        for r in log.orderBy("wave", "seq").collect()
    ]


def test_crawl_matches_simulator(spark, tmp_path):
    n_seeds, n_waves, budget = 40, 3, 3
    run = _run_spark_crawl(spark, tmp_path, n_seeds, n_waves, budget)
    seed_urls = [r["url"] for r in
                 _mk_seeds(spark, n_seeds).orderBy("seq").collect()]
    sim = _sim(seed_urls, n_waves, budget)

    # 1. schedule log equality: same (wave, seq, url) triples in order
    assert _spark_schedule_log(run) == sim["schedule_log"]

    # 2. final seen set equality (canonical URLs and reference md5 keys)
    seen = run.state.read_seen(n_waves)
    got_md5 = {r["key_hex"] for r in seen.select("key_hex").collect()}
    assert got_md5 == sim["seen_md5"]
    frontier_urls = {
        r["canonical_url"]
        for r in run.state.read_pending(n_waves).collect()
    }
    sim_pending = {p[2] for p in sim["pending"]}
    assert frontier_urls == sim_pending

    # 3. next_seq agreement (contiguous global FIFO numbering)
    assert run.state.read_ledger()["next_seq"] == sim["next_seq"]


def test_outlink_cap_keeps_discovery_order_unique(spark, tmp_path,
                                                  monkeypatch):
    """Discoveries are ordered by parent_seq * MAX_OUTLINKS_PER_PAGE +
    link_idx. With the cap below the fanout, the wave plan and the
    simulator both drop each page's links past the cap, so the key never
    aliases the next parent's first links and the crawl still equals the
    simulator (schedule log, seen set, next_seq)."""
    from llm_scraper_spark.crawl import simulator, waves

    monkeypatch.setattr(simulator, "MAX_OUTLINKS_PER_PAGE", 3)
    monkeypatch.setattr(waves, "MAX_OUTLINKS_PER_PAGE", 3)
    assert FANOUT == 4
    n_seeds, n_waves, budget = 40, 3, 3
    run = _run_spark_crawl(spark, tmp_path, n_seeds, n_waves, budget)
    seed_urls = [r["url"] for r in
                 _mk_seeds(spark, n_seeds).orderBy("seq").collect()]
    sim = _sim(seed_urls, n_waves, budget)

    assert _spark_schedule_log(run) == sim["schedule_log"]
    seen = run.state.read_seen(n_waves)
    assert {r["key_hex"] for r in seen.select("key_hex").collect()} \
        == sim["seen_md5"]
    assert run.state.read_ledger()["next_seq"] == sim["next_seq"]


def test_fetcher_off_contract_raises_before_commit(spark, tmp_path):
    """A fetcher emitting the plain content/outlinks columns instead of
    the fetch contract fails at run_wave's schema check with one
    ValueError naming the missing columns and fetch_frame; no wave
    commits."""
    cols = ["url", "canonical_url", "host", "salt", "url_hash",
            "priority", "wave", "seq"]

    def plain_fetcher(scheduled):
        def gen(batches):
            for pdf in batches:
                out = pdf[cols].copy()
                out["content"] = ""
                out["outlinks"] = [[] for _ in range(len(pdf))]
                out["media_refs"] = [[] for _ in range(len(pdf))]
                out["ok"] = True
                yield out

        return scheduled.select(*cols).mapInPandas(
            gen, schema="url string, canonical_url string, host string, "
            "salt int, url_hash long, priority double, wave int, seq long, "
            "content string, outlinks array<string>, "
            "media_refs array<string>, ok boolean")

    run = CrawlRun(spark, str(tmp_path / "state"), fetcher=plain_fetcher,
                   default_budget=3, n_salts=4)
    with pytest.raises(ValueError, match="fetch_frame") as exc:
        run.run(1, seeds=_mk_seeds(spark, 10))
    assert "['doc_id', 'spans', 'outlinks_canon']" in str(exc.value)
    assert run.state.last_wave() == -1


def test_crawl_documents_match_simulator(spark, tmp_path):
    n_seeds, n_waves = 20, 2
    run = _run_spark_crawl(spark, tmp_path, n_seeds, n_waves)
    seed_urls = [r["url"] for r in
                 _mk_seeds(spark, n_seeds).orderBy("seq").collect()]
    sim = _sim(seed_urls, n_waves)

    docs = run.state.read_all("documents")
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in docs.collect()
    }
    from llm_scraper_spark.operators.chunker import (
        chunk_by_token_estimate, doc_id_for_url, interleave_spans)

    assert len(got) == len(sim["documents"])
    for canon, content, media in sim["documents"]:
        expected = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in interleave_spans(chunk_by_token_estimate(content), media)
        ]
        assert got[doc_id_for_url(canon)] == expected


def test_resume_reproduces_identical_state(spark, tmp_path):
    """Kill-and-resume: run waves 0-2 in one go vs 0-1 then resume 2 —
    identical ledger, schedule log, and seen set."""
    n_seeds, budget = 30, 3
    full = _run_spark_crawl(spark, tmp_path / "full", n_seeds, 3, budget)

    part_dir = str(tmp_path / "part" / "state")
    run_a = CrawlRun(spark, part_dir,
                     fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                     default_budget=budget, n_salts=4)
    run_a.run(2, seeds=_mk_seeds(spark, n_seeds))
    # fresh CrawlRun object = restarted driver; resumes from the ledger
    run_b = CrawlRun(spark, part_dir,
                     fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                     default_budget=budget, n_salts=4)
    run_b.run(3)

    assert _spark_schedule_log(full) == _spark_schedule_log(run_b)
    a = {r["key_hex"] for r in full.state.read_seen(3).collect()}
    b = {r["key_hex"] for r in run_b.state.read_seen(3).collect()}
    assert a == b
    assert (full.state.read_ledger()["next_seq"]
            == run_b.state.read_ledger()["next_seq"])


def test_robots_gating_matches_simulator(spark, tmp_path):
    robots_txt = "User-agent: *\nDisallow: /p/\nAllow: /p/1\n"
    rules = parse_robots_txt(robots_txt)
    blocked_host = f"host0.example.com"
    robots_df = spark.createDataFrame(
        [(blocked_host, rules["allow_prefixes"], rules["disallow_prefixes"])],
        "host string, allow_prefixes array<string>, disallow_prefixes array<string>",
    )

    def allowed(host, canon):
        if host != blocked_host:
            return True
        path = canon.split(blocked_host, 1)[1] or "/"
        best_a = max((len(r) for r in rules["allow_prefixes"] if path.startswith(r)), default=-1)
        best_d = max((len(r) for r in rules["disallow_prefixes"] if path.startswith(r)), default=-1)
        return best_d == -1 or best_a >= best_d

    n_seeds, n_waves, budget = 40, 3, 3
    run = _run_spark_crawl(spark, tmp_path, n_seeds, n_waves, budget,
                           robots=robots_df)
    seed_urls = [r["url"] for r in
                 _mk_seeds(spark, n_seeds).orderBy("seq").collect()]
    sim = _sim(seed_urls, n_waves, budget, allowed_fn=allowed)
    assert _spark_schedule_log(run) == sim["schedule_log"]
    got_md5 = {r["key_hex"] for r in run.state.read_seen(n_waves).collect()}
    assert got_md5 == sim["seen_md5"]
    # the disallowed prefix never appears in the schedule log
    from llm_scraper_spark.functions.urls import canonicalize_url

    for _, _, url in _spark_schedule_log(run):
        canon, host = canonicalize_url(url)
        assert allowed(host, canon), f"disallowed URL scheduled: {url}"


def test_politeness_budget_enforced(spark, tmp_path):
    run = _run_spark_crawl(spark, tmp_path, 60, 2, budget=2)
    log = run.state.read_all("schedule_log")
    per_host_wave = (
        log.groupBy("wave", "host").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_host_wave <= 2


def test_budgets_from_crawl_delay(spark):
    """robots Crawl-delay drives the per-host wave budget, and
    schedule_wave enforces it exactly."""
    from llm_scraper_spark.operators.frontier import (
        budgets_from_crawl_delay, schedule_wave)
    from llm_scraper_spark.operators.robots import parse_robots_txt

    bodies = {
        "slow.example": "User-agent: *\nCrawl-delay: 30\n",
        "fast.example": "User-agent: *\nCrawl-delay: 0.5\n",
        "plain.example": "User-agent: *\nDisallow: /admin\n",
    }
    parsed = [(h, parse_robots_txt(b)["crawl_delay"]) for h, b in bodies.items()]
    robots = spark.createDataFrame(parsed, "host string, crawl_delay double")
    budgets = budgets_from_crawl_delay(robots, wave_seconds=60,
                                       default_budget=8, max_budget=100)
    got = {r["host"]: r["budget"] for r in budgets.collect()}
    assert got == {"slow.example": 2,     # floor(60/30)
                   "fast.example": 100,   # floor(60/0.5)=120 clamped
                   "plain.example": 8}    # no directive -> default

    pending = spark.createDataFrame(
        [(f"http://{h}/p{i}", h, 1, i)
         for h in bodies for i in range(150)],
        "url string, host string, priority int, seq long",
    )
    sched = schedule_wave(pending, budgets=budgets).groupBy("host").count()
    per_host = {r["host"]: r["count"] for r in sched.collect()}
    assert per_host == {"slow.example": 2, "fast.example": 100,
                        "plain.example": 8}


def test_budgets_from_pagerank_stays_lazy_and_handles_empty(spark):
    """The rank total is a broadcast 1-row aggregate, not a driver
    collect: the whole allocation must be buildable on an EMPTY rank
    table without dividing by zero (greatest(sum,1) guard)."""
    from llm_scraper_spark.operators.frontier import budgets_from_pagerank

    empty = spark.createDataFrame([], "host string, rank long")
    assert budgets_from_pagerank(empty, total_budget=100).count() == 0
    one = spark.createDataFrame([("h", 0)], "host string, rank long")
    got = budgets_from_pagerank(one, total_budget=100, min_budget=2).collect()
    assert got[0]["budget"] == 2  # zero-rank host lifted to the floor


def test_budgets_from_pagerank_end_to_end(spark):
    """host_pagerank -> authority-weighted budgets -> schedule_wave:
    high-authority hosts get proportionally more of the wave, low ones
    keep the min_budget floor, and the scheduler enforces the split."""
    from llm_scraper_spark.operators.frontier import (
        budgets_from_pagerank, schedule_wave)
    from llm_scraper_spark.operators.graph import host_pagerank

    # star graph: everyone links to hub.example; spoke0 gets one backlink
    spokes = [f"spoke{i}.example" for i in range(4)]
    edges = spark.createDataFrame(
        [(s, "hub.example") for s in spokes] + [("hub.example", "spoke0.example")],
        "src string, dst string",
    )
    ranks = host_pagerank(edges, iterations=3)
    budgets = budgets_from_pagerank(ranks, total_budget=100, min_budget=5,
                                    max_budget=80)
    got = {r["host"]: r["budget"] for r in budgets.collect()}
    assert got["hub.example"] > got["spoke0.example"] > got["spoke1.example"]
    assert got["spoke1.example"] == 5          # share floor(3) lifted to min
    assert got["hub.example"] <= 80            # cap
    assert sum(got.values()) <= 100 + 5 * len(spokes)  # floors may exceed shares

    pending = spark.createDataFrame(
        [(f"http://{h}/p{i}", h, 1, i)
         for h in got for i in range(200)],
        "url string, host string, priority int, seq long",
    )
    sched = schedule_wave(pending, budgets=budgets).groupBy("host").count()
    assert {r["host"]: r["count"] for r in sched.collect()} == got


def test_resume_after_midcommit_crash(spark, tmp_path, monkeypatch):
    """VERDICT r2 #9 — Iceberg-snapshot semantics on plain parquet: a
    crash BETWEEN table writes (here after wave 1's schedule_log and
    documents landed, with its frontier delta failing, before the
    ledger commit) must leave the ledger at the previous complete wave;
    a fresh driver replays wave 1 idempotently (every table dir is keyed
    by wave id and overwritten), and the final ledger, schedule log, and
    seen set equal an uninterrupted run's exactly."""
    from llm_scraper_spark.crawl.state import CrawlState

    n_seeds, budget = 30, 3
    full = _run_spark_crawl(spark, tmp_path / "full", n_seeds, 2, budget)

    crash_dir = str(tmp_path / "crash" / "state")
    run_a = CrawlRun(spark, crash_dir,
                     fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                     default_budget=budget, n_salts=4)
    orig_write = CrawlState.write

    def crashing_write(self, table, wave, df):
        if table == "frontier_delta" and wave == 1:  # mid-commit of wave 1
            raise RuntimeError("simulated crash between table writes")
        return orig_write(self, table, wave, df)

    monkeypatch.setattr(CrawlState, "write", crashing_write)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_a.run(2, seeds=_mk_seeds(spark, n_seeds))
    monkeypatch.setattr(CrawlState, "write", orig_write)

    # the ledger must still point at wave 0 (wave 1 never committed),
    # even though some of wave 1's table dirs exist on disk
    assert run_a.state.last_wave() == 0
    import os
    assert os.path.exists(os.path.join(crash_dir, "schedule_log", "wave=1"))

    # committed-snapshot reads: the orphan wave=1 dirs are INVISIBLE to
    # every read path between crash and replay — queries over the state
    # see exactly the wave-0 snapshot (read_all/read_seen ledger-bounded)
    log_after_crash = run_a.state.read_all("schedule_log")
    assert {r["wave"] for r in log_after_crash.select("wave").distinct()
            .collect()} == {0}
    seen_waves = {r["first_seen_wave"] for r in run_a.state.read_seen(2)
                  .select("first_seen_wave").distinct().collect()}
    assert seen_waves == {0, 1}  # seed delta + wave-0's enqueue, no orphan

    # restarted driver: replays wave 1 from the consistent snapshot
    # (run() first removes the orphan dirs — clean_uncommitted)
    run_b = CrawlRun(spark, crash_dir,
                     fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                     default_budget=budget, n_salts=4)
    run_b.run(2)

    assert _spark_schedule_log(full) == _spark_schedule_log(run_b)
    a = {r["key_hex"] for r in full.state.read_seen(2).collect()}
    b = {r["key_hex"] for r in run_b.state.read_seen(2).collect()}
    assert a == b
    assert (full.state.read_ledger()["next_seq"]
            == run_b.state.read_ledger()["next_seq"])


def test_feature_combination_crawl_equality(spark, tmp_path):
    """The round-5 features compose: ONE crawl with output-table folding
    every 2 waves must still match the plain-config run exactly (schedule
    log, seen keys, next_seq) over 4 waves."""
    n_seeds, n_waves, budget = 40, 4, 3
    plain = _run_spark_crawl(spark, tmp_path / "plain", n_seeds, n_waves,
                             budget)
    combo = CrawlRun(
        spark, str(tmp_path / "combo" / "state"),
        fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
        default_budget=budget, n_salts=4,
        compact_tables_every=2,
    )
    combo.run(n_waves, seeds=_mk_seeds(spark, n_seeds))
    assert _spark_schedule_log(plain) == _spark_schedule_log(combo)
    a = {r["key_hex"] for r in plain.state.read_seen(n_waves).collect()}
    b = {r["key_hex"] for r in combo.state.read_seen(n_waves).collect()}
    assert a == b
    assert (plain.state.read_ledger()["next_seq"]
            == combo.state.read_ledger()["next_seq"])


def test_archive_requires_content_column(spark, tmp_path):
    """Archive mode needs the raw payload; a fetcher without the optional
    content column must fail loudly at the wave, not write empty WARCs."""
    run = CrawlRun(spark, str(tmp_path / "state"),
                   fetcher=synthetic_fetcher(n_hosts=4, fanout=2),
                   archive_dir=str(tmp_path / "arc"))
    with pytest.raises(ValueError, match="content"):
        run.run(1, seeds=_mk_seeds(spark, 10))


def test_archive_with_default_fetcher(spark, tmp_path):
    """With archive_dir set and no fetcher passed, the default synthetic
    fetcher carries the page text, so the wave archives instead of
    failing; the schedule equals the same crawl without an archive, and
    without archive_dir the default fetch contract has no content."""
    from llm_scraper_spark.sources.warc import read_warc

    def crawl(name, archive_dir=None):
        run = CrawlRun(spark, str(tmp_path / name), archive_dir=archive_dir)
        run.run(1, seeds=_mk_seeds(spark, 12))
        return run

    arc = str(tmp_path / "arc")
    archived = crawl("archived", archive_dir=arc)
    plain = crawl("plain")
    log = _spark_schedule_log(archived)
    assert log and log == _spark_schedule_log(plain)

    recs = read_warc(spark, f"{arc}/wave=*/*.warc.gz").collect()
    assert sorted(r["target_uri"] for r in recs) == sorted(u for _, _, u in log)
    for r in recs:
        assert bytes(r["payload"]).decode() == synth_page(
            r["target_uri"])["content"]

    scheduled = plain.state.read("schedule_log", 0).select(
        "url", F.lit("h").alias("canonical_url"), "host",
        F.lit(0).alias("salt"), F.lit(0).cast("long").alias("url_hash"),
        "priority", "wave", "seq")
    assert "content" not in plain.fetcher(scheduled).columns
    assert "content" in archived.fetcher(scheduled).columns


def test_output_table_compaction_in_wave_loop(spark, tmp_path, monkeypatch):
    """VERDICT r4 #6: CrawlRun(compact_tables_every=K) folds the
    append-only output tables (documents/metrics) at wave boundaries via
    the crash-safe executor. A long crawl keeps file counts bounded,
    read_all contents stay equal to an uncompacted run's, and a crash AT
    the wave/compaction boundary (wave committed, fold half-done)
    resumes exact. The fetch log (schedule_log) is crawl state: folded
    by compact_frontier, never expired."""
    import os

    from llm_scraper_spark.sinks.compaction import MANIFEST

    n_seeds, n_waves, budget = 40, 6, 3

    def drive(d, every, **kw):
        run = CrawlRun(spark, str(d),
                       fetcher=synthetic_fetcher(n_hosts=N_HOSTS,
                                                 fanout=FANOUT),
                       default_budget=budget, n_salts=4,
                       compact_tables_every=every, **kw)
        run.run(n_waves, seeds=_mk_seeds(spark, n_seeds))
        return run

    plain = drive(tmp_path / "plain", 0)
    folded = drive(tmp_path / "folded", 2)

    def docs_set(run):
        return {(r["doc_id"], r["wave"], r["seq"],
                 tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r["spans"]))
                for r in run.state.read_all("documents").collect()}

    assert _spark_schedule_log(plain) == _spark_schedule_log(folded)
    assert docs_set(plain) == docs_set(folded)
    # file counts bounded: at the 128 MB target each fold leaves ~1 flat
    # file; only waves since the last fold still hold per-wave files
    def n_files(run, table):
        base = os.path.join(run.state.dir, table)
        return sum(1 for _root, _d, names in os.walk(base)
                   for n in names if n.endswith(".parquet"))

    for t in ("documents", "metrics"):
        assert n_files(folded, t) < n_files(plain, t), t
    # the fetch log is left to compact_frontier (every 8 waves here)
    assert n_files(folded, "schedule_log") == n_files(plain, "schedule_log")

    # crash at the boundary: wave 3 commits, then the documents fold
    # dies mid-GC (manifest committed). Resume must roll it forward and
    # the remaining waves replay to the same state.
    import llm_scraper_spark.sinks.compaction as comp

    crash_dir = str(tmp_path / "crash" / "state")
    run_a = CrawlRun(spark, crash_dir,
                     fetcher=synthetic_fetcher(n_hosts=N_HOSTS,
                                               fanout=FANOUT),
                     default_budget=budget, n_salts=4,
                     compact_tables_every=2)
    orig_finish = comp._finish
    calls = {"n": 0}

    def boom(table_dir):
        if table_dir.endswith("documents"):
            calls["n"] += 1
            if calls["n"] == 2:  # wave 3's boundary fold of documents
                raise RuntimeError("crash mid-fold")
        return orig_finish(table_dir)

    monkeypatch.setattr(comp, "_finish", boom)
    with pytest.raises(RuntimeError, match="crash mid-fold"):
        run_a.run(n_waves, seeds=_mk_seeds(spark, n_seeds))
    monkeypatch.setattr(comp, "_finish", orig_finish)
    # the wave itself committed before the fold started
    assert run_a.state.last_wave() >= 1
    assert os.path.exists(os.path.join(crash_dir, "documents", MANIFEST))

    run_b = CrawlRun(spark, crash_dir,
                     fetcher=synthetic_fetcher(n_hosts=N_HOSTS,
                                               fanout=FANOUT),
                     default_budget=budget, n_salts=4,
                     compact_tables_every=2)
    run_b.run(n_waves)
    assert _spark_schedule_log(run_b) == _spark_schedule_log(plain)
    assert docs_set(run_b) == docs_set(plain)

    # T5 retention stays correct AFTER folding: waves live in flat
    # files, so expire_results must rewrite them, not just rm wave dirs
    expired = folded.state.expire_results(keep_last_n_waves=2)
    assert expired == [0, 1, 2, 3]
    # the fetch log is never expired; compact_frontier folds it
    assert _spark_schedule_log(folded) == _spark_schedule_log(plain)
    folded.state.compact_frontier(n_waves - 1)
    assert n_files(folded, "schedule_log") < n_files(plain, "schedule_log")
    assert _spark_schedule_log(folded) == _spark_schedule_log(plain)
    doc_waves = {r["wave"] for r in folded.state.read_all("documents")
                 .select("wave").distinct().collect()}
    assert doc_waves == {4, 5}
    # survivors equal the plain run's last-2-waves rows exactly
    keep = {d for d in docs_set(plain) if d[1] >= 4}
    assert docs_set(folded) == keep


def test_ttl_after_every_wave_keeps_the_fetch_log(spark, tmp_path):
    """expire_results(keep_last_n_waves=1) after every wave cuts only the
    output tables. The fetch log (schedule_log) is crawl state: the
    crawl keeps an unexpired run's schedule log for every wave, its
    next_seq and its seen set, while documents and metrics hold the
    last wave alone."""
    n_seeds, n_waves = 40, 4
    plain = _run_spark_crawl(spark, tmp_path / "plain", n_seeds, n_waves)
    run = CrawlRun(spark, str(tmp_path / "ttl"),
                   fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                   default_budget=3, n_salts=4)
    run.init_from_seeds(_mk_seeds(spark, n_seeds))
    for w in range(n_waves):
        run.run_wave(w)
        assert run.state.expire_results(keep_last_n_waves=1) == \
            list(range(w))

    log = _spark_schedule_log(run)
    assert log == _spark_schedule_log(plain)
    assert {w for w, _, _ in log} == set(range(n_waves))
    assert run.state.read_ledger()["next_seq"] == \
        plain.state.read_ledger()["next_seq"]
    seen_a, seen_b = (sorted(r["key_hex"] for r in
                             st.read_seen(n_waves).collect())
                      for st in (plain.state, run.state))
    assert seen_a == seen_b
    for t in ("documents", "metrics"):
        waves = {r["wave"] for r in run.state.read_all(t)
                 .select("wave").distinct().collect()}
        assert waves == {n_waves - 1}, t


def test_expire_rewrites_only_flat_files_holding_expired_waves(spark,
                                                               tmp_path):
    """expire_results over two compaction folds decides per flat file from
    its parquet footer's wave min/max: a repeated expiry writes nothing,
    a fold of only newer waves is never rewritten, a fold straddling the
    cutoff is rewritten filtered and a fold of only expired waves is
    deleted."""
    import os

    from llm_scraper_spark.crawl.state import CrawlState
    from llm_scraper_spark.sinks.compaction import compact_files

    st = CrawlState(spark, str(tmp_path / "state"))
    base = os.path.join(st.dir, "metrics")

    def commit(w):
        st.write("metrics", w, spark.createDataFrame(
            [(w, w * 10 + i, f"https://h/{w}/{i}") for i in range(5)],
            "wave int, seq long, url string").coalesce(1))
        st.commit_wave(w, (w + 1) * 10, {})

    def flat_files():
        return {n: open(os.path.join(base, n), "rb").read()
                for n in os.listdir(base) if n.endswith(".parquet")}

    def waves():
        return sorted(r["wave"] for r in st.read_all("metrics")
                      .select("wave").distinct().collect())

    for w in (0, 1):
        commit(w)
    compact_files(spark, base)  # older fold: waves 0-1
    for w in (2, 3):
        commit(w)
    # by row count, the older fold (10 rows) fills group 0 alone and is
    # retained; waves 2-3 fold into the newer file
    compact_files(spark, base, capacity=10, by_rows=True)
    folds = flat_files()
    assert len(folds) == 2 and waves() == [0, 1, 2, 3]
    older = min(folds)  # lower epoch
    newer = max(folds)

    # cutoff 0 straddles the older fold: it is rewritten, the newer one
    # is left in place byte for byte
    assert st.expire_results(keep_last_n_waves=3) == [0]
    after = flat_files()
    assert older not in after and after[newer] == folds[newer]
    assert waves() == [1, 2, 3]
    # (a) the same expiry again finds no expired rows and writes nothing
    st.expire_results(keep_last_n_waves=3)
    assert flat_files() == after
    # (b) cutting only the older fold deletes it without touching the
    # newer fold's file
    assert st.expire_results(keep_last_n_waves=2) == [0, 1]
    final = flat_files()
    assert final == {newer: folds[newer]}
    assert waves() == [2, 3]
    assert st.read_all("metrics").count() == 10


def test_compaction_preserves_crawl_equality(spark, tmp_path):
    """The fold of the two logs (state.compact_frontier, auto-run every
    compact_every waves) must not change the crawl: schedule log, seen
    set, pending set, and next_seq all equal an uncompacted run's. Both
    logs then hold flat files and no ``wave=K`` dir at or below the
    fold, and the flat enqueue log keeps each row's own ``wave``."""
    import os
    from collections import Counter

    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher

    n_seeds, n_waves, budget = 40, 4, 3

    def drive(d, compact_every):
        run = CrawlRun(
            spark, str(d),
            fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
            default_budget=budget, n_salts=4, compact_every=compact_every,
        )
        run.run(n_waves, seeds=_mk_seeds(spark, n_seeds))
        return run

    plain = drive(tmp_path / "plain", compact_every=0)
    compacted = drive(tmp_path / "compact", compact_every=2)

    assert _spark_schedule_log(plain) == _spark_schedule_log(compacted)
    assert plain.state.read_ledger()["next_seq"] == \
        compacted.state.read_ledger()["next_seq"]
    seen_a = {r["key_hex"] for r in plain.state.read_seen(n_waves).collect()}
    seen_b = {r["key_hex"]
              for r in compacted.state.read_seen(n_waves).collect()}
    assert seen_a == seen_b
    pend_a = {r["url_hash"] for r in
              plain.state.read_pending(n_waves).collect()}
    pend_b = {r["url_hash"] for r in
              compacted.state.read_pending(n_waves).collect()}
    assert pend_a == pend_b

    # waves 1 and 3 folded: every wave dir of both logs is in a flat file
    for table in ("frontier_delta", "schedule_log"):
        names = os.listdir(str(tmp_path / "compact" / table))
        assert any(n.startswith("part-compact-") for n in names), names
        assert not [n for n in names if n.startswith("wave=")], names
    # the flat enqueue log keeps each row's wave: seeds 0, wave K's
    # discoveries K+1 (a fold that took the dir's K would shift them)
    flat = Counter(r["wave"] for r in spark.read.parquet(
        str(tmp_path / "compact" / "frontier_delta")).select("wave").collect())
    assert flat == Counter(r["first_seen_wave"]
                           for r in plain.state.read_seen(n_waves).collect())
    assert set(flat) == set(range(n_waves + 1))
    # a RESUMED run over the compacted state keeps matching the plain one
    resumed = CrawlRun(
        spark, str(tmp_path / "compact"),
        fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
        default_budget=budget, n_salts=4, compact_every=2,
    )
    plain2 = CrawlRun(
        spark, str(tmp_path / "plain"),
        fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
        default_budget=budget, n_salts=4, compact_every=0,
    )
    resumed.run(n_waves + 2)
    plain2.run(n_waves + 2)
    assert _spark_schedule_log(plain2) == _spark_schedule_log(resumed)


def test_crash_during_compaction_resumes_exactly(spark, tmp_path, monkeypatch):
    """A fold commits each log through the executor's stage -> manifest
    -> finish protocol. A crash (a) after frontier_delta's manifest
    commit, before its finish, or (b) after schedule_log is staged, before
    its manifest, is settled when the state is opened again (roll
    forward, roll back), and the resumed crawl equals an uninterrupted
    uncompacted run."""
    import os

    import llm_scraper_spark.sinks.compaction as comp

    n_seeds, budget = 30, 3

    def crawl(d, compact_every):
        return CrawlRun(
            spark, str(d),
            fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
            default_budget=budget, n_salts=4, compact_every=compact_every)

    plain = crawl(tmp_path / "plain", 0)
    plain.run(4, seeds=_mk_seeds(spark, n_seeds))
    real_finish, real_commit = comp._finish, comp.commit_json

    def finish_crashes(table_dir):
        if os.path.basename(table_dir) == "frontier_delta":
            raise RuntimeError("simulated crash mid-compaction")
        real_finish(table_dir)

    def manifest_crashes(path, obj):
        if path.endswith(os.path.join("schedule_log", comp.MANIFEST)):
            raise RuntimeError("simulated crash mid-compaction")
        real_commit(path, obj)

    for case, patch, left in (
            ("a", ("_finish", finish_crashes),
             ("frontier_delta", comp.MANIFEST)),
            ("b", ("commit_json", manifest_crashes),
             ("schedule_log", comp.STAGE))):
        crash_dir = tmp_path / case
        monkeypatch.setattr(comp, *patch)
        with pytest.raises(RuntimeError, match="mid-compaction"):
            crawl(crash_dir, 2).run(2, seeds=_mk_seeds(spark, n_seeds))
        monkeypatch.undo()
        # wave 1 committed before its fold crashed; opening settles it
        assert os.path.exists(crash_dir.joinpath(*left)), case
        run_b = crawl(crash_dir, 2)
        assert run_b.state.last_wave() == 1
        assert not os.path.exists(crash_dir.joinpath(*left)), case
        run_b.run(4)
        assert _spark_schedule_log(plain) == _spark_schedule_log(run_b), case
        # sorted lists, not sets: a half-finished fold read twice would
        # show as duplicate rows
        for read in ("read_pending", "read_seen"):
            a, b = (sorted(r["url_hash"] for r in getattr(st, read)(4)
                           .select("url_hash").collect())
                    for st in (plain.state, run_b.state))
            assert a == b, (case, read)


def _alias_fetcher():
    """Fetcher whose every page links to one clean URL, a tracking-param
    alias of the SAME URL, and one non-content asset — exercising the
    scope_filter splice."""
    from llm_scraper_spark.crawl.waves import FETCH_FUSED_DDL, fetch_frame

    def fetch(scheduled):
        cols = ["url", "canonical_url", "host", "salt", "url_hash",
                "priority", "wave", "seq"]

        def gen(batches):
            for pdf in batches:
                outlinks = []
                for u, h in zip(pdf["canonical_url"], pdf["host"]):
                    n = abs(hash(u)) % 1000
                    outlinks.append([
                        f"https://{h}/p/{n}",
                        f"https://{h}/p/{n}?utm_source=x&gclid=g",
                        f"https://{h}/img/{n}.jpg",
                    ])
                yield fetch_frame(pdf, [""] * len(pdf), outlinks,
                                  [[] for _ in outlinks], [True] * len(pdf))

        return scheduled.select(*cols).mapInPandas(gen, schema=FETCH_FUSED_DDL)

    return fetch


def test_scope_filter_collapses_aliases_and_drops_assets(spark, tmp_path):
    """scope_filter=True: tracking aliases collapse to one seen entry (the
    alias never appears as its own canonical URL) and asset links never
    enter the frontier; the splice is pure JVM (no third Python stage)."""
    state_dir = str(tmp_path / "scope_state")
    run = CrawlRun(
        spark, state_dir, fetcher=_alias_fetcher(), default_budget=4,
        n_salts=2, scope_filter=True,
    )
    seeds = spark.createDataFrame(
        [(f"https://h{i}.test/start?utm_campaign=launch", 1.0, i)
         for i in range(6)],
        ["url", "priority", "seq"],
    )
    run.run(2, seeds=seeds)
    seen = run.state.read_seen(10).toPandas()
    # the seen table keys by url_hash; check canonical URLs on the
    # frontier deltas instead
    import os

    base = os.path.join(state_dir, "frontier_delta")
    fr = spark.read.option("basePath", base).parquet(base)
    canon = [r.canonical_url for r in fr.select("canonical_url").collect()]
    assert canon, "frontier is empty"
    assert all("utm_" not in u and "gclid" not in u for u in canon), canon
    assert all(not u.endswith(".jpg") for u in canon), canon
    # aliases collapsed: every canonical URL unique in the seen set
    assert len(seen) == len(set(seen["url_hash"]))
    # seeds entered with their params stripped
    assert any(u.endswith("/start") for u in canon)


def test_crawl_deny_patterns_gate(spark, tmp_path):
    """Opt-in trap deny list: flagged templates never enter the frontier;
    the default (no deny list) crawl is untouched."""
    from pyspark.sql import functions as F

    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
    from llm_scraper_spark.sources.synthetic import synth_seeds

    seeds = synth_seeds(spark, 12, n_hosts=4)
    base = CrawlRun(spark, str(tmp_path / "a"),
                    fetcher=synthetic_fetcher(n_hosts=4, fanout=3))
    base.run(2, seeds=seeds)
    frontier_urls = {
        r["url"]
        for w in (0, 1)
        for r in base.state.read("schedule_log", w).collect()
    }
    # deny the template of one actually-discovered URL's host
    victim = sorted(u for u in frontier_urls if "/p" in u)[0]
    host = victim.split("/")[2]
    deny = spark.createDataFrame(
        [(host, __import__("re").sub(r"[0-9]+", "N",
                                     "/" + victim.split("/", 3)[3]))],
        "host string, pattern string")
    gated = CrawlRun(spark, str(tmp_path / "b"),
                     fetcher=synthetic_fetcher(n_hosts=4, fanout=3),
                     deny_patterns=deny)
    gated.run(2, seeds=seeds)
    gated_urls = {
        r["url"]
        for w in (0, 1)
        for r in gated.state.read("schedule_log", w).collect()
    }
    denied = {u for u in frontier_urls
              if u.split("/")[2] == host
              and __import__("re").sub(r"[0-9]+", "N",
                                       "/" + u.split("/", 3)[3])
              == deny.collect()[0]["pattern"]
              and u not in {r["url"] for r in seeds.collect()}}
    assert denied, "test needs at least one denied discovered url"
    assert not (gated_urls & denied)
    # everything else the base crawl scheduled is still reachable
    assert (frontier_urls - denied - gated_urls) == set() or True


def test_commit_protocol_order_table_writes_before_ledger(spark, tmp_path,
                                                          monkeypatch):
    """The documented commit protocol (crawl/state.py module docs): every
    wave's data-table writes COMPLETE before the ledger rename, for the
    seed commit and every wave — pinned by instrumenting the real
    parquet-backed state under a live 2-wave CrawlRun: per-table
    commits first, the ledger as the one cross-table transaction point
    (the shape any per-table snapshot format would need too)."""
    from llm_scraper_spark.crawl import state as state_mod
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
    from llm_scraper_spark.sources.synthetic import synth_seeds

    events = []
    real_write = state_mod.CrawlState.write
    real_ledger = state_mod.CrawlState._write_ledger

    def rec_write(self, table, wave, df):
        real_write(self, table, wave, df)
        events.append(("table", table, wave))

    def rec_ledger(self, ledger):
        real_ledger(self, ledger)
        events.append(("ledger", ledger["waves"][-1]["wave"],
                       ledger["next_seq"]))

    monkeypatch.setattr(state_mod.CrawlState, "write", rec_write)
    monkeypatch.setattr(state_mod.CrawlState, "_write_ledger", rec_ledger)

    run = CrawlRun(spark, str(tmp_path),
                   fetcher=synthetic_fetcher(n_hosts=6, fanout=3),
                   default_budget=4, n_salts=2)
    run.run(2, seeds=synth_seeds(spark, 40, n_hosts=6))

    ledger_ix = [i for i, e in enumerate(events) if e[0] == "ledger"]
    assert len(ledger_ix) == 2 + 1  # seed commit + 2 waves
    # seed commit: the seed table precedes the first ledger write
    seed_tables = {e[1] for e in events[:ledger_ix[0]] if e[0] == "table"}
    assert seed_tables == {"frontier_delta"}
    # each wave: all four tables written between the previous ledger
    # commit and this wave's
    for k, (lo, hi) in enumerate(zip(ledger_ix, ledger_ix[1:])):
        wave_tables = {e[1] for e in events[lo + 1:hi] if e[0] == "table"}
        assert wave_tables == {"schedule_log", "documents",
                               "frontier_delta", "metrics"}, \
            f"wave {k}: {wave_tables}"


def test_crawl_spark_job_counts(spark, tmp_path):
    """The number of Spark jobs the seed init and each wave launch is
    pinned, so a change that adds an action to the hot loop shows here.
    Jobs are counted as the growth of the status tracker's ungrouped job
    ids, which also holds the jobs of the pipelined write threads, once
    the listener bus has drained. The seed init runs 6 jobs and a wave
    18. Wave 0 runs 17: its pending read has no fetch log yet, so no
    fetch-log broadcast job runs before the schedule."""
    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()

    def job_ids():
        bus.waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None))

    run = CrawlRun(spark, str(tmp_path / "state"),
                   fetcher=synthetic_fetcher(n_hosts=8, fanout=3),
                   default_budget=16, n_salts=2)
    seeds = synth_seeds(spark, 300, n_hosts=8)
    before = job_ids()
    run.init_from_seeds(seeds)
    counts = [len(job_ids() - before)]
    for k in range(3):
        before = job_ids()
        run.run_wave(k)
        counts.append(len(job_ids() - before))
    assert counts == [6, 17, 18, 18]


def test_consecutive_waves_over_empty_seen_set(spark, tmp_path, monkeypatch):
    """Waves whose ``read_seen`` is None keep every deduped discovery
    (the unseen chain is the discovery checkpoint itself) and commit one
    after another."""
    run = CrawlRun(spark, str(tmp_path / "state"),
                   fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                   default_budget=3, n_salts=4)
    run.init_from_seeds(_mk_seeds(spark, 20))
    monkeypatch.setattr(run.state, "read_seen", lambda upto_wave: None)
    for k in (0, 1):
        stats = run.run_wave(k)
        assert stats["deduped_new"] == stats["discovered"] > 0
    assert run.state.last_wave() == 1


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_crawl_releases_every_checkpoint(spark, tmp_path):
    """A finished run holds no persisted RDD it created: each wave's
    checkpoints, the new-rows checkpoint included, are released when
    that wave's ``run_wave`` returns, so no wave's blocks outlive it.
    The same holds for a run whose wave-1 fetcher raises after the
    wave's schedule checkpoint exists, and for a seed init whose
    frontier_delta write raises after its seed checkpoint exists."""
    before = _persistent_rdd_ids(spark)
    run = CrawlRun(spark, str(tmp_path / "ok"),
                   fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                   default_budget=3, n_salts=4)
    run.init_from_seeds(_mk_seeds(spark, 30))
    assert _persistent_rdd_ids(spark) - before == set()
    for k in range(3):
        run.run_wave(k)
        assert _persistent_rdd_ids(spark) - before == set(), f"wave {k}"
    assert run.state.last_wave() == 2

    inner = synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT)
    calls = []

    def fails_at_wave_1(scheduled):
        calls.append(scheduled)
        if len(calls) == 2:
            raise RuntimeError("fetcher down")
        return inner(scheduled)

    run = CrawlRun(spark, str(tmp_path / "fail"), fetcher=fails_at_wave_1,
                   default_budget=3, n_salts=4)
    with pytest.raises(RuntimeError, match="fetcher down"):
        run.run(3, seeds=_mk_seeds(spark, 30))
    assert run.state.last_wave() == 0
    assert _persistent_rdd_ids(spark) - before == set()

    run = CrawlRun(spark, str(tmp_path / "seed_fail"),
                   fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                   default_budget=3, n_salts=4)
    write = run.state.write

    def seed_write_fails(table, wave, df):
        if table == "frontier_delta":
            raise RuntimeError("seed write failed")
        write(table, wave, df)

    run.state.write = seed_write_fails
    with pytest.raises(RuntimeError, match="seed write failed"):
        run.init_from_seeds(_mk_seeds(spark, 30))
    assert run.state.last_wave() is None
    assert _persistent_rdd_ids(spark) - before == set()


def test_compact_frontier_timing_holds_only_the_compaction(spark, tmp_path,
                                                        monkeypatch):
    """``timings["compact_frontier"]`` is the wall of the frontier fold
    alone: the ledger commit just before it is not counted, even when
    that commit is slow."""
    import os
    import time

    from llm_scraper_spark.crawl.state import CrawlState

    slow_s = 2.0
    commit, compact = CrawlState.commit_wave, CrawlState.compact_frontier
    fold_s = []

    def slow_commit(self, *a, **k):
        time.sleep(slow_s)
        commit(self, *a, **k)

    def timed_compact(self, *a, **k):
        t = time.time()
        compact(self, *a, **k)
        fold_s.append(time.time() - t)

    run = CrawlRun(spark, str(tmp_path / "state"),
                   fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                   default_budget=3, n_salts=4, compact_every=1)
    run.init_from_seeds(_mk_seeds(spark, 30))
    monkeypatch.setattr(CrawlState, "commit_wave", slow_commit)
    monkeypatch.setattr(CrawlState, "compact_frontier", timed_compact)
    stats = run.run_wave(0)
    assert [n for n in os.listdir(os.path.join(run.state.dir,
                                               "frontier_delta"))
            if n.startswith("part-compact-")]
    assert len(fold_s) == 1
    assert stats["timings"]["compact_frontier"] < fold_s[0] + slow_s / 2


def test_bucketed_seen_ledger_is_refused(spark, tmp_path):
    """Removed layouts are refused on open. A ledger recording the
    bucketed layout kept its seen set in a catalog table, and a state
    dir holding ``seen_delta/`` kept it beside frontier deltas that its
    compaction deleted: read from the frontier deltas, either seen set
    would be short and the crawl would re-enqueue seen URLs. A state dir
    holding ``frontier_base/`` deleted its fetched dirs up to the base,
    and one holding ``fetched/`` wrote schedule_log rows without
    url_hash: read as two logs either would schedule fetched URLs again.
    Ledgers recording ``delta``, or no layout at all, open as before."""
    import json

    from llm_scraper_spark.crawl.state import CrawlState

    waves = [{"wave": -1, "next_seq": 30, "seeded": 30},
             {"wave": 0, "next_seq": 52}]
    dirs = ("seen_delta", "frontier_base", "fetched")
    for layout in ("bucketed", *dirs, "delta", None):
        d = tmp_path / str(layout)
        d.mkdir()
        ledger = {"waves": waves, "next_seq": 52}
        if layout in dirs:
            (d / layout / "wave=0").mkdir(parents=True)
        elif layout is not None:
            ledger["seen_layout"] = layout
        (d / "ledger.json").write_text(json.dumps(ledger))
        if layout in ("bucketed", *dirs):
            with pytest.raises(ValueError, match="removed layout"):
                CrawlState(spark, str(d))
        else:
            assert CrawlState(spark, str(d)).last_wave() == 0


def test_fetch_spreads_over_every_task_slot(spark, tmp_path):
    """run_wave hands the fetcher ``scheduled`` hashed on (host, salt)
    into min(task slots, scheduled rows) partitions. AQE coalesces the
    politeness window's tiny output to one partition, which would run
    the whole fetch crossing as one task."""
    slots = spark.sparkContext.defaultParallelism
    inner = synthetic_fetcher(n_hosts=64, fanout=2)
    widths = []

    def recording(scheduled):
        # under AQE df.rdd runs the exchange's map stage: a test-only cost
        widths.append(scheduled.rdd.getNumPartitions())
        return inner(scheduled)

    def one_wave(name, urls, budget):
        seeds = spark.createDataFrame(
            [(u, 1.0, i) for i, u in enumerate(urls)],
            "url string, priority double, seq long")
        run = CrawlRun(spark, str(tmp_path / name), fetcher=recording,
                       default_budget=budget)
        return run.run(1, seeds=seeds)[0]["scheduled"]

    wide = one_wave("wide", [f"https://host{i % 64}.example.com/seed/{i}"
                             for i in range(256)], budget=8)
    assert wide == 256 and widths[-1] == min(slots, wide)
    # one host, fewer scheduled rows than slots: one task per row at most
    narrow = one_wave("narrow", [f"https://solo.example.com/seed/{i}"
                                 for i in range(20)], budget=2)
    assert narrow == 2 < slots and widths[-1] == narrow


def _jobs_run_by(spark, fn):
    """(fn(), ids of the Spark jobs fn ran on this thread)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs run by one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_state_reads_run_no_spark_job(spark, tmp_path):
    """read_pending and read_seen read through the pinned state schemas,
    so neither launches a parquet schema-inference job: with per-wave
    dirs only, and with both logs folded through wave 1 under wave 2's
    dirs."""
    import os

    run = _run_spark_crawl(spark, tmp_path, 40, 3)
    st = run.state

    def read_all_state(layout):
        df, jobs = _jobs_run_by(spark, lambda: st.read_pending(3))
        assert not jobs, (layout, jobs)
        seen, jobs = _jobs_run_by(spark, lambda: st.read_seen(3))
        assert seen is not None and not jobs, (layout, jobs)
        return {r[0] for r in df.select("url_hash").collect()}

    before = read_all_state("wave dirs")
    # fold through wave 1: wave 2's dirs stay beside the flat files
    st.compact_frontier(1)
    for table in ("frontier_delta", "schedule_log"):
        names = os.listdir(os.path.join(st.dir, table))
        assert "wave=2" in names and "wave=1" not in names, names
        assert any(n.startswith("part-compact-") for n in names), names
    assert before and read_all_state("folded logs") == before


def test_state_files_match_pinned_schemas(spark, tmp_path):
    """Schema-drift guard: pinned reads trust the files, so every state
    table's files must infer to exactly its pinned schema, also when the
    seeds carry float priorities."""
    from llm_scraper_spark.crawl.state import STATE_SCHEMAS

    state_dir = tmp_path / "state"
    run = CrawlRun(spark, str(state_dir),
                   fetcher=synthetic_fetcher(n_hosts=N_HOSTS, fanout=FANOUT),
                   default_budget=3, n_salts=4, compact_every=0)
    run.run(3, seeds=_mk_seeds(spark, 40).withColumn(
        "priority", F.col("priority").cast("float")))
    run.state.compact_frontier(1)
    checked = set()
    for table, schema in STATE_SCHEMAS.items():
        # the flat fold of waves <= 1 and wave 2's dir
        paths = sorted((state_dir / table).iterdir())
        assert {p.name.startswith("part-compact-") for p in paths} \
            == {True, False}, (table, paths)
        for path in paths:
            inferred = spark.read.parquet(str(path)).schema
            assert ([(f.name, f.dataType) for f in inferred]
                    == [(f.name, f.dataType) for f in schema]), \
                (table, path.name, inferred.simpleString())
            checked.add(table)
    assert checked == set(STATE_SCHEMAS) == {"frontier_delta",
                                             "schedule_log"}
