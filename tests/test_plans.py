"""Plan-shape assertions: pushdown, pruning, broadcast, codegen.

Correct results with the wrong plan fail here — the 100 TB contract is
about plan shape as much as output values.
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"

from llm_scraper_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filter,
    assert_read_schema_only,
    count_shuffles,
    has_codegen,
)


def test_filter_pushdown_to_parquet(spark, sf_mid):
    li = spark.read.parquet(f"{sf_mid}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 24).select("l_orderkey", "l_quantity")
    assert_pushed_filter(q, "l_quantity")


def test_column_pruning(spark, sf_mid):
    li = spark.read.parquet(f"{sf_mid}/lineitem.parquet")
    q = li.select("l_orderkey", "l_extendedprice")
    assert_read_schema_only(q, {"l_orderkey", "l_extendedprice"})


def test_config_join_is_broadcast(spark, sf_mid):
    """J1: the configs/dims side must broadcast, never shuffle."""
    orders = spark.read.parquet(f"{sf_mid}/orders.parquet")
    cust = spark.read.parquet(f"{sf_mid}/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert_broadcast_join(j)
    assert count_shuffles(j) == 0


def test_robots_gate_broadcasts(spark):
    from llm_scraper_spark.operators.robots import gate_frontier

    frontier = spark.createDataFrame(
        [("u", "https://h.com/a", "h.com")],
        "url string, canonical_url string, host string")
    robots = spark.createDataFrame(
        [("h.com", ["/ok"], ["/no"])],
        "host string, allow_prefixes array<string>, disallow_prefixes array<string>")
    gated = gate_frontier(frontier, robots)
    assert_broadcast_join(gated)
    assert_no_cartesian(gated)


def test_exact_dedup_single_shuffle(spark, sf_mid):
    from llm_scraper_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select("doc_id", "text")
    out = exact_dedup(docs)
    assert count_shuffles(out) == 1  # one hash exchange, nothing else
    # NB min_by(struct) plans as SortAggregate (TypedImperative, no
    # codegen); measured faster than the min+semijoin alternative, so the
    # single-shuffle shape is the contract here, not codegen.


def test_first_occurrence_dedup_single_shuffle(spark, sf_mid):
    from llm_scraper_spark.operators.seen import first_occurrence_dedup

    ev = spark.read.parquet(f"{sf_mid}/events.parquet").select(
        "user_id", "event_id", "event_type")
    out = first_occurrence_dedup(ev, "user_id", "event_id")
    assert count_shuffles(out) == 1


def test_textstats_no_shuffle_no_udf(spark, sf_mid):
    from llm_scraper_spark.functions.text import token_estimate, word_count

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet")
    q = docs.select("doc_id", word_count("text").alias("w"),
                    token_estimate("text").alias("t"))
    assert count_shuffles(q) == 0
    from llm_scraper_spark.plans.explain import physical_plan
    assert "BatchEvalPython" not in physical_plan(q, "simple")
    assert "ArrowEvalPython" not in physical_plan(q, "simple")


def test_repetition_signals_two_shuffles_no_python(spark, sf_mid):
    """The three Gopher repetition fractions cost exactly one exchange per
    shingle branch (the doc_id window; downstream groupBys reuse its
    partitioning) and zero Python stages. The per-doc agg joins are
    AQE-sized (broadcast at test scale, SMJ on id at 100 TB)."""
    from llm_scraper_spark.operators.text_analysis import repetition_signals
    from llm_scraper_spark.plans.explain import physical_plan

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "text")
    q = repetition_signals(docs)
    assert count_shuffles(q) == 2
    p = physical_plan(q, "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_line_dedup_two_shuffles_no_python(spark, sf_mid):
    """Cross-corpus line dedup: lines explode shuffle-free; first-occurrence
    is ONE map-side-combined exchange on the line hash (skew-safe for the
    universal boilerplate/empty lines — a window over the hash would pile
    the whole corpus' hot line into one partition); reassembly reuses /
    adds one exchange on doc id. No Python stages anywhere."""
    from llm_scraper_spark.operators.dedup import line_dedup
    from llm_scraper_spark.plans.explain import physical_plan

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "text")
    q = line_dedup(docs)
    assert count_shuffles(q) <= 3
    p = physical_plan(q, "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert_no_cartesian(q)


def test_ngram_contamination_broadcasts_bench_no_python(spark, sf_mid):
    """Decontamination: the benchmark n-gram set (eval sets are tiny vs the
    corpus) reaches the membership join as a broadcast — the corpus side
    never shuffles for the probe; only slim (id, hash) rows shuffle for
    distinct + the per-doc agg. No Python stages."""
    from llm_scraper_spark.operators.dedup import ngram_contamination
    from llm_scraper_spark.plans.explain import physical_plan

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "text")
    q = ngram_contamination(
        docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0"), n=8)
    p = physical_plan(q, "simple")
    assert "BroadcastExchange" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert count_shuffles(q) <= 4
    assert_no_cartesian(q)


def test_stratified_sample_no_shuffle_no_python(spark, sf_mid):
    """The mixture gate is a pure codegen'd filter over the scan: the md5
    uniform + CASE rate table must introduce no exchange and no Python
    stage, so it composes with pushdown/pruning at any scale."""
    from llm_scraper_spark.operators.sampling import (
        split_train_eval, stratified_sample)
    from llm_scraper_spark.plans.explain import physical_plan

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "lang")
    q = split_train_eval(
        stratified_sample(docs, {"en": 0.5, "de": 0.1}, strata_col="lang"))
    assert count_shuffles(q) == 0
    plan = physical_plan(q, "simple")
    assert "EvalPython" not in plan
    assert "*(1)" in plan  # one whole-stage-codegen span over the scan


def test_bucketed_join_no_exchange(spark, sf_mid, tmp_path):
    """Two tables co-bucketed on the join key sort-merge-join with ZERO
    Exchange operators — the wave-loop seen-set join's 100 TB layout
    (sinks/bucketed.py). Joining a NON-bucketed copy of the same data
    does shuffle, so the assertion is about bucketing, not size."""
    from llm_scraper_spark.plans.explain import physical_plan
    from llm_scraper_spark.sinks.bucketed import colocated_join, write_bucketed

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet")
    left = docs.select("doc_id", "lang")
    right = docs.select("doc_id", "n_chars")
    write_bucketed(left, "bkt_left", ["doc_id"], 8,
                   path=str(tmp_path / "bkt_left"))
    write_bucketed(right, "bkt_right", ["doc_id"], 8,
                   path=str(tmp_path / "bkt_right"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "bkt_left", "bkt_right", on=["doc_id"])
        plan = physical_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == docs.count()

        shuffled = left.join(right.withColumnRenamed("n_chars", "nc"),
                             on=["doc_id"])
        assert "Exchange" in physical_plan(shuffled)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_recrawl_intervals_single_shuffle_no_python(spark):
    """All three analytic passes (row_number+lag, then the running
    unchanged-streak max) share PARTITION BY url ORDER BY wave, so the
    whole operator costs exactly ONE exchange and no Python stage."""
    from llm_scraper_spark.operators.frontier import recrawl_intervals
    from llm_scraper_spark.plans.explain import physical_plan

    hist = spark.range(4000).select(
        F.concat(F.lit("u"), (F.col("id") % 100).cast("string")).alias("url"),
        (F.col("id") / 100).cast("long").alias("wave"),
        (F.col("id") % 3).cast("string").alias("fingerprint"),
    )
    q = recrawl_intervals(hist)
    assert count_shuffles(q) == 1
    p = physical_plan(q, "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_interleave_pack_single_shuffle_no_python(spark):
    """Per-stream packing costs one hash exchange on the stream key; the
    geometry arithmetic is all codegen'd (no Python past the input)."""
    from llm_scraper_spark.operators.corpus import interleave_pack
    from llm_scraper_spark.plans.explain import physical_plan

    spans = spark.range(2000).select(
        F.concat(F.lit("d"), (F.col("id") / 4).cast("long").cast("string"))
        .alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("span_idx"),
        F.when(F.col("id") % 4 == 0, "text").otherwise("media").alias("kind"),
        F.lit("alpha beta gamma").alias("text"),
        (F.col("id") % 8).cast("string").alias("stream"),
    )
    q = interleave_pack(spans, capacity=256, stream_col="stream")
    assert count_shuffles(q) == 1
    p = physical_plan(q, "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_assign_global_seq_fully_native(spark):
    """VERDICT r2 #4: the hot wave loop's seq assignment must not spawn a
    Python stage — local index derives from monotonically_increasing_id,
    offsets from a broadcast-joined per-partition aggregate. The only
    Python stages in a wave plan are the fetcher and the chunker."""
    from llm_scraper_spark.operators.frontier import assign_global_seq
    from llm_scraper_spark.plans.explain import physical_plan

    cand = spark.range(5000).select(
        (F.col("id") % 97).cast("long").alias("parent_seq"),
        (F.col("id") % 11).cast("int").alias("link_idx"),
        F.concat(F.lit("https://h"), F.col("id").cast("string")).alias("url"),
    )
    q = assign_global_seq(cand, base_seq=1000)
    p = physical_plan(q, "simple")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    # correctness: contiguous seqs in (parent_seq, link_idx) order
    rows = q.orderBy("seq").collect()
    seqs = [r["seq"] for r in rows]
    assert seqs == list(range(1000, 1000 + 5000))
    keys = [(r["parent_seq"], r["link_idx"]) for r in rows]
    assert keys == sorted(keys)


def test_knn_join_single_bucket_udf_eval_per_side(spark):
    """The LSH bucket UDF must plan exactly ONE ArrowEvalPython stage per
    join side: a plain equi-key injects IsNotNull filters whose plans
    re-evaluate the UDF (2x per row at 100 TB); the null-safe join key
    avoids that while still hash-joining."""
    from llm_scraper_spark.operators.similarity import knn_join
    from llm_scraper_spark.plans.explain import physical_plan

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).alias("embedding"),
    )
    q = knn_join(emb, emb, k=3, planes=4, dim=8)
    p = physical_plan(q, "simple")
    assert p.count("ArrowEvalPython") == 2, p
    assert "CartesianProduct" not in p


def test_ann_md5_bucket_zero_python_codegen(spark):
    """hyperplane_bucket_md5 is 100% native expressions (literal sign
    arrays + zip_with/aggregate): its plan must contain NO Python stage of
    any kind and stay inside whole-stage codegen — this is what makes it
    both the hot-path variant and fully recomputable by the SQL oracle."""
    from llm_scraper_spark.operators.similarity import (
        ann_topk_md5, hyperplane_bucket_md5)
    from llm_scraper_spark.plans.explain import physical_plan

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).alias("embedding"),
    )
    b = hyperplane_bucket_md5(emb, "embedding", planes=4, dim=8)
    p = physical_plan(b, "simple")
    # zip_with/aggregate are CodegenFallback (HOFs eval interpreted but
    # JVM-side) — the contract here is NO Python serialization boundary,
    # not whole-stage codegen.
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    q = ann_topk_md5(emb, [0.5] * 8, k=3, planes=4)
    pq = physical_plan(q, "simple")
    assert "BatchEvalPython" not in pq and "ArrowEvalPython" not in pq
    assert "CartesianProduct" not in pq


def test_wave_subtraction_broadcasts_scheduled(spark, tmp_path):
    """Round-3 delta-frontier state: read_pending's tombstone
    subtraction (pending deltas ANTI JOIN fetched) must broadcast the
    budget-bounded tombstone side — sized from the LEDGER's own
    scheduled counts, no Spark action — so the frontier fold is never
    shuffled just to subtract fetched waves. Pinned on a real state dir
    produced by two driven waves."""
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
    from llm_scraper_spark.plans.explain import physical_plan
    from llm_scraper_spark.sources.synthetic import synth_seeds

    d = str(tmp_path / "delta_state")
    run = CrawlRun(spark, d, fetcher=synthetic_fetcher(n_hosts=8, fanout=3),
                   default_budget=16, n_salts=2)
    run.run(2, seeds=synth_seeds(spark, 300, n_hosts=8))
    pending = run.state.read_pending(2)
    p = physical_plan(pending, "simple")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # the fold itself must not re-partition: union of delta parquet
    # scans + one broadcast anti-join, zero hash-partition exchanges
    assert p.count("Exchange hashpartitioning") == 0


def test_wave_loop_python_stages_only_fetch_and_chunk(spark, tmp_path):
    """The hot wave's Python stages stay exactly (fetcher, chunker):
    the round-3 rework (pre-checkpointed seq input, lazy frontier
    union, broadcast subtraction) must not reintroduce Python or lose
    FIFO equality. Drives 2 real waves and re-checks the committed
    schedule log is contiguous per wave."""
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
    from llm_scraper_spark.sources.synthetic import synth_seeds

    d = str(tmp_path / "wave_state")
    run = CrawlRun(spark, d, fetcher=synthetic_fetcher(n_hosts=8, fanout=3),
                   default_budget=16, n_salts=2)
    stats = run.run(2, seeds=synth_seeds(spark, 300, n_hosts=8))
    assert stats[0]["scheduled"] > 0 and stats[0]["deduped_new"] > 0
    # per-write timing keys committed with the wave stats (round 3)
    for k in ("write_schedule_log", "write_documents", "write_seen_delta",
              "write_fetched", "write_frontier_delta", "write_metrics",
              "state_writes"):
        assert k in stats[0]["timings"], k
    log = spark.read.parquet(f"{d}/schedule_log")
    for w in (0, 1):
        seqs = [r["seq"] for r in
                log.filter(F.col("wave") == w).orderBy("seq").collect()]
        assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_fused_wave_single_python_crossing(spark, tmp_path):
    """Round 5: the fused fetch contract means the page corpus crosses
    the Python boundary ONCE per wave — the fetch mapInPandas, the
    wave's only Python stage (the seen-set dedup is an exact JVM
    anti-join; test_wave_checkpoints_hold_only_the_fetch_python_stage
    pins that over a whole crawl). Pin it here: the documents
    write plan off a fused fetcher must contain the fetch MapInPandas
    and NO ArrowEvalPython (no uuid5/chunker stages), and the fused
    discovery chain up to the dedup must be Python-free past the fetch."""
    from llm_scraper_spark.crawl.waves import synthetic_fetcher
    from llm_scraper_spark.plans.explain import physical_plan
    from llm_scraper_spark.sources.synthetic import synth_seeds

    seeds = synth_seeds(spark, 50, n_hosts=8)
    from llm_scraper_spark.functions.urls import with_canonical
    sched = (with_canonical(seeds.select("url", "priority", "seq"),
                            key_hex=False)
             .withColumn("salt", F.lit(0))
             .withColumn("wave", F.lit(0))
             # the real wave fetches from a CHECKPOINTED schedule — cut
             # the seed-canonicalization lineage the same way so the
             # plan under test is the wave's own
             .localCheckpoint())
    pages = synthetic_fetcher(n_hosts=8, fanout=3)(sched)
    assert "spans" in pages.columns and "outlinks_canon" in pages.columns

    docs = pages.filter(F.col("ok")).select(
        "doc_id", "spans", "url", "host", "wave", "seq")
    p = physical_plan(docs, "simple")
    assert p.count("MapInPandas") == 1  # the fetch itself
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p

    cand = (
        pages.select(F.col("seq").alias("parent_seq"),
                     F.posexplode_outer("outlinks_canon")
                     .alias("link_idx", "_l"))
        .filter(F.col("_l").isNotNull())
        .select(F.col("_l.canonical_url").alias("canonical_url"))
        .withColumn("url_hash", F.xxhash64(F.col("canonical_url")))
    )
    p2 = physical_plan(cand, "simple")
    # canonicalization happened inside the fetch batch: no second
    # Python stage anywhere in the discovery chain
    assert p2.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in p2 and "BatchEvalPython" not in p2


def test_wave_checkpoints_hold_only_the_fetch_python_stage(spark, tmp_path,
                                                          monkeypatch):
    """Every frame a wave checkpoints, over a 2-wave crawl with a seen
    table, plans exactly one Python stage in total: the fetch
    MapInPandas. The dedup chain (discovery checkpoint, anti-join,
    new rows) is all JVM — no Arrow UDF tag, no grouped pandas build."""
    from llm_scraper_spark.crawl import waves
    from llm_scraper_spark.plans.explain import physical_plan
    from llm_scraper_spark.sources.synthetic import synth_page, synth_seeds

    # the seeds' own outlinks are seeded too, so the seen set holds
    # URLs the waves rediscover and the anti-join drops real rows
    urls = [r["url"] for r in synth_seeds(spark, 300, n_hosts=8)
            .orderBy("seq").collect()]
    urls += [link for u in urls
             for link in synth_page(u, n_hosts=8, fanout=3)["outlinks"]]
    seeds = spark.createDataFrame(
        [(u, 1.0, i) for i, u in enumerate(dict.fromkeys(urls))],
        "url string, priority double, seq long")
    run = waves.CrawlRun(spark, str(tmp_path / "state"),
                         fetcher=waves.synthetic_fetcher(n_hosts=8, fanout=3),
                         default_budget=16, n_salts=2)
    run.init_from_seeds(seeds)
    real = waves.local_checkpoint_tracked
    plans: list = []

    def recording(df, *a, **k):
        plans.append(physical_plan(df, "simple"))
        return real(df, *a, **k)

    monkeypatch.setattr(waves, "local_checkpoint_tracked", recording)
    dropped = 0
    for wave in (0, 1):
        plans.clear()
        stats = run.run_wave(wave)
        assert stats["deduped_new"] > 0
        dropped += stats["discovered"] - stats["deduped_new"]
        assert len(plans) >= 4, plans  # schedule, fetch, discovery, new
        assert sum("MapInPandas" in p for p in plans) == 1, plans
        for p in plans:
            for node in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                         "BatchEvalPython"):
                assert node not in p, p
    assert dropped > 0  # the anti-join ran against real seen rows


@pytest.mark.parametrize("with_bloom", [False, True],
                         ids=["no_filter", "bloom"])
def test_reversed_seen_anti_join_no_exchange_on_seen_side(spark, tmp_path,
                                                          with_bloom):
    """The wave loop's reversed dedup join (filter_unseen(...,
    broadcast_candidates=True), picked when the seen set dwarfs a
    wave's discoveries) must plan with ZERO hash-partition Exchange
    over the seen_delta scan: the candidate hashes are broadcast into a
    semi join that streams the seen scan, and the matched set is
    broadcast back into the anti join. The same holds behind an
    optional Bloom pre-filter (only its maybe-seen rows are joined),
    with the same survivors. The shuffled regime over the same inputs
    does exchange, so the assertion is about the join choice, not
    input size."""
    from llm_scraper_spark.crawl.state import CrawlState
    from llm_scraper_spark.operators.seen import (build_bloom_distributed,
                                                  filter_unseen)
    from llm_scraper_spark.plans.explain import physical_plan

    def hashes(lo, hi):
        return spark.range(lo, hi).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.col("id").alias("_disc_ord"))

    st = CrawlState(spark, str(tmp_path / "state"))
    for w in (0, 1):  # two committed seen_delta dirs, 10k hashes
        st.write("seen_delta", w, hashes(w * 5000, (w + 1) * 5000).select(
            "url_hash", F.md5(F.col("url_hash").cast("string"))
            .alias("key_hex"), F.lit(w).alias("first_seen_wave")))
        st.commit_wave(w - 1, (w + 1) * 5000, {})
    seen = st.read_seen(1)
    bloom = build_bloom_distributed(seen, capacity=100_000) \
        if with_bloom else None
    cand = hashes(9900, 10100)  # 100 seen, 100 new

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rev = filter_unseen(cand, seen, bloom=bloom,
                            broadcast_candidates=True)
        p = physical_plan(rev, "simple")
        assert "FileScan parquet" in p and "LeftSemi" in p, p
        assert "BroadcastExchange" in p, p
        assert "Exchange hashpartitioning" not in p, p
        assert sorted(r["_disc_ord"] for r in rev.collect()) == \
            list(range(10000, 10100))

        shuffled = filter_unseen(cand, seen, bloom=bloom)
        assert "Exchange hashpartitioning" in physical_plan(shuffled,
                                                            "simple")
        assert sorted(r["_disc_ord"] for r in shuffled.collect()) == \
            list(range(10000, 10100))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_url_hygiene_plan_pure_codegen(spark):
    """The hygiene chain compiles to Projects only: no Python stage, and no
    exchange besides the presentation orderBy's range partitioning."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["url_hygiene"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_sitemap_priority_plan_shape(spark):
    """One Python stage (the sitemap parse UDF) and a map-side
    WindowGroupLimit Partial pass before the single host exchange."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["sitemap_priority_frontier"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "Partial" in plan and "WindowGroupLimit" in plan
    # exactly two shuffles: the per-source XML groupBy and the host window
    assert plan.count("hashpartitioning(host") == 1
    assert plan.count("hashpartitioning(source") == 1


def test_anchor_topk_windowgrouplimit(spark):
    """anchor_topk_terms plans a map-side WindowGroupLimit (each task
    forwards at most k rows per dst into the window exchange), a partial
    hash aggregate before the (dst, term) exchange, and zero Python."""
    from llm_scraper_spark.operators.graph import anchor_topk_terms

    edges = spark.createDataFrame(
        [("s", "t", "a b c")], "src string, dst string, anchor string")
    plan = (anchor_topk_terms(edges, k=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_crawl_snapshot_diff_single_join_no_python(spark):
    """crawl_snapshot_diff is ONE join node + a codegen'd CASE: no second
    pass, no Python stage, no cartesian."""
    from llm_scraper_spark.operators.frontier import crawl_snapshot_diff

    prev = spark.range(10).select(
        F.col("id").cast("string").alias("url"),
        F.lit("f").alias("fingerprint"))
    curr = spark.range(5, 15).select(
        F.col("id").cast("string").alias("url"),
        F.lit("g").alias("fingerprint"))
    out = crawl_snapshot_diff(prev, curr)
    assert_no_cartesian(out)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_select_representatives_argmin_agg_not_window(spark):
    """select_representatives uses a hash aggregate with a map-side
    partial (min_by forwards one candidate per cluster per task) — NOT a
    per-cluster sort window — and stays JVM-side."""
    from llm_scraper_spark.operators.dedup import select_representatives

    assign = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10).alias("cluster_id"))
    quality = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("quality"))
    out = select_representatives(assign, quality)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "partial_min_by" in plan or "Partial" in plan
    assert "Window" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_session3_operators_plan_shapes(spark, sf_mid):
    """The session-3 curation operators' scale-shape claims, pinned:
    zero Python stages anywhere, single-exchange sketch builds, broadcast
    LM/DSIR model joins, TakeOrderedAndProject weighted sampling, and
    WindowGroupLimit bottom-k."""
    from llm_scraper_spark.operators.lm import (dsir_scores, dsir_weights,
                                                lm_score)
    from llm_scraper_spark.operators.sampling import weighted_sample_topk
    from llm_scraper_spark.operators.sketches import (cms_table,
                                                      hll_registers,
                                                      kmv_sketch)

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "text", "source", "n_chars")
    ev = spark.read.parquet(f"{sf_mid}/events.parquet")

    p = _exec_plan(weighted_sample_topk(docs, 50, "n_chars"))
    assert "TakeOrderedAndProject" in p and "Sort" not in p
    p = _exec_plan(kmv_sketch(ev, "event_id", ["event_type"], k=64))
    assert "WindowGroupLimit" in p
    for df in (hll_registers(ev, "event_id", ["event_type"]),
               cms_table(ev, "user_id", depth=4)):
        p = _exec_plan(df)
        assert p.count("Exchange") == 1, p
        assert "Python" not in p and "ArrowEval" not in p
    p = _exec_plan(lm_score(docs))
    assert p.count("BroadcastHashJoin") >= 2  # c2 + c1 model joins
    assert "Python" not in p and "SortMergeJoin" not in p
    w = dsir_weights(docs, docs.filter(F.col("source") == "src0"),
                     buckets_pow=14)
    p = _exec_plan(dsir_scores(docs, w, buckets_pow=14))
    assert "BroadcastHashJoin" in p and "Python" not in p


def test_session5_operators_plan_shapes(spark, sf_mid):
    """Session-5 scale-shape claims, pinned: rendezvous sharding is a
    ZERO-exchange narrow projection; BM25 broadcasts the tiny df/stats
    sides (no sort-merge join of the corpus); latency quantiles collapse
    to (host,bucket) with one exchange feeding the window; none of them
    run a Python stage."""
    from llm_scraper_spark.operators.corpus import bm25_scores
    from llm_scraper_spark.operators.frontier import (latency_quantiles,
                                                      rendezvous_shard)

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "text", "source", "n_chars")

    hosts = docs.select(F.col("source").alias("host")).distinct()
    p = _exec_plan(rendezvous_shard(hosts, "host", 8))
    # the distinct costs its exchange; the shard assignment itself adds none
    base = _exec_plan(hosts)
    assert p.count("Exchange") == base.count("Exchange"), p
    assert "Python" not in p and "ArrowEval" not in p

    p = _exec_plan(bm25_scores(docs, ["hash", "join", "window"]))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Python" not in p and "ArrowEval" not in p

    log = docs.select(F.col("source").alias("host"),
                      (F.col("n_chars") % 900 + 20).alias("latency_ms"))
    p = _exec_plan(latency_quantiles(log))
    assert "Python" not in p and "ArrowEval" not in p
    assert "Window" in p


def test_session6_operators_plan_shapes(spark, sf_mid):
    """Session-6 scale-shape claims, pinned: the Mercator schedule is
    exactly its two windows (host, then queue) with no Python stage;
    change-rate is one window + one hash aggregate; template entropy is
    two hash aggregates with NO window and no join; relevance
    propagation broadcasts the seed side."""
    from llm_scraper_spark.operators.frontier import (
        change_rate, mercator_schedule, url_template_entropy)
    from llm_scraper_spark.operators.graph import relevance_propagation

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "source")
    frontier = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("source").alias("host"),
        F.col("doc_id").cast("long").alias("seq"),
    )
    p = _exec_plan(mercator_schedule(frontier, 4))
    assert p.count("Window") == 2, p
    assert "Python" not in p and "ArrowEval" not in p
    assert "Join" not in p

    hist = docs.select(
        F.col("source").alias("url"),
        (F.col("doc_id") % 40).alias("wave"),
        (F.col("doc_id") % 3).cast("string").alias("fingerprint"))
    p = _exec_plan(change_rate(hist))
    assert p.count("Window") == 1, p
    assert "Python" not in p and "ArrowEval" not in p

    p = _exec_plan(url_template_entropy(frontier))
    assert "Window" not in p and "Join" not in p
    assert "Python" not in p and "ArrowEval" not in p

    # relevance_propagation localCheckpoints its result (the executed
    # plan collapses to an RDD scan), so pin the seeding join's shape
    # directly: nodes x broadcast(seeds) must plan as a broadcast hash
    # join, and the full operator must stay Python-free end-to-end
    # (checked via the physical plan of one reproduced round).
    edges = docs.select(
        F.col("source").alias("src"),
        F.concat(F.col("source"), F.lit("x")).alias("dst"))
    seeds = spark.createDataFrame([("src0", 1_000_000)],
                                  "host string, rel_fp long")
    nodes = (edges.select(F.col("src").alias("host"))
             .unionByName(edges.select(F.col("dst").alias("host")))
             .distinct())
    base = nodes.join(
        F.broadcast(seeds.groupBy("host")
                    .agg(F.max("rel_fp").alias("_seed"))),
        "host", "left",
    ).select("host",
             F.greatest(F.coalesce(F.col("_seed"), F.lit(0)), F.lit(0))
             .cast("long").alias("rel_fp"))
    inbound = (edges.join(base, edges["src"] == base["host"])
               .select(F.col("dst"), F.col("rel_fp").alias("_r"))
               .groupBy("dst").agg(F.max("_r").alias("_m")))
    rel = base.join(inbound, base["host"] == inbound["dst"], "left").select(
        "host",
        F.greatest(F.col("rel_fp"),
                   F.expr("(1 * coalesce(_m, 0L)) DIV 2"))
        .cast("long").alias("rel_fp"))
    p = _exec_plan(rel)
    assert "BroadcastHashJoin" in p, p
    assert "Python" not in p and "ArrowEval" not in p
    # and the real operator's output is reachable without Python stages
    out = relevance_propagation(edges, seeds, rounds=1)
    assert "Python" not in _exec_plan(out)


def test_session6b_operators_plan_shapes(spark, sf_mid):
    """Batch-2 scale shapes, pinned: no Python stage and no cartesian
    product anywhere; domain_cap is one per-host window plus a broadcast
    1-row total; budget_select's only per-doc window is the boundary
    bin's; cluster_split adds zero exchanges."""
    from llm_scraper_spark.operators.corpus import budget_select, domain_cap
    from llm_scraper_spark.operators.dedup import (
        incremental_simhash_dedup, mirror_hosts)
    from llm_scraper_spark.operators.sampling import cluster_split

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "text", "source", "n_chars")

    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    p = _exec_plan(incremental_simhash_dedup(corpus, batch))
    assert "Python" not in p and "ArrowEval" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p

    pages = docs.select(F.col("source").alias("host"),
                        F.substring("text", 1, 16).alias("content_fp"))
    p = _exec_plan(mirror_hosts(pages))
    assert "Python" not in p and "CartesianProduct" not in p

    cur = docs.select(
        "doc_id", F.col("source").alias("host"),
        (F.col("n_chars") + 1).alias("tokens"),
        (F.col("doc_id") % 1000).alias("quality_fp"))
    p = _exec_plan(domain_cap(cur, 10_000))
    assert p.count("Window") == 1, p
    assert "Python" not in p

    p = _exec_plan(budget_select(cur, 30_000))
    # three Window nodes: the tiny per-bin cumulative summary is
    # re-planned once per union branch (bounded rows — harmless), and the
    # ONE per-doc window runs on the boundary-bin subset only: its input
    # is the tier='boundary' Filter, so the ordered exchange moves
    # ~corpus/n_bins rows, never the full corpus
    assert p.count("Window") == 3, p
    assert "boundary" in p, p
    assert "Python" not in p

    clusters = docs.select("doc_id",
                           (F.col("doc_id") % 37).alias("cluster_id"))
    base = _exec_plan(clusters)
    p = _exec_plan(cluster_split(clusters))
    assert p.count("Exchange") == base.count("Exchange"), p
    assert "Python" not in p


def test_session6c_operators_plan_shapes(spark, sf_mid):
    """Batch-3 scale shapes, pinned: PLD extraction adds zero exchanges
    (pure projection); degree_powerlaw and reciprocity are hash-agg /
    hash-join shapes with no window and no Python; wilson_success is a
    single map-side-combined aggregate."""
    from llm_scraper_spark.functions.urls import registered_domain
    from llm_scraper_spark.operators.frontier import wilson_success
    from llm_scraper_spark.operators.graph import (
        degree_powerlaw, reciprocity)

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "source")

    hosts = docs.select(F.col("source").alias("host"))
    base = _exec_plan(hosts)
    p = _exec_plan(hosts.withColumn("pld", registered_domain("host")))
    assert p.count("Exchange") == base.count("Exchange"), p
    assert "Python" not in p

    edges = docs.select(F.col("source").alias("src"),
                        F.concat(F.col("source"), F.lit("x")).alias("dst"))
    p = _exec_plan(degree_powerlaw(edges))
    assert "Window" not in p and "Python" not in p
    assert "CartesianProduct" not in p

    p = _exec_plan(reciprocity(edges))
    assert "Window" not in p and "Python" not in p
    assert "CartesianProduct" not in p

    hist = docs.select(F.col("source").alias("host"),
                       (F.col("doc_id") % 3 != 0).alias("ok"))
    p = _exec_plan(wilson_success(hist))
    assert p.count("Exchange") == 1, p
    assert "Window" not in p and "Python" not in p


def test_robots_rep_plan_shape(spark):
    """The wildcard REP matcher stays native: per-rule regex compile +
    match run inside transform() lambdas — no Python stage, and gating a
    frontier against a broadcast rules table keeps the broadcast join."""
    from llm_scraper_spark.operators.robots import robots_allowed_rep

    f = spark.createDataFrame(
        [("/a/b.php", ["/a*"], ["/*.php$"])],
        "path string, allow array<string>, disallow array<string>")
    q = f.select(robots_allowed_rep(
        F.col("path"), F.col("allow"), F.col("disallow")).alias("ok"))
    p = _exec_plan(q)
    assert "Python" not in p and "ArrowEval" not in p


def test_triangle_assortativity_plan_shapes(spark, sf_mid):
    """Triangle counting and assortativity stay hash-join/hash-agg
    shapes: no window, no Python, no cartesian product anywhere."""
    from llm_scraper_spark.operators.graph import (
        assortativity, triangle_stats)

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet").select(
        "doc_id", "source")
    edges = docs.select(
        F.col("source").alias("src"),
        F.concat(F.col("source"), (F.col("doc_id") % 7).cast("string"))
        .alias("dst"))
    # triangle_stats localCheckpoints its result; pin the pre-checkpoint
    # shape via assortativity (same normalization + degree-join core)
    p = _exec_plan(assortativity(edges))
    assert "Window" not in p and "Python" not in p
    assert "CartesianProduct" not in p
    out = triangle_stats(edges)
    assert "Python" not in _exec_plan(out)
