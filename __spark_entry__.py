"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the north-rule interleaved
``documents(doc_id, spans)`` table at sf0.001 via the production chunker UDF
and return span statistics.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2 (+ the training-data ops). EVERY query has a content
oracle: plain ANSI SQL over the parquet views where expressible; md5-twin
hash families (minhash/simhash) where the production hash (xxhash64) has
no DuckDB equivalent; and committed golden parquets under goldens/ as the
independent reference point for UDF-chunker spans, the ANN candidate set,
the kNN-join bucket assignment, decoded image metadata, and the crawl
schedule log (see jobs/make_goldens.py for each golden's validity chain).

Oracle-strength split (be explicit about what "green" means per query):
most queries are FULLY RECOMPUTED — the DuckDB SQL independently rebuilds
every value from the raw parquet (including the unrolled-CTE pagerank, the
WITH RECURSIVE component closure, and DuckDB's native ASOF JOIN). Five are
GOLDEN-ANCHORED instead: minhash_neardup (xxhash64 pairs pinned to a
committed parquet; its md5 twin IS fully recomputed), ann_topk + knn_join
(the numpy-seeded LSH bucketing is read from a pinned golden, everything
downstream — cosine, ranking — is recomputed; ann_topk_md5 is the
goldenless twin whose md5-Rademacher + integer-fixed-point chain the
oracle rebuilds end-to-end), spans_documents /
rag_documents (span digests recomputed from the committed spans golden;
the chunker producing it is equality-tested against the actual reference
chunking.py module). crawl_schedule_log is oracled by the committed output
of the pure-Python reference-semantics simulator. tests/test_goldens.py
pins every golden to the live pipeline so drift cannot hide.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from llm_scraper_spark.session import tune_session  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _run_small(spark: SparkSession, df: DataFrame,
               shuffle_partitions: int = 8) -> DataFrame:
    """Execute a SMALL-DATA query under a reduced shuffle-partition count
    and return the materialized result (eager localCheckpoint).

    Driver-scale knob, not a semantics change: the iterative graph /
    span queries here run on hosts-sized tables (thousands of rows), so
    at the session's cluster-sized spark.sql.shuffle.partitions=32 their
    wall time is pure task-launch overhead — 10+ exchanges x 32 near-
    empty tasks (A/B at sf0.1: salsa_scores 4.8s at 32 partitions, 2.9s
    at 8, identical rows). At production scale these operators run with
    the cluster's partitioning; this wrapper exists so the driver's full
    150-query gate stays cheaply sampleable (VERDICT r3 #8).

    NOTE: mutates session conf for the duration of the (eager)
    execution with try/finally restore — not concurrency-safe; the
    driver's correctness/bench gates run queries serially.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(shuffle_partitions))
        # a callable defers BUILD-time eager work (operators with
        # internal localCheckpoints, e.g. host_pagerank) into the scoped
        # window; a plain DataFrame only defers execution
        if callable(df):
            df = df()
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """sf0.001 documents -> interleaved spans (chunker UDF) -> span stats."""
    tune_session(spark)
    from llm_scraper_spark.operators.chunker import chunk_counts
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    docs = build_documents_interleaved(spark, "/root/testdata/sf0.001")
    stats = chunk_counts(docs).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_spans").alias("total_spans"),
        F.sum("n_text_spans").alias("text_spans"),
        F.sum("n_media_spans").alias("media_spans"),
        F.round(F.avg("n_spans"), 4).alias("avg_spans_per_doc"),
    )
    return stats


# ---------------------------------------------------------------------------
# queries — each (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A4-style partial+final aggregation (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customer_revenue(spark, sf_dir):
    """J5-style equi-join + group + top-k (broadcast dim)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("nation_revenue"),
             F.count("*").alias("n_orders"))
        .orderBy(F.col("nation_revenue").desc())
        .limit(10)
    )


def q_regional_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join (fact x fact x 4 broadcast dims) with
    local-supplier predicate — exercises Catalyst join reordering +
    broadcast selection over the star schema."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


def q_revenue_filter(spark, sf_dir):
    """P13-style predicate + single agg (TPC-H Q6 shape; pushdown check)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


def q_doc_textstats(spark, sf_dir):
    """A1/A2/A3: word count, token estimate, reading time (native exprs)."""
    from llm_scraper_spark.functions.text import (
        reading_time_minutes, token_estimate, word_count)

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        word_count("text").alias("n_words"),
        token_estimate("text").alias("token_est"),
        reading_time_minutes("text").alias("reading_minutes"),
    )


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: keep lowest doc_id per normalized text (D2 analogue)."""
    from llm_scraper_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_dedup(docs).select("doc_id").orderBy("doc_id")


BOILER_HEAD = "home | about | contact"
BOILER_TAIL = "(c) example corp\nsubscribe to our newsletter"


def q_line_dedup(spark, sf_dir):
    """CCNet-style cross-corpus line dedup. The synthetic corpus has no
    naturally shared lines, so the query injects the real-world scenario —
    identical boilerplate header/footer lines on every page — and checks
    that each boilerplate line survives only in doc 0 while every body
    line (unique per doc) is untouched. Output is per-doc line counts plus
    an md5 digest of the reassembled deduped text, so the driver verifies
    the exact surviving-line content and order."""
    from llm_scraper_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(BOILER_HEAD + "\n"), F.col("text"), F.lit("\n" + BOILER_TAIL)
        ).alias("text"),
    )
    return (
        line_dedup(docs)
        .select("doc_id", "n_lines", "n_kept", F.md5("text").alias("text_md5"))
        .orderBy("doc_id")
    )


def q_ngram_contamination(spark, sf_dir):
    """Benchmark-decontamination signal: corpus docs (doc_id % 10 != 0)
    scored by the fraction of their distinct 8-gram shingles that appear
    anywhere in the held-out 'benchmark' slice (doc_id % 10 == 0)."""
    from llm_scraper_spark.operators.dedup import ngram_contamination

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    out = ngram_contamination(corpus, bench, n=8)
    # exact integer ppm instead of the operator's rounded double: Spark
    # rounds half-up, DuckDB half-even — k/n can land exactly on the 6th
    # decimal's half-digit (1/128 = 0.0078125) and hash-mismatch
    return out.select(
        "doc_id", "n_ngrams", "n_hits",
        F.when(
            F.col("n_ngrams") > 0,
            F.floor(F.col("n_hits") * 1000000 / F.col("n_ngrams")),
        ).otherwise(F.lit(0)).cast("long").alias("contamination_ppm"),
    ).orderBy("doc_id")


def q_pii_redact(spark, sf_dir):
    """PII scrubbing over the corpus. The synthetic docs carry no PII, so
    the query injects a deterministic contact footer (email + intl phone +
    IPv4 derived from doc_id) and verifies class counts plus the md5 of
    the redacted text — i.e. the exact output bytes of the scrub chain."""
    from llm_scraper_spark.operators.text_analysis import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncontact: user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" at 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return docs.select(
        "doc_id",
        *pii_counts("text"),
        F.md5(redact_pii("text")).alias("redacted_md5"),
    ).orderBy("doc_id")


def q_first_event_per_user(spark, sf_dir):
    """D3 first-occurrence dedup as min_by aggregation."""
    from llm_scraper_spark.operators.seen import first_occurrence_dedup

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    return first_occurrence_dedup(ev, "user_id", "event_id").select(
        "user_id", "event_id", "event_type"
    )


def q_politeness_topk(spark, sf_dir):
    """O4/T2: per-key budget via rank window (politeness shape on events)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("event_type", "rnk", "event_id", F.round("value", 2).alias("value"))
    )


def q_url_canonicalize(spark, sf_dir):
    """D1: batch canonicalization UDF + md5 cache key vs an independent
    string construction in the oracle."""
    from llm_scraper_spark.functions.urls import with_canonical

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"), F.upper("source"), F.lit(".Example.COM:80/path/"),
            F.col("doc_id").cast("string"), F.lit("#frag"),
        ).alias("url"),
    )
    return with_canonical(urls).select("doc_id", "canonical_url", "host", "key_hex")


def q_cuckoo_dedup(spark, sf_dir):
    """D2, cuckoo variant (operators/cuckoo.py; north rule: "bloom/cuckoo
    URL-seen"): the seen-membership split with a distributed-built cuckoo
    filter as the pre-filter — definitely-unseen rows bypass the anti-join,
    maybe-seen rows are re-checked exactly, so the output equals a plain
    anti-join regardless of filter false positives (and the filter has no
    false negatives by construction: kick-walk losers land in a stash that
    membership always consults). Seen set = every third doc's URL; the
    oracle recomputes the anti-join in SQL on the canonical URL."""
    from llm_scraper_spark.functions.urls import with_canonical
    from llm_scraper_spark.operators.cuckoo import build_cuckoo_distributed
    from llm_scraper_spark.operators.seen import filter_unseen

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"), F.upper("source"), F.lit(".Example.COM:80/path/"),
            F.col("doc_id").cast("string"), F.lit("#frag"),
        ).alias("url"),
    )
    cand = with_canonical(urls, key_hex=False)
    seen = cand.filter(F.col("doc_id") % 3 == 0).select("url_hash")
    filt = build_cuckoo_distributed(seen, capacity=100_000)
    out = filter_unseen(cand, seen, bloom=filt)
    return out.select("doc_id", "canonical_url").orderBy("doc_id")


def q_embedding_topk(spark, sf_dir):
    """J6: exact cosine top-k vs query vector vec_id=0 (brute-force baseline)."""
    from llm_scraper_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    top = brute_force_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=5)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation funnel — the composition a real
    corpus build runs: language gate (en) -> quality floor -> repetition
    ceiling -> exact dedup (lowest doc_id per normalized text) -> per-source
    corpus stats. Every stage is an individually-oracled operator; the
    oracle recomputes the whole funnel in one SQL pipeline, so the driver
    checks the COMPOSITION, not just the parts."""
    from llm_scraper_spark.operators.dedup import exact_dedup
    from llm_scraper_spark.operators.text_analysis import (
        dup_line_frac, language_id, quality_score)

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", "text",
        language_id("text").alias("lang"),
        quality_score("text").alias("quality"),
        dup_line_frac("text").alias("dlf"),
    ).filter(
        (F.col("lang") == "en") & (F.col("quality") >= 0.5)
        & (F.col("dlf") <= 0.2)
    )
    kept = exact_dedup(scored)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("source")
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER assignment — the transitive-closure step after any
    pairwise candidate generator (pairs a~b, b~c must collapse to ONE keep
    decision). Builds the line-sharing graph over docs with two injected
    boilerplate banners (doc_id % 50 and % 40 — their closure is congruence
    mod gcd=10, so components need multi-hop merging, not just cliques) and
    labels every doc with its component-minimum via alternating large-star /
    small-star connected components. The DuckDB oracle recomputes the whole
    pipeline — line hashing, the megaclique cap, the pair join, and the
    closure itself via WITH RECURSIVE — so the driver content-verifies the
    distributed CC algorithm against an independent fixpoint computation."""
    from llm_scraper_spark.operators.dedup import line_share_clusters

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncluster banner padding padding "),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("\nbridge banner padding padding "),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("text"),
    )
    return line_share_clusters(docs, hash_family="md5").orderBy("doc_id")


PAGERANK_HOSTS = 400
PAGERANK_ITERS = 5


def _pagerank_host(tag: str):
    """60-bit md5 of doc_id+tag mod PAGERANK_HOSTS — the deterministic
    synthetic host-graph edge endpoint (same derivation in the DuckDB
    oracle below, bit-for-bit)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(tag))),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        % PAGERANK_HOSTS
    )


def q_host_pagerank(spark, sf_dir):
    """Host-graph PageRank for crawl prioritization (reference schedules
    FIFO per host, cache.py:78-148; at 100 TB the politeness budget should
    go to authoritative hosts first). Iterative join+agg loop with
    localCheckpoint lineage cuts; INTEGER fixed-point arithmetic
    (rank micro-units, damping 17/20) makes the distributed result
    bit-reproducible under any partitioning — which is what lets the
    DuckDB oracle re-run all 5 iterations as unrolled CTEs and match
    value-for-value. Edges are derived deterministically from doc_id
    (md5 60-bit -> host id) since the testdata has no link table."""
    from llm_scraper_spark.operators.graph import host_pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    # hosts-sized graph: run under the small-data partition knob (the
    # dangling-mass semi-join + 1-row agg per round would otherwise add
    # iterations x 32 near-empty tasks of pure launch overhead)
    ranks = _run_small(
        spark, lambda: host_pagerank(edges, iterations=PAGERANK_ITERS))
    return ranks.orderBy(F.desc("rank"), "host").limit(100)


def _host_pagerank_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import pagerank_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return (
        pagerank_oracle_sql(edges_sql, iterations=PAGERANK_ITERS)
        + "\nORDER BY rank DESC, host LIMIT 100"
    )


def q_trust_rank(spark, sf_dir):
    """TrustRank spam-demotion scores (Gyöngyi et al. VLDB'04): PageRank
    with teleport mass concentrated on a vetted seed set so trust decays
    with link distance from seeds. Seeds here are the 4 numerically
    smallest source hosts (deterministic stand-in for a curated list);
    integer fixed-point end-to-end, oracle replays all 4 rounds."""
    from llm_scraper_spark.operators.graph import trust_rank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    seeds = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("host")).distinct()
        .orderBy("host").limit(4)
    )
    t = _run_small(
        spark, lambda: trust_rank(edges, seeds, n_seeds=4, iterations=4))
    return t.where(F.col("trust") > 0).orderBy(F.desc("trust"), "host")


def _trust_rank_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import trust_rank_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    seeds_sql = f"""
        SELECT DISTINCT src AS host FROM (
          SELECT * FROM ({edges_sql}) WHERE src <> dst)
        ORDER BY host LIMIT 4"""
    return (
        trust_rank_oracle_sql(edges_sql, seeds_sql, n_seeds=4, iterations=4)
        + "\nORDER BY trust DESC, host"
    ).replace("SELECT host, trust FROM tr4",
              "SELECT host, trust FROM tr4 WHERE trust > 0")


def q_spam_mass(spark, sf_dir):
    """Spam mass (Gyöngyi et al. VLDB'06): how much of each host's
    PageRank the vetted good core does NOT endorse — ordinary PageRank
    and core-biased PageRank run over the same graph in BIGINT fixed
    point, mass = rank - core_rank, relative mass clamped-at-zero
    integer division. Seeds: the 4 numerically smallest source hosts
    (same deterministic stand-in as trust_rank). The oracle unrolls BOTH
    rank chains side by side and replays the projection exactly."""
    from llm_scraper_spark.operators.graph import spam_mass

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    seeds = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("host")).distinct()
        .orderBy("host").limit(4)
    )
    m = _run_small(spark, lambda: spam_mass(edges, seeds, iterations=4))
    return m.orderBy(F.desc("rel_mass_fp"), F.desc("rank"), "host").limit(200)


def _spam_mass_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import spam_mass_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    seeds_sql = f"""
        SELECT DISTINCT src AS host FROM (
          SELECT * FROM ({edges_sql}) WHERE src <> dst)
        ORDER BY host LIMIT 4"""
    return (
        spam_mass_oracle_sql(edges_sql, seeds_sql, iterations=4)
        + "\nORDER BY rel_mass_fp DESC, rank DESC, host LIMIT 200"
    )


def q_hyperball_nf(spark, sf_dir):
    """HyperBall neighborhood function (Boldi & Vigna ICDMW'13 /
    HyperANF WWW'11): per host, an HLL counter of the in-ball — who can
    reach this host within t hops — grown one hop per round by merging
    neighbor counters (register-table join + groupBy-max, the relational
    transpose-multiply). Output per (host, t): the register count, the
    BIGINT-exact scaled harmonic sum (the estimate's sufficient
    statistic, bit-replayed by the oracle through every round), and the
    IEEE-double ball-size estimate. The distance-distribution /
    effective-diameter / centrality primitive that replaces all-pairs
    BFS at web scale."""
    from llm_scraper_spark.operators.graph import hyperball

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    balls = hyperball(edges, iterations=3, p=4, hash_family="md5")
    return balls.orderBy("host", "t")


def _hyperball_edges_sql() -> str:
    return f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""


def _hyperball_nf_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import hyperball_oracle_sql

    return (hyperball_oracle_sql(_hyperball_edges_sql(), iterations=3, p=4)
            + "\nORDER BY host, t")


def q_harmonic_centrality(spark, sf_dir):
    """Harmonic centrality from HyperBall in-balls: H(v) = sum over t of
    (ball growth at t)/t — the spam-resistant authority score Boldi &
    Vigna's centrality axioms single out (no damping constant to tune,
    unreachable farms contribute nothing). Growth terms are clamped at 0
    and combined in one fixed left-to-right expression over the rounded
    per-round estimates, so the float arithmetic is engine-portable."""
    from llm_scraper_spark.operators.graph import (
        hyperball, hyperball_harmonic)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    balls = hyperball(edges, iterations=3, p=4, hash_family="md5")
    return (hyperball_harmonic(balls, 3)
            .orderBy(F.desc("harmonic"), "host").limit(100))


def _harmonic_centrality_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import harmonic_oracle_sql

    return (harmonic_oracle_sql(_hyperball_edges_sql(), iterations=3, p=4)
            + "\nORDER BY harmonic DESC, host LIMIT 100")


def q_host_coreness(spark, sf_dir):
    """Coreness (k-core number) per host via the iterated-h-index fixed
    point (Lü et al., Nat. Commun. 2016) — the dense-core signal for
    crawl seed selection that degree alone can't give (one spam hub
    inflates degree; coreness needs a densely interlinked cluster).
    Skew-resistant h-index: neighbor values collapse to (host, value,
    count) before the window, so a hot host's window sees at most
    max-coreness rows, not its degree. Integer end-to-end; the oracle
    unrolls all 4 rounds."""
    from llm_scraper_spark.operators.graph import coreness

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return coreness(edges, rounds=4).orderBy("host")


def _host_coreness_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import coreness_oracle_sql

    return (coreness_oracle_sql(_hyperball_edges_sql(), rounds=4)
            + "\nORDER BY host")


def q_distance_distribution(spark, sf_dir):
    """HyperANF's headline statistic (Boldi, Rosa & Vigna WWW'11): the
    graph distance distribution N(t) = reachable pairs within t hops and
    the effective diameter (smallest t reaching 90% of final mass) —
    sizes crawl wave counts and frontier retention. Per-host ball
    estimates go to fixed point via floor() BEFORE the sum, so the per-t
    reduction is exact BIGINT under any partitioning; the 90% test and
    ppm shares are integer comparisons the oracle replays exactly."""
    from llm_scraper_spark.operators.graph import (
        distance_distribution, hyperball)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    balls = hyperball(edges, iterations=3, p=4, hash_family="md5")
    return distance_distribution(balls, 3).orderBy("t")


def _distance_distribution_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import (
        distance_distribution_oracle_sql)

    return (distance_distribution_oracle_sql(
        _hyperball_edges_sql(), iterations=3, p=4) + "\nORDER BY t")


def q_bm25_rank(spark, sf_dir):
    """BM25 relevance ranking (Robertson & Zaragoza 2009, Lucene idf)
    of the corpus against a fixed query — what the inverted index is
    FOR, and the topic-subset selector for corpus curation. k1/b are
    exact rationals so the tf saturation is a single IEEE division of
    two exact BIGINTs; idf is one ln of an integer ratio; each term
    score is floor-quantized to 1e6 fixed point BEFORE the per-doc sum,
    so the reduction is exact integer arithmetic the oracle replays."""
    from llm_scraper_spark.operators.corpus import bm25_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = bm25_scores(docs, ["hash", "join", "window"])
    return out.orderBy(F.desc("score_fp"), "doc_id").limit(200)


def _bm25_rank_oracle_sql() -> str:
    from llm_scraper_spark.operators.corpus import bm25_oracle_sql

    return (bm25_oracle_sql("SELECT doc_id, text FROM documents",
                            ["hash", "join", "window"])
            + "\nORDER BY score_fp DESC, doc_id LIMIT 200")


def q_rendezvous_shards(spark, sf_dir):
    """Rendezvous/HRW sharding of the host space (Thaler & Ravishankar
    1998) — elastic frontier partitioning where growing the cluster
    n -> n+1 moves ONLY the keys the new shard wins, so per-host crawl
    state never migrates on rescale. Zero-shuffle: the argmax is one
    codegen'd array_max projection. The query emits the 8-shard and
    9-shard assignment side by side plus the moved flag, making the
    consistency property itself part of the gated output."""
    from llm_scraper_spark.operators.frontier import rendezvous_shard

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hosts = docs.select(
        _pagerank_host(":s").cast("string").alias("host")).distinct()
    out = rendezvous_shard(hosts, "host", 8, hash_family="md5",
                           out_col="shard8")
    out = rendezvous_shard(out, "host", 9, hash_family="md5",
                           out_col="shard9")
    return out.select(
        "host", "shard8", "shard9",
        (F.col("shard8") != F.col("shard9")).alias("moved"),
    ).orderBy("host")


def _rendezvous_shards_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import (
        rendezvous_shard_sql_expr)

    e8 = rendezvous_shard_sql_expr("host", 8)
    e9 = rendezvous_shard_sql_expr("host", 9)
    return f"""
        WITH hosts AS (
          SELECT DISTINCT
            (('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
             % {PAGERANK_HOSTS})::VARCHAR AS host
          FROM documents)
        SELECT host, {e8} AS shard8, {e9} AS shard9,
               {e8} <> {e9} AS moved
        FROM hosts ORDER BY host"""


def q_latency_quantiles(spark, sf_dir):
    """Per-host fetch-latency p50/p95/p99 from a log2-bucket histogram
    (the HdrHistogram idea as pure relational algebra) — the tail-latency
    signal a timeout/backoff policy keys on, where the EWMA tracks the
    mean. Exact integer state: deterministic under any partitioning,
    mergeable wave-over-wave, quantile read-out is an integer crossing
    test the oracle replays bit-for-bit (unlike percentile_approx's
    merge-order-dependent GK sketch). Latencies synthesized closed-form
    from documents, same feed as ewma_delay."""
    from llm_scraper_spark.operators.frontier import latency_quantiles

    docs = _t(spark, sf_dir, "documents")
    log = docs.select(
        F.col("source").alias("host"),
        ((F.col("n_chars") % 900) + 20).cast("long").alias("latency_ms"),
    )
    return latency_quantiles(log).orderBy("host")


def _latency_quantiles_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import (
        latency_quantiles_oracle_sql)

    log_sql = """
      SELECT source AS host,
             CAST((n_chars % 900) + 20 AS BIGINT) AS latency_ms
      FROM documents"""
    return latency_quantiles_oracle_sql(log_sql) + "\nORDER BY host"


def q_waterfill_budgets(spark, sf_dir):
    """Weighted water-filling (max-min fair, Bertsekas & Gallager §6.5.2)
    of one global per-wave fetch budget across hosts: the largest integer
    water level L with sum(min(demand, L*weight)) <= budget, allocated as
    min(demand, L*weight) — small hosts get everything, the rest share
    by weight, nobody starves. Exact integer algorithm over the DISTINCT
    saturation-level breakpoints (hosts collapse first, so the one
    global-ordered window sees the breakpoint set, not the host set);
    division guarded to non-negative operands so Spark DIV == DuckDB //.
    Demands = per-host doc counts; weights derived from the host name."""
    from llm_scraper_spark.operators.frontier import waterfill_budgets

    docs = _t(spark, sf_dir, "documents")
    demands = docs.groupBy(F.col("source").alias("host")).agg(
        F.count(F.lit(1)).alias("demand")
    ).withColumn(
        "weight",
        (F.conv(F.substring(F.md5(F.col("host")), 1, 15), 16, 10)
         .cast("long") % 3 + 1),
    )
    return (waterfill_budgets(demands, 300)
            .orderBy("host"))


def _waterfill_budgets_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import waterfill_oracle_sql

    demands_sql = """
      SELECT host, demand,
             ('0x' || substring(md5(host), 1, 15))::BIGINT % 3 + 1 AS weight
      FROM (SELECT source AS host, count(*)::BIGINT AS demand
            FROM documents GROUP BY source)"""
    return waterfill_oracle_sql(demands_sql, 300) + "\nORDER BY host"


def _host_hits_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import hits_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return hits_oracle_sql(edges_sql, iterations=3) + "\nORDER BY host"


WAVE_TOTAL_BUDGET = 50_000


def q_authority_budgets(spark, sf_dir):
    """T2 upgrade: authority-weighted politeness budgets. The reference
    rate-limits with one global semaphore (worker.py:31); here the global
    wave budget is split across hosts proportionally to their PageRank
    share (``budgets_from_pagerank``), clamped to [1, 1024] — the
    100 TB politeness story: authoritative hosts drain first, every host
    keeps crawling. Integer arithmetic end-to-end (fixed-point ranks,
    integer DIV), so the distributed allocation is bit-reproducible and
    the DuckDB oracle recomputes it exactly."""
    from llm_scraper_spark.operators.frontier import budgets_from_pagerank
    from llm_scraper_spark.operators.graph import host_pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    ranks = host_pagerank(edges, iterations=PAGERANK_ITERS)
    budgets = budgets_from_pagerank(
        ranks, total_budget=WAVE_TOTAL_BUDGET, min_budget=1, max_budget=1024
    )
    return budgets.orderBy("host")


def _authority_budgets_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import pagerank_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    pr = pagerank_oracle_sql(edges_sql, iterations=PAGERANK_ITERS)
    return f"""
WITH pr AS ({pr}),
tot AS (SELECT CAST(SUM(rank) AS BIGINT) AS t FROM pr)
SELECT host,
       CAST(LEAST(GREATEST(({WAVE_TOTAL_BUDGET} * rank) // t, 1), 1024)
            AS INT) AS budget
FROM pr, tot
ORDER BY host"""


ROBOTS_HOSTS = 40
ROBOTS_SEGMENTS = ["a", "a/x", "b", "b/open", "c", "c/pub", "c/priv", "d"]
# host % 5 == 0 -> no robots.txt (allowed by default, reference
# discovery.py:154-155); otherwise ruleset = host % 2.
ROBOTS_RULESETS = {
    0: {"allow": ["/a/x", "/c/pub"], "disallow": ["/a", "/c"]},
    1: {"allow": ["/b/open"], "disallow": ["/b", "/d"]},
}


def q_robots_gating(spark, sf_dir):
    """North-rule "robots gating": the real ``gate_frontier`` operator
    (broadcast rules join + native-expression Google-REP longest-match,
    Allow wins ties, missing robots.txt allows) over a deterministic
    synthetic frontier derived from doc_id md5 hashes. The DuckDB oracle
    replays the longest-match decision from the SAME ruleset constants as
    generated CASE chains — content-verifying the gate's allow/deny
    semantics, not just its row count. Wildcard ($ / *) paths are
    pytest-covered; the synthetic rules here are plain prefixes so the
    SQL twin stays exact."""
    from llm_scraper_spark.operators.robots import gate_frontier

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    host = (_md5_60bit(F.col("doc_id"), ":rh") % ROBOTS_HOSTS).alias("host")
    seg = F.element_at(
        F.array(*[F.lit(s) for s in ROBOTS_SEGMENTS]),
        (_md5_60bit(F.col("doc_id"), ":rp") % len(ROBOTS_SEGMENTS) + 1)
        .cast("int"),
    )
    page = _md5_60bit(F.col("doc_id"), ":rq") % 10
    frontier = docs.select("doc_id", host).withColumn(
        "canonical_url",
        F.concat(
            F.lit("https://h"), F.col("host").cast("string"),
            F.lit(".example/"), seg, F.lit("/p"), page.cast("string"),
        ),
    )
    rules_rows = [
        (h, ROBOTS_RULESETS[h % 2]["allow"],
         ROBOTS_RULESETS[h % 2]["disallow"])
        for h in range(ROBOTS_HOSTS) if h % 5 != 0
    ]
    robots = spark.createDataFrame(
        rules_rows,
        "host long, allow_prefixes array<string>, disallow_prefixes array<string>",
    )
    gated = gate_frontier(frontier, robots)
    return gated.select("doc_id", "host", "canonical_url").orderBy("doc_id")


def _md5_60bit(col, tag: str):
    return (
        F.conv(F.substring(F.md5(F.concat(col.cast("string"), F.lit(tag))),
                           1, 15), 16, 10).cast("long")
    )


def _robots_gating_oracle_sql() -> str:
    def h(tag: str, mod: int) -> str:
        return (f"('0x' || substring(md5(doc_id::VARCHAR || '{tag}'), 1, 15))"
                f"::BIGINT % {mod}")

    segs = ", ".join(f"'{s}'" for s in ROBOTS_SEGMENTS)

    def longest(prefixes: list[str]) -> str:
        cases = ", ".join(
            f"CASE WHEN path LIKE '{p}%' THEN {len(p)} ELSE -1 END"
            for p in prefixes
        )
        return f"GREATEST({cases})" if cases else "-1"

    def allowed(rs: dict) -> str:
        return (f"((({longest(rs['disallow'])}) = -1) OR "
                f"(({longest(rs['allow'])}) >= ({longest(rs['disallow'])})))")

    return f"""
WITH frontier AS (
  SELECT doc_id,
         {h(':rh', ROBOTS_HOSTS)} AS host,
         '/' || (ARRAY[{segs}])[({h(':rp', len(ROBOTS_SEGMENTS))})::INT + 1]
             || '/p' || ({h(':rq', 10)})::VARCHAR AS path
  FROM documents
)
SELECT doc_id, host,
       'https://h' || host::VARCHAR || '.example' || path AS canonical_url
FROM frontier
WHERE host % 5 = 0
   OR (host % 2 = 0 AND {allowed(ROBOTS_RULESETS[0])})
   OR (host % 2 = 1 AND {allowed(ROBOTS_RULESETS[1])})
ORDER BY doc_id"""


MIX_RATES = {"en": 0.8, "de": 0.5, "fr": 0.25, "zh": 0.1}


def q_stratified_sample(spark, sf_dir):
    """Deterministic data-mixture sampling: per-language keep rates (the
    training-mixture table) decided by a 60-bit md5 hash of doc_id — a pure
    function of (key, seed), invariant under repartitioning, which is what
    makes corpus builds reproducible (Spark's native df.sample is
    partition-layout-dependent). Also tags the deterministic train/eval
    split. The oracle recomputes exact membership row-for-row, so the
    driver verifies WHICH docs were kept, not just how many."""
    from llm_scraper_spark.operators.sampling import (
        split_train_eval, stratified_sample)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    kept = stratified_sample(docs, MIX_RATES, strata_col="lang",
                             key_col="doc_id", seed="mix")
    return (
        split_train_eval(kept, eval_frac=0.02, key_col="doc_id")
        .select("doc_id", "lang", "source", "split")
        .orderBy("doc_id")
    )


def q_asof_join(spark, sf_dir):
    """As-of join: every non-purchase event attached to the same user's
    most recent purchase at-or-before its timestamp. Spark has no ASOF
    JOIN; the operator is the canonical union+window re-expression (one
    shuffle, no join node — plan-asserted in tests). DuckDB DOES have a
    native ASOF LEFT JOIN, so the oracle checks the operator against a
    completely independent implementation of the semantics."""
    from llm_scraper_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "event_type", "ts")
    # pre-dedupe right rows sharing (user_id, ts) deterministically (keep
    # max event_id): DuckDB's ASOF JOIN breaks such ties arbitrarily, so
    # without this the oracle comparison would be flaky on tied data —
    # the operator itself now tie-breaks deterministically (asof.py), but
    # "deterministic" differs per engine, hence the shared pre-dedupe.
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"),
             F.expr("max_by(value, event_id)").alias("value"))
    )
    out = asof_join(left, right)
    return out.select(
        "event_id", "user_id", "event_type",
        F.col("asof_purchase_id").alias("purchase_id"),
        # NTZ -> timestamp is exact under the engine's pinned UTC session tz
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("asof_ts").cast("timestamp"))
         ).alias("us_since_purchase"),
        F.round("asof_value", 6).alias("purchase_value"),
    ).orderBy("event_id")


def q_tfidf_terms(spark, sf_dir):
    """Top-5 salient terms per source (TF-IDF). The 'ratio' idf mode keeps
    every score a product/quotient of integers — IEEE-identical across
    engines, so the oracle reproduces the exact doubles AND therefore the
    exact ranking (a log-based idf can rank-flip on the last ulp)."""
    from llm_scraper_spark.operators.corpus import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return tf_idf_top_terms(docs, group_col="source", k=5).orderBy(
        "source", "rank")


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-then-chunk packing geometry: per-source document
    streams cut into 512-token training sequences; every doc reports its
    (seq_id, offset, end_seq, straddles-a-cut). Pure integer window math —
    the oracle recomputes it with the same SQL window."""
    from llm_scraper_spark.operators.corpus import pack_sequences
    from llm_scraper_spark.operators.text_analysis import token_count_ws

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_ws("text").alias("n_tokens"))
    return pack_sequences(
        docs, "n_tokens", capacity=512, order_col="doc_id", by_col="source"
    ).orderBy("doc_id")


def q_ivf_topk(spark, sf_dir):
    """IVF-ANN machinery content check: kmeans|| coarse quantizer +
    nearest-centroid inverted lists, probed EXHAUSTIVELY (nprobe = k) so
    the result provably equals exact cosine top-k regardless of where the
    centroids land — which is what lets a plain SQL oracle verify the
    whole assign/probe/rank pipeline. Partial-probe recall (the scale
    path) is measured in tests/test_goldens.py."""
    from llm_scraper_spark.operators.similarity import (
        ivf_fit_centroids, ivf_topk)

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 1).select("embedding").first()["embedding"]
    corpus = emb.filter(F.col("vec_id") != 1)
    cents = ivf_fit_centroids(corpus, k_centroids=8, max_iter=3)
    top = ivf_topk(corpus, list(qv), cents, k=5, nprobe=len(cents))
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def _pq_query_vec(dim: int = 64) -> list[float]:
    """Deterministic PQ probe vector — a fixed closed form both engines
    quantize identically (floor((v + 2) * 1024))."""
    import math

    return [math.sin(i * 0.7) * 0.3 for i in range(dim)]


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. TPAMI'11): integer Lloyd
    k-means codebooks per subspace, full-corpus 1-byte-per-subspace
    encoding, ADC lookup-table top-k. The whole LEARNED pipeline is
    goldenless — init is md5-ranked, every Lloyd round is integer
    fixed-point, so the oracle replays fit + encode + ADC bit-for-bit
    from the embeddings parquet alone (operators/pq.py docstring)."""
    from llm_scraper_spark.operators.pq import pq_adc_topk, pq_encode, pq_fit

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_fit(emb, m=8, k=8, iters=2, fit_rows=256, dim=64)
    codes = pq_encode(emb, cb, m=8, dim=64)
    return pq_adc_topk(codes, cb, _pq_query_vec(), k_top=10, m=8, dim=64)


def _vp_query_vec(dim: int = 8) -> list[float]:
    """Deterministic query vector for the composed vector pipeline —
    0.1-step rationals both engines parse from the same literal."""
    return [((j * 37 + 11) % 21 - 10) / 10.0 for j in range(dim)]


def q_vector_pipeline(spark, sf_dir):
    """VERDICT r4 #7 — the vector tier composed END-TO-END as one query:
    interleaved spans (golden-pinned corpus) -> deterministic fake
    embeddings per text span (md5 closed form per dimension — the CLIP
    stand-in) -> IVF coarse-quantizer FIT (MLlib kmeans||) -> inverted-
    list assignment + exhaustive-probe top-k. nprobe == k_centroids
    makes the ANN result provably equal exact cosine top-k, so the
    DuckDB oracle verifies the whole composed chain (spans -> embed ->
    index -> rank) without replaying kmeans; partial-probe recall for
    the same machinery is measured in tests/test_goldens.py."""
    from llm_scraper_spark.operators.similarity import (
        ivf_fit_centroids, ivf_topk)
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    dim = 8
    docs = build_documents_interleaved(spark, sf_dir)
    spans = (
        docs.select("doc_id", F.posexplode("spans").alias("span_idx", "_s"))
        .filter(F.col("_s.kind") == "text")
        .select("doc_id", "span_idx")
    )

    def comp(j):
        h = F.conv(F.substring(F.md5(F.concat(
            F.col("doc_id"), F.lit("|"), F.col("span_idx").cast("string"),
            F.lit("|"), F.lit(str(j)))), 1, 15), 16, 10).cast("long")
        return ((h % 2001) - 1000).cast("double") / 1000.0

    emb = spans.select(
        F.concat(F.col("doc_id"), F.lit("#"),
                 F.col("span_idx").cast("string")).alias("vec_id"),
        F.array(*[comp(j) for j in range(dim)]).alias("embedding"),
    )
    cents = ivf_fit_centroids(emb, k_centroids=8, max_iter=3)
    top = ivf_topk(emb, _vp_query_vec(dim), cents, k=5, nprobe=len(cents))
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def _vector_pipeline_oracle_sql() -> str:
    golden = "/root/repo/goldens/spans_sf0.01.parquet"
    qv = "[" + ", ".join(repr(x) for x in _vp_query_vec(8)) + "]::DOUBLE[]"
    return f"""
WITH sp AS (
  SELECT doc_id, span_idx
  FROM read_parquet('{golden}') WHERE kind = 'text'),
e AS (
  SELECT doc_id || '#' || span_idx::VARCHAR AS vec_id,
         list_transform(range(0, 8), j ->
           ((('0x' || substring(md5(doc_id || '|' || span_idx::VARCHAR
                                     || '|' || j::VARCHAR), 1, 15))::BIGINT
             % 2001) - 1000) / 1000.0) AS v
  FROM sp),
q AS (SELECT {qv} AS qv)
SELECT vec_id,
       round(list_dot_product(v, qv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
             6) AS cos_sim
FROM e, q
ORDER BY list_dot_product(v, qv) /
         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
         DESC, vec_id
LIMIT 5"""


def q_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint (md5 3-gram min)."""
    from llm_scraper_spark.operators.text_analysis import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp")).filter(
        F.col("fp").isNotNull()
    )


def q_token_count_bpe(spark, sf_dir):
    from llm_scraper_spark.operators.text_analysis import token_count_bpe, token_count_ws

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_ws_tokens"),
        token_count_bpe("text").alias("n_bpe_tokens"),
    )


def q_quality_score(spark, sf_dir):
    from llm_scraper_spark.operators.text_analysis import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality filters (dup-line / dup-3-gram /
    top-2-gram fractions) — training-data-pipeline tier; the DuckDB oracle
    recomputes all three from scratch (list ops + unnest aggregation)."""
    from llm_scraper_spark.operators.text_analysis import repetition_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(docs)


def q_events_daily(spark, sf_dir):
    """T1-style time bucketing (UTC-pinned date strings for oracle parity)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("day", "event_type")
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min gap rule via lag + running sum windows."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("ns", new_sess)
        .groupBy("user_id")
        .agg(F.sum("ns").cast("long").alias("n_sessions"), F.count("*").alias("n_events"))
    )


def q_language_id(spark, sf_dir):
    """Stopword-lexicon language ID (argmax over per-language stopword
    hits, (hits, lang) tie-break — DuckDB-oracled via struct max)."""
    from llm_scraper_spark.operators.text_analysis import language_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("lang_pred"))


def q_minhash_neardup(spark, sf_dir):
    """MinHash+LSH candidate pairs on the production xxhash64 family (the
    scale path bench.py times). xxhash64 has no DuckDB twin, so the oracle
    is the committed golden parquet (goldens/minhash_pairs_sf*.parquet,
    regenerated by jobs/make_goldens.py and pinned by tests/test_goldens) —
    drift in shingling/banding/bucketing/estimation mismatches the golden.
    Full independent recomputation lives in minhash_neardup_md5."""
    from llm_scraper_spark.operators.dedup import minhash_candidates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # rows=8 = high-precision LSH regime: the synthetic corpus has a 31-word
    # vocab so at rows=4 nearly everything collides (quadratic buckets)
    pairs = minhash_candidates(docs, bands=4, rows=8, hash_family="xxhash64")
    return pairs.select(
        "id_a", "id_b",
        (F.col("est_jaccard") * 32).cast("int").alias("n_match"),
        "est_jaccard",
    )


def q_minhash_neardup_md5(spark, sf_dir):
    """MinHash+LSH candidate pairs, md5 hash family: every stage
    (shingle -> 32 permutation hashes -> banded buckets -> bucket-capped
    pair join -> signature-agreement estimate) is recomputed exactly by
    the DuckDB oracle (VERDICT #1; production default stays xxhash64)."""
    from llm_scraper_spark.operators.dedup import minhash_candidates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_candidates(docs, bands=4, rows=8, hash_family="md5")
    # n_match/32 is a dyadic rational — exact in doubles on both engines,
    # so no rounding (round() half-up vs half-even would diverge at .5)
    return pairs.select(
        "id_a", "id_b",
        (F.col("est_jaccard") * 32).cast("int").alias("n_match"),
        "est_jaccard",
    )


def q_simhash(spark, sf_dir):
    """60-bit SimHash, md5 token-hash family — fingerprint recomputed
    bit-for-bit by the generated DuckDB oracle (xxhash64 = scale path)."""
    from llm_scraper_spark.operators.dedup import simhash64

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash64(docs, hash_family="md5")


def _span_digest_expr(spans_col: str = "spans"):
    """Per-doc content digest over the ordered span sequence:
    md5 of 'kind|md5(text)|media_ref|offset' items joined by ';'. The
    DuckDB oracle recomputes the same digest from the committed golden
    spans parquet, so a chunker/interleave regression mismatches."""
    item = lambda s: F.concat_ws(  # noqa: E731
        "|", s["kind"], F.md5(F.coalesce(s["text"], F.lit(""))),
        F.coalesce(s["media_ref"], F.lit("")), s["offset"].cast("string"),
    )
    return F.md5(F.concat_ws(";", F.transform(spans_col, item)))


def q_spans_documents(spark, sf_dir):
    """The north-rule interleaved documents table (chunker UDF), with a
    per-doc span-sequence digest content-verified against the committed
    golden spans (goldens/spans_sf0.01.parquet, themselves validated
    against the actual reference chunking.py in tests/test_chunker.py)."""
    from llm_scraper_spark.operators.chunker import chunk_counts
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    return chunk_counts(docs).select(
        "doc_id", "n_spans", "n_text_spans", "n_media_spans",
        _span_digest_expr("spans").alias("span_digest"),
    )


RECRAWL_URLS = 200


def q_recrawl_schedule(spark, sf_dir):
    """Freshness-aware re-crawl scheduling (``recrawl_intervals``):
    unchanged pages back off exponentially (interval doubles per
    unchanged observation, cap 2^10 waves), any change resets to
    every-wave revisits. Fetch history is synthesized deterministically
    from events: 200 URLs x 50 observations, fingerprints from a 60-bit
    md5 so change points are reproducible in both engines. One window
    exchange; integer bit-shift arithmetic — the oracle replays it
    value-for-value."""
    from llm_scraper_spark.operators.frontier import recrawl_intervals

    ev = _t(spark, sf_dir, "events").select("event_id")
    history = ev.select(
        F.concat(F.lit("u"), (F.col("event_id") % RECRAWL_URLS)
                 .cast("string")).alias("url"),
        F.expr(f"event_id DIV {RECRAWL_URLS}").alias("wave"),
        (_md5_60bit(F.col("event_id"), ":fp") % 3)
        .cast("string").alias("fingerprint"),
    )
    out = recrawl_intervals(history, max_exponent=10)
    return out.select(
        "url", "wave", "fingerprint", "changed", "streak", "interval",
        "next_due_wave",
    ).orderBy("url", "wave")


def _recrawl_oracle_sql() -> str:
    return f"""
WITH h AS (
  SELECT 'u' || (event_id % {RECRAWL_URLS})::VARCHAR AS url,
         event_id // {RECRAWL_URLS} AS wave,
         (('0x' || substring(md5(event_id::VARCHAR || ':fp'), 1, 15))::BIGINT
          % 3)::VARCHAR AS fingerprint
  FROM events
),
a AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY wave) AS obs,
         (LAG(fingerprint) OVER (PARTITION BY url ORDER BY wave) IS NULL
          OR fingerprint <> LAG(fingerprint)
               OVER (PARTITION BY url ORDER BY wave)) AS changed
  FROM h
),
b AS (
  SELECT *,
         CAST(obs - MAX(CASE WHEN changed THEN obs END) OVER (
             PARTITION BY url ORDER BY wave
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
             AS streak
  FROM a
)
SELECT url, wave, fingerprint, changed, streak,
       CAST(1 << LEAST(streak, 10) AS BIGINT) AS interval,
       CAST(wave + (1 << LEAST(streak, 10)) AS BIGINT) AS next_due_wave
FROM b
ORDER BY url, wave"""


INTERLEAVE_CAPACITY = 2048
INTERLEAVE_MEDIA_COST = 64


def q_interleave_pack(spark, sf_dir):
    """Interleaved text+media sequence packing over the north-rule spans
    table: text spans cost their word count, media spans a fixed
    64-token placeholder budget; the mixed stream packs into 2048-token
    sequences per stream shard (first hex digit of doc_id — 16
    independent packing streams, so the running-sum window is sharded,
    not global). Spark side recomputes spans live through the chunker
    UDF (build_documents_interleaved); the oracle replays the identical
    integer window math over the committed golden spans parquet — so the
    query content-verifies chunker output AND batch geometry at once."""
    from llm_scraper_spark.operators.corpus import interleave_pack
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    flat = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "_s")
    ).select(
        "doc_id", "span_idx",
        F.col("_s.kind").alias("kind"), F.col("_s.text").alias("text"),
        F.substring("doc_id", 1, 1).alias("stream"),
    )
    out = interleave_pack(
        flat, capacity=INTERLEAVE_CAPACITY,
        media_cost=INTERLEAVE_MEDIA_COST, stream_col="stream",
    )
    return out.select(
        "doc_id", "span_idx", "kind", "stream", "cost",
        "seq_id", "seq_offset", "end_seq_id", "spans_boundary",
    ).orderBy("doc_id", "span_idx")


def _interleave_pack_oracle_sql() -> str:
    cap, mc = INTERLEAVE_CAPACITY, INTERLEAVE_MEDIA_COST
    return rf"""
WITH sp AS (
  SELECT doc_id, span_idx, kind,
         substring(doc_id, 1, 1) AS stream,
         CAST(CASE WHEN kind = 'text'
              THEN GREATEST(len(regexp_extract_all(text, '\w+')), 1)
              ELSE {mc} END AS BIGINT) AS cost
  FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
),
c AS (
  SELECT *, COALESCE(CAST(SUM(cost) OVER (
      PARTITION BY stream ORDER BY doc_id, span_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      0) AS cum0
  FROM sp
)
SELECT doc_id, span_idx, kind, stream, cost,
       cum0 // {cap} AS seq_id,
       cum0 % {cap} AS seq_offset,
       (cum0 + GREATEST(cost, 1) - 1) // {cap} AS end_seq_id,
       ((cum0 + GREATEST(cost, 1) - 1) // {cap}) > (cum0 // {cap})
           AS spans_boundary
FROM c
ORDER BY doc_id, span_idx"""


def q_vector_upsert(spark, sf_dir):
    """Document-store upsert semantics (reference S10: insert_many keyed
    by _id — incoming batch replaces matched rows, engine.py:53-78): one
    broadcast anti-join + union."""
    from llm_scraper_spark.operators.vectors import upsert

    emb = _t(spark, sf_dir, "embeddings")
    existing = emb.select("vec_id", F.lit("old").alias("source"),
                          F.size("embedding").alias("dim"))
    incoming = (
        emb.filter(F.col("vec_id") % 7 == 0)
        .select("vec_id", F.lit("new").alias("source"),
                F.size("embedding").alias("dim"))
    )
    return upsert(existing, incoming, id_col="vec_id")


def q_multimodal_features(spark, sf_dir):
    """Multimodal pipeline end-to-end with REAL stdlib image decode at
    both depths: interleaved docs -> media spans -> real binary
    containers (PNG with a true zlib pixel stream, GIF with a true LZW
    stream, baseline JPEG with a true Huffman entropy stream; md5-derived
    dims) -> header parse UDF + PIXEL-decoded features for ALL THREE
    mimes (PNG: inflate + all-5-filter unfilter; GIF: full GIF-LZW +
    color table; JPEG: canonical Huffman + dequant + IDCT), featurized
    as grid means + luminance histogram (VERDICT r2 #5) + frame
    sampling. The DuckDB oracle independently recomputes every decoded
    value — dimensions AND the pixel-derived feature values — from
    md5(media_ref) over the golden spans, so the encode->decode->
    featurize round trip is content-verified end-to-end."""
    from llm_scraper_spark.operators.multimodal import (
        extract_features, image_meta_udf, sample_frames, synth_assets)
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    assets = synth_assets(spark, docs)
    with_meta = assets.withColumn("img", image_meta_udf()(F.col("payload")))
    feats = extract_features(with_meta)
    frames = sample_frames(feats, n_frames=2)
    return frames.select(
        "asset_id", "doc_id", "media_ref", "mime",
        F.col("img.width").alias("width"),
        F.col("img.height").alias("height"),
        F.col("img.ok").alias("decoded_ok"),
        F.size("features").alias("feature_dim"),
        # pixel-decoded features (all three mimes): cell (0,0) mean RGB +
        # the dominant luminance-histogram bin fraction (1.0 = constant)
        F.round(F.element_at("features", 1), 6).alias("pix_mean_r"),
        F.round(F.element_at("features", 2), 6).alias("pix_mean_g"),
        F.round(F.element_at("features", 3), 6).alias("pix_mean_b"),
        F.round(F.array_max(F.slice("features", 49, 16)), 6)
        .alias("pix_hist_max"),
        "frame_idx", "frame_offset",
    )


def q_audio_features(spark, sf_dir):
    """Audio twin of q_multimodal_features with REAL stdlib WAV decode:
    interleaved docs -> media spans -> valid RIFF/WAVE containers whose
    PCM16 square-wave samples derive from md5(media_ref)
    (multimodal.audio_params_of) -> chunk-walk decode + sample-derived
    features (RMS over decoded int64 squares, zero-crossings counted
    from actual sign changes, duration from the parsed header rate).
    The DuckDB oracle recomputes every feature in closed form from the
    same md5, so the encode->decode->featurize round trip is
    content-verified end-to-end — the same grounding contract as the
    PNG/GIF pixel decoders."""
    from llm_scraper_spark.operators.multimodal import (
        audio_meta_udf, synth_audio_assets)
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    assets = synth_audio_assets(spark, docs)
    a = assets.withColumn("au", audio_meta_udf()(F.col("payload")))
    return a.select(
        "asset_id", "doc_id", "media_ref", "mime",
        F.col("au.sample_rate").alias("sample_rate"),
        F.col("au.n_samples").alias("n_samples"),
        F.col("au.duration_ms").alias("duration_ms"),
        F.col("au.rms_norm").alias("rms_norm"),
        F.col("au.zcr").alias("zcr"),
        F.col("au.n_flips").alias("n_flips"),
        F.col("au.ok").alias("decoded_ok"),
    )


def q_video_frames(spark, sf_dir):
    """Video twin of the image/audio multimodal queries with REAL stdlib
    animated-GIF demux+decode: interleaved docs -> media spans -> valid
    multi-frame GIF89a containers (Netscape loop block, per-frame GCE
    delays, per-frame LOCAL color tables, real LZW streams; all
    parameters md5-derived) -> full block-walk demux + per-frame LZW
    decode + per-frame mean-RGB features from the decoded pixels. The
    DuckDB oracle recomputes frame counts, delays, and every per-frame
    feature in closed form from md5(media_ref)."""
    from llm_scraper_spark.operators.multimodal import (
        synth_video_assets, video_frames_udf)
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    assets = synth_video_assets(spark, docs)
    v = assets.withColumn("fr", video_frames_udf()(F.col("payload")))
    return v.select(
        "asset_id", "doc_id", "media_ref", "mime",
        F.size("fr").alias("n_frames"),
        F.posexplode("fr").alias("k", "f"),
    ).select(
        "asset_id", "doc_id", "media_ref", "mime", "n_frames",
        F.col("f.frame_idx").alias("frame_idx"),
        F.col("f.delay_cs").alias("delay_cs"),
        F.col("f.width").alias("width"),
        F.col("f.height").alias("height"),
        F.col("f.mean_r").alias("mean_r"),
        F.col("f.mean_g").alias("mean_g"),
        F.col("f.mean_b").alias("mean_b"),
    )


def q_image_resize(spark, sf_dir):
    """Resize stage of the multimodal pipeline (the brief's decode ->
    feature-extract -> RESIZE -> frame-sample list): real container
    decode (PNG/GIF/JPEG) -> real nearest-neighbor resize to 32x32 over
    the decoded array (multimodal.resize_pixels, pure index math) ->
    stats over the RESIZED pixels. The DuckDB oracle recomputes source
    dims and resized means in closed form from md5(media_ref); the
    resized array's crc32 content witness is pinned in pytest
    (test_ops) — DuckDB has no crc32."""
    from llm_scraper_spark.operators.multimodal import (
        image_resize_udf, synth_assets)
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    assets = synth_assets(spark, docs)
    r = assets.withColumn("rz", image_resize_udf(32, 32)(F.col("payload")))
    return r.select(
        "asset_id", "doc_id", "media_ref", "mime",
        F.col("rz.src_width").alias("src_width"),
        F.col("rz.src_height").alias("src_height"),
        F.col("rz.out_width").alias("out_width"),
        F.col("rz.out_height").alias("out_height"),
        F.col("rz.mean_r").alias("mean_r"),
        F.col("rz.mean_g").alias("mean_g"),
        F.col("rz.mean_b").alias("mean_b"),
        F.col("rz.ok").alias("decoded_ok"),
    )


def q_ann_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k (scale path of q_embedding_topk)."""
    from llm_scraper_spark.operators.similarity import ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=5,
                    planes=6).select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_ann_topk_md5(spark, sf_dir):
    """ann_topk's fully-recomputable twin (goldenless): md5-derived
    Rademacher planes + integer fixed-point projections mean the DuckDB
    oracle rebuilds the ENTIRE chain — quantization, sign matrix, buckets,
    multi-probe candidate set, exact cosine rerank — from the corpus
    parquet alone. Closes the round-2 caveat that the ann family's
    bucketing was golden-pinned rather than independently verified."""
    from llm_scraper_spark.operators.similarity import ann_topk_md5

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ann_topk_md5(
        emb.filter(F.col("vec_id") != 0), list(qv), k=5, planes=6
    ).select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_extract_articles(spark, sf_dir):
    """P1-P17 extraction pipeline: synthetic HTML built natively from the
    documents table, extracted via the stdlib-DOM pandas UDF; the oracle
    reconstructs title/content with plain SQL string ops."""
    from llm_scraper_spark.operators.extraction.pipeline import extract_documents

    docs = _t(spark, sf_dir, "documents")
    raw = docs.select(
        F.concat(F.lit("https://ex.com/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("ex.com").alias("domain"),
        F.concat(
            F.lit('<html><head><meta property="og:title" content="Doc '),
            F.col("doc_id").cast("string"),
            F.lit('"/></head><body><main><p>'),
            F.col("text"),
            F.lit("</p></main></body></html>"),
        ).alias("raw_html"),
    )
    out = extract_documents(raw, {}, output_format="markdown")
    return out.select(
        "url", "title", "content", F.size("spans").alias("n_spans")
    )


def q_pagination(spark, sf_dir):
    """O5 pagination: ORDER BY + LIMIT/OFFSET (api.py:190-292)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.orderBy("event_id").select("event_id", "event_type")
            .offset(100).limit(50))


def q_task_lookup(spark, sf_dir):
    """J5: task id-list joined back to full rows (api.py:231-266)."""
    ids = spark.range(0, 50, 3).select(F.col("id").alias("doc_id"))
    docs = _t(spark, sf_dir, "documents")
    return docs.join(ids, on="doc_id").select("doc_id", "source", "n_chars")


def q_rag_documents(spark, sf_dir):
    """C3: spans -> RAG chunk docs with {doc_id}-chunk-{i} ids
    (articles.py:299-319); chunk text content-verified via md5 against
    the committed golden spans parquet."""
    from llm_scraper_spark.operators.chunker import to_rag_documents
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    return to_rag_documents(docs).select(
        "id", "doc_id", "chunk_index", F.length("text").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


def q_crawl_schedule_log(spark, sf_dir):
    """The north-rule centerpiece under the driver's correctness gate
    (VERDICT #5): a bounded synthetic crawl — seed canonicalization,
    per-host politeness windows, exact anti-join URL-seen dedup, global
    FIFO seq assignment — over 3 waves (crawl/waves.py:run_wave). The
    oracle is the committed output of the single-node reference-semantics
    simulator (crawl/simulator.py -> goldens/crawl_schedule_log.parquet):
    the distributed schedule log must equal it row-for-row."""
    import shutil

    from jobs.make_goldens import (
        CRAWL_BUDGET, CRAWL_FANOUT, CRAWL_N_HOSTS, CRAWL_N_SEEDS, CRAWL_WAVES)
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
    from llm_scraper_spark.sources.synthetic import synth_seeds

    tune_session(spark)
    state_dir = "/tmp/spark_graft_crawl_query"
    shutil.rmtree(state_dir, ignore_errors=True)
    run = CrawlRun(
        spark, state_dir,
        fetcher=synthetic_fetcher(n_hosts=CRAWL_N_HOSTS, fanout=CRAWL_FANOUT),
        default_budget=CRAWL_BUDGET, n_salts=4,
    )
    run.run(CRAWL_WAVES, seeds=synth_seeds(spark, CRAWL_N_SEEDS, n_hosts=CRAWL_N_HOSTS))
    log = run.state.read_all("schedule_log")
    return log.select(
        F.col("wave").cast("int").alias("wave"),
        F.col("seq").cast("long").alias("seq"), "url",
    )


def q_discovery_parse(spark, sf_dir):
    """S2-S5: sitemap/RSS/robots feed parsing UDFs over a synthetic
    feeds_raw table derived from documents (deterministic XML bodies)."""
    from llm_scraper_spark.operators.discovery import discover_from_feeds

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    body = F.concat(
        F.lit('<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/'
              'schemas/sitemap/0.9"><url><loc>https://'),
        F.col("source"), F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        F.lit("</loc></url><url><loc>https://"),
        F.col("source"), F.lit(".example.com/q/"), F.col("doc_id").cast("string"),
        F.lit("</loc></url></urlset>"),
    ).cast("binary")
    feeds = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/sitemap.xml")).alias("feed_url"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.lit("sitemap").alias("kind"),
        body.alias("body"),
    )
    return discover_from_feeds(feeds).select("feed_url", "link_idx", "url")


def q_rss_head_links(spark, sf_dir):
    """S4 (reference discovery.py:63-75): RSS/Atom ``<link>`` hrefs mined
    from page HEADs over the stdlib DOM engine — relative hrefs
    absolutized against the page URL, non-feed link tags ignored. The
    oracle reconstructs both expected feed URLs per page with plain SQL
    string ops."""
    from llm_scraper_spark.operators.discovery import rss_links_udf

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    page_url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"))
    html = F.concat(
        F.lit('<html><head><link rel="alternate" type="application/rss+xml"'
              ' href="/feeds/'),
        F.col("doc_id").cast("string"),
        F.lit('.xml"><link rel="stylesheet" type="text/css" href="/x.css">'
              '<link type="application/atom+xml" href="https://cdn.'),
        F.col("source"),
        F.lit('.example.com/atom.xml"></head><body>x</body></html>'),
    )
    pages = docs.select(
        "doc_id", page_url.alias("page_url"), html.alias("raw_html"))
    return pages.select(
        "doc_id",
        F.posexplode(rss_links_udf(F.col("raw_html"), F.col("page_url")))
        .alias("link_idx", "feed_url"),
    ).orderBy("doc_id", "link_idx")


def q_discovery_orchestration(spark, sf_dir):
    """S6 (reference discovery.py:107-145): the full discovery
    composition — robots.txt 'Sitemap:' mining (relative + absolute
    directives), sitemap <loc> parsing, RSS item parsing, and the
    cross-source union dedup (D4) — over deterministic per-host feed
    bodies derived from the documents table. One URL is deliberately
    listed by BOTH a sitemap and the RSS feed to exercise the set-union
    semantics; the oracle reconstructs the exact deduped candidate set
    per host in SQL."""
    from llm_scraper_spark.operators.discovery import discover_from_feeds

    hosts = (
        _t(spark, sf_dir, "documents")
        .select(F.concat(F.col("source"), F.lit(".example.com")).alias("host"))
        .distinct()
    )
    robots_body = F.concat(
        F.lit("User-agent: *\nDisallow: /private/\nSitemap: /sm1.xml\n"
              "Sitemap: https://"), F.col("host"), F.lit("/sm2.xml\n"),
    ).cast("binary")
    robots = hosts.select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/robots.txt"))
        .alias("feed_url"),
        "host", F.lit("robots").alias("kind"), robots_body.alias("body"),
    )
    sitemap_urls = discover_from_feeds(robots).select(
        "host", F.col("url").alias("sitemap_url"))

    loc = (
        lambda path: F.concat(F.lit("<url><loc>https://"), F.col("host"),
                              F.lit(path), F.lit("</loc></url>"))
    )
    sm_body = F.concat(
        F.lit('<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/'
              'schemas/sitemap/0.9">'),
        loc("/p/a"), loc("/p/b"), F.lit("</urlset>"),
    ).cast("binary")
    sitemaps = sitemap_urls.select(
        F.col("sitemap_url").alias("feed_url"), "host",
        F.lit("sitemap").alias("kind"), sm_body.alias("body"),
    )
    rss_body = F.concat(
        F.lit("<rss><channel><item><link>https://"), F.col("host"),
        F.lit("/r/1</link></item><item><link>https://"), F.col("host"),
        # duplicate of a sitemap URL — must dedup away (D4 union)
        F.lit("/p/a</link></item></channel></rss>"),
    ).cast("binary")
    rss = hosts.select(
        F.concat(F.lit("https://"), F.col("host"), F.lit("/feed.xml"))
        .alias("feed_url"),
        "host", F.lit("rss").alias("kind"), rss_body.alias("body"),
    )
    discovered = discover_from_feeds(sitemaps.unionByName(rss))
    return (
        discovered.select("host", "url").distinct()
        .orderBy("host", "url")
    )


def q_knn_join(spark, sf_dir):
    """LSH-bucketed k-nearest-neighbor JOIN: every vector's top-3
    bucket-mates by exact cosine (similarity.py knn_join — bucket
    equi-join + per-row window top-k, no all-pairs). The bucket
    assignment (planes=6, seed=42 hyperplanes) is numpy-seeded with no
    SQL twin, so the oracle reads the committed golden assignment
    (goldens/knn_buckets_sf0.01.parquet, pinned to the live operator by
    tests/test_goldens.py) and recomputes the ENTIRE downstream join —
    bucket equi-join, exact cosine, top-k ranking — independently in
    DuckDB."""
    from llm_scraper_spark.operators.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_join(emb, emb, k=3, planes=6, seed=42, dim=64)
    return out.select(
        "lid", "rid", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    ).orderBy("lid", "rank")


def q_knn_join_md5(spark, sf_dir):
    """knn_join's fully-recomputable twin (goldenless, same pattern as
    ann_topk_md5): md5-Rademacher buckets + integer fixed-point
    projections let the DuckDB oracle rebuild bucket assignment, bucket
    equi-join, exact cosine, and top-k ranking from the corpus parquet
    alone — no committed golden anywhere in the chain."""
    from llm_scraper_spark.operators.similarity import knn_join_md5

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_join_md5(emb, emb, k=3, planes=6, seed=42, dim=64)
    return out.select(
        "lid", "rid", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    ).orderBy("lid", "rank")


def q_embedding_neardup_md5(spark, sf_dir):
    """Embedding cosine near-dup pairs on the md5-Rademacher sign-LSH
    family (goldenless, the ann_topk_md5 pattern): the DuckDB oracle
    rebuilds the whole chain — sign matrix from keyed md5, 2^20
    fixed-point projections, bucket self-join, sequential-fold cosine,
    threshold — from the embeddings parquet alone. The sequential folds
    on both engines make the `>= 0.30` boundary comparison exact, not
    approximate (production default stays the rng family at 0.95)."""
    from llm_scraper_spark.operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dups(emb, threshold=0.30, planes=6, seed=42,
                              dim=64, hash_family="md5")
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("id_a", "id_b")


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification of LSH candidate pairs
    (dedup.py ngram_jaccard_pairs) on the md5 hash family: candidate
    generation, per-doc shingle sets, and |A∩B|/|A∪B| are ALL recomputed
    end-to-end by the DuckDB oracle (minhash_neardup_md5 pattern;
    production default stays xxhash64). The ratio of exact ints divides
    IEEE-identically on both engines — no rounding."""
    from llm_scraper_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = ngram_jaccard_pairs(docs, bands=4, rows=8, hash_family="md5")
    return out.select(
        "id_a", "id_b",
        (F.col("est_jaccard") * 32).cast("int").alias("n_match"),
        "jaccard",
    ).orderBy("id_a", "id_b")


def q_stream_host_budget(spark, sf_dir):
    """T2's streaming twin under the driver gate (VERDICT r2 #6): the
    applyInPandasWithState CROSS-BATCH per-host politeness cap
    (streaming/ingest.py stream_host_budget) driven over a bounded
    3-micro-batch landing feed derived from documents (host=source,
    seq=doc_id, lifetime budget 12/host). Batches are ascending seq
    ranges, so the cumulative admitted set equals "first 12 per host by
    seq" — which the batch SQL oracle reproduces with one window. State
    must survive micro-batches for this to match: each host's ~8 rows
    per batch exhaust the budget only in batch 2, so a per-batch or
    windowed cap would over-admit and mismatch."""
    import os
    import shutil
    import uuid

    from llm_scraper_spark.streaming.ingest import stream_host_budget

    tune_session(spark)
    # unique dir per invocation: a fixed path + rmtree would tear down a
    # concurrently running copy's stream (e.g. driver gate + local mirror)
    run_id = uuid.uuid4().hex[:8]
    base = f"/tmp/spark_graft_stream_budget_{run_id}"
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    feed = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("source").alias("host"),
        F.col("doc_id").alias("seq"),
    )
    lo, hi = feed.agg(F.min("seq"), F.max("seq")).first()
    cut1 = lo + (hi - lo) // 3
    cut2 = lo + 2 * (hi - lo) // 3
    out = stream_host_budget(spark, in_dir, budget=12)
    qname = f"stream_budget_{run_id}"
    query = (
        out.writeStream.outputMode("append").format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(base, "cp"))
        .start()
    )
    try:
        for part in (
            feed.filter(F.col("seq") <= cut1),
            feed.filter((F.col("seq") > cut1) & (F.col("seq") <= cut2)),
            feed.filter(F.col("seq") > cut2),
        ):
            part.coalesce(1).write.mode("append").parquet(in_dir)
            query.processAllAvailable()
    finally:
        query.stop()
        # the memory sink holds the results; the landing/checkpoint dirs
        # are no longer needed
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(qname).select("host", "url", "seq").orderBy("host", "seq")


def q_result_sink_ttl(spark, sf_dir):
    """S9 result sink + T5 TTL retention under the driver gate (reference
    TTL semantics: cache.py:229-263): write the documents table as five
    per-wave result commits (wave = doc_id % 5) through the production
    CrawlState write -> commit_wave protocol, expire all but the last two
    waves with expire_results, and return the ledger-bounded snapshot read
    of what survived. Deterministic end to end: survivors are exactly the
    docs with doc_id % 5 in (3, 4), which the SQL oracle recomputes from
    the parquet alone — so the sink, the atomic ledger commit, the TTL
    sweep, AND the snapshot-isolated multi-wave read are all content-gated.
    The result is localCheckpointed (block-manager-backed) before the state
    dir is deleted, so the returned frame outlives its source files."""
    import shutil
    import uuid

    from llm_scraper_spark.crawl.state import CrawlState

    tune_session(spark)
    base = f"/tmp/spark_graft_ttl_{uuid.uuid4().hex[:8]}"
    st = CrawlState(spark, base)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 5).alias("wave"))
    try:
        for w in range(5):
            st.write("documents", w,
                     docs.filter(F.col("wave") == w).select("doc_id"))
            st.commit_wave(w, next_seq=0, stats={})
        expired = st.expire_results(keep_last_n_waves=2)
        assert expired == [0, 1, 2], f"unexpected TTL sweep: {expired}"
        out = (
            st.read_all("documents")
            .select("doc_id",
                    F.col("wave").cast("long").alias("wave_part"))
            .orderBy("doc_id")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_topic_dedupe_cap(spark, sf_dir):
    """D5/O2/O3 order-preserving topic dedup+cap under the driver gate
    (reference models/schema.py:210-216 — topics[:5] after first-occurrence
    dedup): topics are the first 12 whitespace tokens of each document,
    deduped preserving first occurrence and capped at 5 via the production
    `dedupe_cap` expression (array_distinct + slice, pure codegen, no
    shuffle). Joined with '|' so both engines compare an unambiguous scalar;
    the DuckDB oracle recomputes first-occurrence order independently with
    min(pos) + row_number (it cannot use list_distinct, which does not
    guarantee order — an independent recompute, not a transliteration)."""
    from llm_scraper_spark.functions.text import dedupe_cap

    tune_session(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.concat_ws(
                "|", dedupe_cap(F.slice(F.split(F.col("text"), " "), 1, 12), 5)
            ).alias("topics"),
        )
        .orderBy("doc_id")
    )


# URL construction for q_url_hygiene — ONE SQL fragment both engines run
# verbatim (Spark F.expr and DuckDB agree on CASE/||/repeat/%), so the
# INPUT is identical by construction and the hygiene chain itself is the
# only thing under test (computed by independent implementations).
# Six deterministic families: tracking params, session params, variable
# path depth, asset extension, variable param count, variable length.
_URL_HYGIENE_CASE = """
    CASE CAST(doc_id % 6 AS INT)
      WHEN 0 THEN 'https://' || source || '.example.com/a/' || doc_id
                  || '?utm_source=x&id=' || doc_id
      WHEN 1 THEN 'https://' || source || '.example.com/p/' || doc_id
                  || '?gclid=abc&q=1&jsessionid=Z'
      WHEN 2 THEN 'https://' || source || '.example.com/'
                  || repeat('d/', CAST(doc_id % 12 AS INT)) || 'x'
      WHEN 3 THEN 'https://' || source || '.example.com/img/' || doc_id
                  || '.jpg'
      WHEN 4 THEN 'https://' || source || '.example.com/x?'
                  || repeat('k=1&', CAST(doc_id % 12 AS INT)) || 'z=2'
      ELSE 'https://' || source || '.example.com/long/'
                  || repeat('a', CAST((doc_id % 5) * 600 AS INT))
    END
"""


def q_url_hygiene(spark, sf_dir):
    """Frontier URL hygiene (training-data-pipeline tier; the reference
    crawls curated seeds and has no scope control — scraper.py:64-76): strip
    tracking/session query params (utm_* prefix + exact set, survivor order
    preserved), then annotate crawl-scope booleans (path depth, non-content
    extension, param count, URL length) on the cleaned URL. All native
    split/filter/regexp expressions (functions/urls.py) — the plan test
    pins zero Python stages. The DuckDB oracle recomputes the full chain
    with list_filter/regexp_extract over the same shared URL construction;
    the tracking-param and extension lists are generated from the SAME
    module constants (one source of truth, no transcription drift)."""
    from llm_scraper_spark.functions.urls import (strip_tracking_params,
                                                  with_crawl_scope)

    tune_session(spark)
    docs = _t(spark, sf_dir, "documents")
    urls = docs.select("doc_id", F.expr(_URL_HYGIENE_CASE).alias("url"))
    cleaned = urls.select("doc_id", strip_tracking_params("url").alias("url"))
    return with_crawl_scope(cleaned).orderBy("doc_id")


def q_sitemap_priority_frontier(spark, sf_dir):
    """Sitemap-priority-seeded frontier (sitemaps.org protocol extension —
    the reference's discovery.py:28-60 keeps only <loc>): per source, a
    REAL sitemap XML document is built natively (deterministic fields from
    doc_id: priority digit, lastmod day, changefreq cycle, with priority
    omitted when doc_id%5==0 and lastmod when doc_id%3==0 to exercise the
    protocol defaults), parsed back through the Arrow-batched
    sitemap_entries_udf, and the recovered entries are scheduled by the
    production priority frontier (schedule_wave: per-host top-3 by
    priority DESC, seq ASC — WindowGroupLimit, skew-immune). The oracle
    never sees the XML: it recomputes every field closed-form from doc_id
    and replays the window — so the XML build, the parse round-trip
    (incl. the 0.5 default), and the priority scheduling are all gated.

    Scale note: the groupBy-collect_list XML build is the TEST harness
    (one synthetic sitemap per source); it is bounded in production by the
    sitemaps.org 50k-URLs-per-file protocol cap, and a real deployment
    parses fetched sitemap bodies row-wise (one body per row through
    sitemap_entries_udf — no aggregation anywhere in that path)."""
    from llm_scraper_spark.operators.discovery import sitemap_entries_udf
    from llm_scraper_spark.operators.frontier import schedule_wave

    tune_session(spark)
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    frag = F.concat(
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example.com/p/"), d, F.lit("</loc>"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(F.lit("<lastmod>2026-01-"),
                     F.lpad(((F.col("doc_id") % 28) + 1).cast("string"),
                            2, "0"),
                     F.lit("</lastmod>")),
        ).otherwise(F.lit("")),
        F.lit("<changefreq>"),
        F.element_at(
            F.array(*[F.lit(x) for x in
                      ("daily", "weekly", "monthly", "yearly")]),
            ((F.col("doc_id") % 4) + 1).cast("int"),
        ),
        F.lit("</changefreq>"),
        F.when(
            F.col("doc_id") % 5 != 0,
            F.concat(F.lit("<priority>0."),
                     ((F.col("doc_id") * 37) % 10).cast("string"),
                     F.lit("</priority>")),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    sitemaps = docs.groupBy("source").agg(
        F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset '
                  'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("doc_id").alias("k"),
                                                frag.alias("frag")))),
                    lambda x: x["frag"],
                ), ""),
            F.lit("</urlset>"),
        ).alias("body")
    )
    entries = sitemaps.select(
        "source",
        F.explode(sitemap_entries_udf(F.encode(F.col("body"), "utf-8")))
        .alias("e"),
    )
    pending = entries.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.col("e.loc").alias("url"),
        F.col("e.lastmod").alias("lastmod"),
        F.col("e.changefreq").alias("changefreq"),
        F.col("e.priority").alias("priority"),
        F.regexp_extract(F.col("e.loc"), r"/p/(\d+)$", 1).cast("long")
        .alias("seq"),
    )
    sched = schedule_wave(pending, default_budget=3)
    return sched.select(
        "host", "url", "lastmod", "changefreq",
        F.round("priority", 6).alias("priority"), "seq", "sched_rank"
    ).orderBy("host", "sched_rank")


def _url_hygiene_oracle_sql() -> str:
    """Full DuckDB recompute of q_url_hygiene: param strip via list_filter,
    scope flags via regexp/split — lists generated from the module
    constants the Spark operator uses."""
    from llm_scraper_spark.functions.urls import (NON_CONTENT_EXTS,
                                                  TRACKING_PARAMS)

    tracking = "[" + ", ".join(f"'{p}'" for p in TRACKING_PARAMS) + "]"
    exts = "[" + ", ".join(f"'{e}'" for e in NON_CONTENT_EXTS) + "]"
    kept = (
        "list_filter(string_split(substring(url, instr(url, '?') + 1), '&'),"
        " kv -> NOT (starts_with(lower(split_part(kv, '=', 1)), 'utm_')"
        f" OR list_contains({tracking}, lower(split_part(kv, '=', 1)))))"
    )
    path_re = r"'^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)'"
    return f"""
        WITH u AS (
          SELECT doc_id, {_URL_HYGIENE_CASE} AS url FROM documents
        ), c AS (
          SELECT doc_id,
                 CASE WHEN instr(url, '?') = 0 THEN url
                      WHEN len({kept}) = 0 THEN split_part(url, '?', 1)
                      ELSE split_part(url, '?', 1) || '?' ||
                           array_to_string({kept}, '&')
                 END AS url
          FROM u
        ), f AS (
          SELECT doc_id, url,
                 len(string_split(regexp_extract(url, {path_re}, 1), '/')) - 1
                   > 8 AS too_deep,
                 list_contains({exts},
                   lower(regexp_extract(regexp_extract(url, {path_re}, 1),
                                        '\\.([A-Za-z0-9]+)$', 1))) AS bad_ext,
                 CASE WHEN instr(url, '?') = 0 THEN 0
                      ELSE len(string_split(substring(url, instr(url, '?') + 1),
                                            '&'))
                 END > 8 AS too_many_params,
                 len(url) > 2048 AS too_long
          FROM c
        )
        SELECT doc_id, url, too_deep, bad_ext, too_many_params, too_long,
               NOT (too_deep OR bad_ext OR too_many_params OR too_long)
                 AS in_scope
        FROM f ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# generated oracle SQL (md5-twin pipelines too wide to hand-write)
# ---------------------------------------------------------------------------

def _curation_oracle_sql() -> str:
    """Full SQL recomputation of q_curation_pipeline: language argmax,
    quality composite, dup-line fraction, the en/>=0.5/<=0.2 funnel,
    min-doc_id-per-normalized-text dedup, per-source aggregate. The
    per-language hit CTEs are generated from the SAME STOPWORDS dict the
    Spark operator uses — one source of truth, no transcription drift."""
    from llm_scraper_spark.operators.text_analysis import STOPWORDS

    def lex(lang):
        return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    per = "\n              UNION ALL\n".join(
        f"              SELECT doc_id, '{lang}' AS lang,\n"
        f"                len(list_filter(t, x -> list_contains({lex(lang)}, x))) AS hits\n"
        f"              FROM toks"
        for lang in STOPWORDS
    )
    return rf"""
        WITH toks AS (
          SELECT doc_id, source, text,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS t
          FROM documents
        ), per AS (
{per}
        ), best AS (
          SELECT doc_id, max({{'hits': hits, 'lang': lang}}) AS b
          FROM per GROUP BY doc_id
        ), lang AS (
          SELECT doc_id,
                 CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS lang_pred
          FROM best
        ), qsig AS (
          SELECT doc_id, len(t) AS nw,
                 len(list_filter(t, x -> list_contains({lex('en')}, x))) AS hits,
                 length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                   / greatest(length(text), 1) AS pr,
                 list_sum(list_transform(t, x -> length(x)))::DOUBLE
                   / greatest(len(t), 1) AS mwl
          FROM toks
        ), qual AS (
          SELECT doc_id,
                 round(0.25 * least(nw / 100.0, 1.0)
                     + 0.25 * least(hits::DOUBLE / greatest(nw, 1) * 4.0, 1.0)
                     + 0.25 * (CASE WHEN pr >= 0.005 AND pr <= 0.2 THEN 1.0 ELSE 0.0 END)
                     + 0.25 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END),
                   6) AS quality
          FROM qsig
        ), lines AS (
          SELECT doc_id,
                 1 - (len(list_distinct(string_split(text, chr(10))))::DOUBLE
                      / len(string_split(text, chr(10)))) AS dlf
          FROM documents
        ), filtered AS (
          SELECT d.doc_id, d.source, d.text, q.quality
          FROM documents d
          JOIN lang USING (doc_id) JOIN qual q USING (doc_id)
          JOIN lines USING (doc_id)
          WHERE lang_pred = 'en' AND q.quality >= 0.5 AND dlf <= 0.2
        ), deduped AS (
          SELECT * FROM filtered
          QUALIFY row_number() OVER (
            PARTITION BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
            ORDER BY doc_id) = 1
        )
        SELECT source, count(*) AS n_docs, round(avg(quality), 6) AS avg_quality
        FROM deduped GROUP BY source ORDER BY source
    """


def _line_dedup_oracle_sql() -> str:
    """DuckDB recomputation of q_line_dedup: same boilerplate injection,
    first-occurrence-wins line dedup ordered by (doc_id, pos), per-doc
    reassembly in original order, md5 digest of the surviving text."""
    head = BOILER_HEAD.replace("'", "''")
    tail = BOILER_TAIL.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"""
        WITH boiler AS (
          SELECT doc_id,
                 '{head}' || chr(10) || text || chr(10) || '{tail}' AS text
          FROM documents
        ), lines AS (
          SELECT doc_id, s.pos, s.line FROM (
            SELECT doc_id,
                   unnest(list_transform(string_split(text, chr(10)),
                                         (x, i) -> {{'pos': i, 'line': x}})) AS s
            FROM boiler
          )
        ), kept AS (
          SELECT doc_id, pos, line FROM lines
          QUALIFY row_number() OVER (
            PARTITION BY trim(line) ORDER BY doc_id, pos) = 1
        ), reass AS (
          SELECT doc_id, count(*)::INT AS n_kept,
                 md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5
          FROM kept GROUP BY doc_id
        )
        SELECT b.doc_id, len(string_split(b.text, chr(10)))::INT AS n_lines,
               r.n_kept, r.text_md5
        FROM boiler b JOIN reass r USING (doc_id)
        ORDER BY b.doc_id
    """


def _contamination_oracle_sql(n: int = 8) -> str:
    """DuckDB recomputation of q_ngram_contamination: same tokenizer as the
    Spark operator (lower/trim + \\s+ split), word n-grams via the indexed
    list_transform trick, distinct per doc, membership vs the distinct
    benchmark-slice n-gram set."""
    parts = " || ' ' || ".join(f"w[i+{d}]" for d in range(n))
    return rf"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1),
                                i -> {parts}) AS s
          FROM toks
        ), doc_g AS (
          SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 != 0)
        ), bench_g AS (
          SELECT DISTINCT g FROM (
            SELECT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0)
        ), scored AS (
          SELECT d.doc_id, count(*) AS n_ngrams,
                 sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits
          FROM doc_g d LEFT JOIN bench_g b USING (g) GROUP BY d.doc_id
        )
        SELECT t.doc_id,
               coalesce(s.n_ngrams, 0) AS n_ngrams,
               coalesce(s.n_hits, 0) AS n_hits,
               coalesce(floor(s.n_hits * 1000000 / s.n_ngrams), 0)::BIGINT
                 AS contamination_ppm
        FROM toks t LEFT JOIN scored s USING (doc_id)
        WHERE t.doc_id % 10 != 0
        ORDER BY t.doc_id
    """


def _dedup_clusters_cte(min_len: int = 30, cap: int = 200) -> str:
    """The shared WITH RECURSIVE body (banner injection -> line hashing ->
    line-sharing pairs -> closure -> per-doc label ``lab`` + sizes ``sz``)
    used by both the dedup_clusters and dedup_representatives oracles."""
    return f"""
        WITH RECURSIVE banner AS (
          SELECT doc_id,
                 text || chr(10) || 'cluster banner padding padding ' ||
                   (doc_id % 50)::VARCHAR
                      || chr(10) || 'bridge banner padding padding ' ||
                   (doc_id % 40)::VARCHAR AS text
          FROM documents
        ), ld AS (
          SELECT DISTINCT
                 ('0x' || substring(md5(trim(line)), 1, 15))::BIGINT AS h,
                 doc_id
          FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                FROM banner)
          WHERE length(trim(line)) >= {min_len}
        ), ok AS (
          SELECT h FROM ld GROUP BY h
          HAVING count(*) >= 2 AND count(*) <= {cap}
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
          FROM ld a JOIN ld b ON a.h = b.h JOIN ok ON ok.h = a.h
          WHERE a.doc_id < b.doc_id
        ), edges AS (
          SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
        ), reach(node, lab) AS (
          SELECT u AS node, u AS lab FROM edges
          UNION
          SELECT e.u AS node, r.lab FROM edges e JOIN reach r ON r.node = e.v
        ), cc AS (
          SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node
        ), lab AS (
          SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
        ), sz AS (
          SELECT cluster_id, count(*) AS cluster_size FROM lab
          GROUP BY cluster_id
        )
    """


def _dedup_clusters_oracle_sql(min_len: int = 30, cap: int = 200) -> str:
    """DuckDB recomputation of q_dedup_clusters: same banner injection, same
    60-bit md5 line hash, same >=2 / <=cap line-sharing window, same pair
    join — and the connected-components closure itself recomputed as a
    WITH RECURSIVE min-label fixpoint, independently of the distributed
    alternating-star algorithm under test."""
    return _dedup_clusters_cte(min_len, cap) + """
        SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
               lab.doc_id = lab.cluster_id AS keep
        FROM lab JOIN sz USING (cluster_id)
        ORDER BY lab.doc_id
    """


def _dedup_representatives_oracle_sql(min_len: int = 30,
                                      cap: int = 200) -> str:
    """DuckDB recomputation of q_dedup_representatives: the identical
    closure chain as dedup_clusters (recursive fixpoint), then the same
    md5-derived quality score and the arg-max-quality / min-id-tiebreak
    representative replayed via row_number — value-exact."""
    return _dedup_clusters_cte(min_len, cap) + """
        , q AS (
          SELECT lab.doc_id, lab.cluster_id,
                 ('0x' || substring(md5(lab.doc_id::VARCHAR || ':q'),
                                    1, 15))::BIGINT % 1000 AS quality
          FROM lab
        ), rep AS (
          SELECT cluster_id, doc_id AS rep_id,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY quality DESC, doc_id) AS rn
          FROM q
        )
        SELECT q.doc_id, q.cluster_id, q.quality, rep.rep_id,
               q.doc_id = rep.rep_id AS is_rep
        FROM q JOIN rep ON rep.cluster_id = q.cluster_id AND rep.rn = 1
        ORDER BY q.doc_id
    """


def _stratified_sample_oracle_sql() -> str:
    """DuckDB recomputation of q_stratified_sample: the identical 60-bit
    md5 uniform ((key || '#' || seed) -> first 15 hex chars -> BIGINT /
    2^60) for both the mixture gate and the train/eval split — exact
    membership, not a statistical check."""
    space = float(1 << 60)
    case = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(MIX_RATES.items())
    )
    u = ("(('0x' || substring(md5(doc_id::VARCHAR || '#' || '{seed}'), 1, 15))"
         f"::BIGINT / {space})")
    return f"""
        SELECT doc_id, lang, source,
               CASE WHEN {u.format(seed='split')} < 0.02
                    THEN 'eval' ELSE 'train' END AS split
        FROM documents
        WHERE {u.format(seed='mix')} < CASE lang {case} ELSE 0.0 END
        ORDER BY doc_id
    """


def _asof_oracle_sql() -> str:
    """Oracle for q_asof_join via DuckDB's NATIVE ASOF LEFT JOIN — an
    independent implementation of backward as-of semantics (greatest right
    ts <= left ts per user), not a recomputation of the union+window plan
    under test."""
    return """
        SELECT l.event_id, l.user_id, l.event_type,
               r.event_id AS purchase_id,
               epoch_us(l.ts) - epoch_us(r.ts) AS us_since_purchase,
               round(r.value, 6) AS purchase_value
        FROM (SELECT * FROM events WHERE event_type <> 'purchase') l
        ASOF LEFT JOIN (
          SELECT user_id, ts, max(event_id) AS event_id,
                 arg_max(value, event_id) AS value
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id, ts
        ) r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id
    """


def _tfidf_oracle_sql(k: int = 5) -> str:
    """DuckDB recomputation of q_tfidf_terms: same tokenizer, same grouped
    counts, the same (N+1)/(df+1) ratio idf computed in the same operation
    order (so the doubles are bit-identical), same (score desc, term asc)
    ranking."""
    return rf"""
        WITH toks AS (
          SELECT source AS grp,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          FROM documents
        ), tf AS (
          SELECT grp, term, count(*) AS tf FROM toks
          WHERE term <> '' GROUP BY grp, term
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ), ng AS (
          SELECT count(DISTINCT source) AS n FROM documents
        ), scored AS (
          SELECT grp, term, tf, df,
                 tf::DOUBLE * ((n + 1)::DOUBLE / (df + 1)::DOUBLE) AS score
          FROM tf JOIN dfreq USING (term), ng
        ), ranked AS (
          SELECT grp AS source, term, tf, df, score,
                 row_number() OVER (
                   PARTITION BY grp ORDER BY score DESC, term ASC) AS rank
          FROM scored
        )
        SELECT * FROM ranked WHERE rank <= {k} ORDER BY source, rank
    """


def _pack_oracle_sql(capacity: int = 512) -> str:
    """DuckDB recomputation of q_pack_sequences: the same per-source
    running-sum window and the same floor/mod integer geometry."""
    return rf"""
        WITH t AS (
          SELECT doc_id, source,
                 len(regexp_split_to_array(lower(trim(text)), '\s+'))::BIGINT
                   AS n_tokens
          FROM documents
        ), c AS (
          SELECT *, coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                 AS cum0
          FROM t
        )
        SELECT doc_id, source, n_tokens,
               floor(cum0 / {capacity})::BIGINT AS seq_id,
               (cum0 % {capacity})::BIGINT AS seq_offset,
               floor((cum0 + greatest(n_tokens, 1) - 1) / {capacity})::BIGINT
                 AS end_seq_id,
               floor((cum0 + greatest(n_tokens, 1) - 1) / {capacity})
                 > floor(cum0 / {capacity}) AS spans_boundary
        FROM c ORDER BY doc_id
    """


def _pii_oracle_sql() -> str:
    """DuckDB recomputation of q_pii_redact: same injected contact footer,
    the same email -> ipv4 -> phone count+replace chain, built from the
    SAME PII_PATTERNS tuple the Spark operator uses (patterns restricted
    to the Java/RE2-identical regex subset)."""
    from llm_scraper_spark.operators.text_analysis import PII_PATTERNS

    ctes = ["""inj AS (
          SELECT doc_id,
                 text || chr(10) || 'contact: user' || doc_id::VARCHAR
                      || '@example.com or +1 555-01'
                      || lpad((doc_id % 100)::VARCHAR, 2, '0')
                      || ' at 10.0.' || (doc_id % 256)::VARCHAR || '.7' AS t0
          FROM documents
        )"""]
    counts = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        p = pat.replace("'", "''")
        ctes.append(
            f"""r{i + 1} AS (
          SELECT doc_id,
                 len(regexp_extract_all(t{i}, '{p}'))::INT AS n_{name},
                 regexp_replace(t{i}, '{p}', '{repl}', 'g') AS t{i + 1}
          FROM r{i} """.replace("FROM r0", "FROM inj") + ")"
        )
        counts.append(f"n_{name}")
    last = len(PII_PATTERNS)
    joins = " ".join(
        f"JOIN r{i + 1} USING (doc_id)" for i in range(last))
    return f"""
        WITH {", ".join(ctes)}
        SELECT inj.doc_id, {", ".join(counts)},
               md5(t{last}) AS redacted_md5
        FROM inj {joins}
        ORDER BY inj.doc_id
    """


def _minhash_cte_prefix(bands: int = 4, rows: int = 8, n_shingle: int = 3,
                        max_bucket: int = 200,
                        docs_sql: str | None = None) -> str:
    """The shared DuckDB CTE chain recomputing the MinHash+LSH candidate
    pipeline (md5 family): 3-gram shingles, 32 md5-carved 32-bit
    permutation hashes, banded LSH with the bucket-size cap, distinct
    pairs. Ends after the ``pairs`` CTE — callers append their own SELECT
    (signature-agreement estimate, exact shingle-set Jaccard, ...).
    ``docs_sql`` overrides the (doc_id, text) source (default: the
    ``documents`` view)."""
    k = bands * rows
    sig_exprs = []
    for p in range(k):
        g, j = divmod(p, 4)
        sig_exprs.append(
            "list_min(list_transform(s, x -> ('0x' || "
            f"substring(md5(x || '#' || '{g}'), {1 + 8 * j}, 8))::BIGINT))"
        )
    band_selects = []
    for j in range(bands):
        parts = " || ',' || ".join(
            f"sig[{j * rows + i + 1}]::VARCHAR" for i in range(rows)
        )
        band_selects.append(
            f"SELECT doc_id, {j} AS band_idx, "
            f"md5({parts} || ',' || '{j}') AS band_hash FROM sigs"
        )
    src = f"({docs_sql})" if docs_sql else "documents"
    return rf"""
        WITH toks AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
          FROM {src}
        ), sh AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(w) - {n_shingle - 1}, 0) + 1),
                                i -> {" || ' ' || ".join(f"w[i+{d}]" for d in range(n_shingle))}) AS s
          FROM toks
        ), sigs AS (
          SELECT doc_id, [{", ".join(sig_exprs)}] AS sig FROM sh WHERE len(s) >= 1
        ), bands AS (
          {" UNION ALL ".join(band_selects)}
        ), bsz AS (
          SELECT band_idx, band_hash, count(*) AS c FROM bands GROUP BY 1, 2
        ), ok AS (
          SELECT band_idx, band_hash FROM bsz WHERE c > 1 AND c <= {max_bucket}
        ), inb AS (
          SELECT b.* FROM bands b JOIN ok USING (band_idx, band_hash)
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM inb a JOIN inb b USING (band_idx, band_hash)
          WHERE a.doc_id < b.doc_id
        )"""


def _minhash_oracle_sql(bands: int = 4, rows: int = 8, n_shingle: int = 3,
                        max_bucket: int = 200) -> str:
    """DuckDB recomputation of q_minhash_neardup_md5: the shared candidate
    pipeline plus the signature-agreement estimate."""
    k = bands * rows
    return _minhash_cte_prefix(bands, rows, n_shingle, max_bucket) + rf"""
        SELECT p.id_a, p.id_b,
               len(list_filter(range(1, {k + 1}), i -> sa.sig[i] = sb.sig[i]))::INT AS n_match,
               len(list_filter(range(1, {k + 1}), i -> sa.sig[i] = sb.sig[i])) / {k}.0 AS est_jaccard
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
    """


def _ngram_jaccard_oracle_sql(bands: int = 4, rows: int = 8,
                              n_shingle: int = 3,
                              max_bucket: int = 200) -> str:
    """DuckDB recomputation of q_ngram_jaccard: the shared candidate
    pipeline plus EXACT shingle-set Jaccard |A∩B|/|A∪B| per pair (the
    verification stage ngram_jaccard_pairs adds after LSH)."""
    k = bands * rows
    return _minhash_cte_prefix(bands, rows, n_shingle, max_bucket) + rf"""
        , ssets AS (
          SELECT doc_id, list_distinct(s) AS ss FROM sh WHERE len(s) >= 1
        )
        SELECT p.id_a, p.id_b,
               len(list_filter(range(1, {k + 1}), i -> sa.sig[i] = sb.sig[i]))::INT AS n_match,
               len(list_intersect(ca.ss, cb.ss))
                 / len(list_distinct(list_concat(ca.ss, cb.ss))) AS jaccard
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b
        JOIN ssets ca ON ca.doc_id = p.id_a
        JOIN ssets cb ON cb.doc_id = p.id_b
        ORDER BY p.id_a, p.id_b
    """


def _simhash_oracle_sql(n_bits: int = 60) -> str:
    """DuckDB recomputation of q_simhash: per-token 60-bit md5 value,
    per-bit +/-1 sums, fingerprint = sum of (1<<b) where sum_b > 0."""
    sums = ", ".join(
        f"sum(CASE WHEN ((v >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(n_bits)
    )
    return rf"""
        WITH t AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          FROM documents
        ), h AS (
          SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS v FROM t
        ), s AS (
          SELECT doc_id, {sums} FROM h GROUP BY doc_id
        )
        SELECT doc_id, ({fp}) AS simhash FROM s
    """


def q_crawl_diff(spark, sf_dir):
    """Incremental-crawl snapshot diff (crawl_snapshot_diff): two
    deterministic crawl snapshots are derived from events (prev holds
    every url except multiples of 7, curr every url except multiples of
    5; curr keeps prev's fingerprint on multiples of 3 and redraws it
    otherwise, both from the 60-bit md5 family), then each URL is
    classified new / vanished / changed / unchanged by ONE full-outer
    join. All four statuses occur; the oracle replays the same closed
    forms through DuckDB's FULL OUTER JOIN — a complete independent
    recompute."""
    from llm_scraper_spark.operators.frontier import crawl_snapshot_diff

    ids = _t(spark, sf_dir, "events").select("event_id").distinct()
    url = F.concat(F.lit("u"), F.col("event_id").cast("string"))
    fp_a = (_md5_60bit(F.col("event_id"), ":pa") % 5).cast("string")
    fp_b = (_md5_60bit(F.col("event_id"), ":pb") % 5).cast("string")
    prev = ids.filter(F.col("event_id") % 7 != 0).select(
        url.alias("url"), fp_a.alias("fingerprint"))
    curr = ids.filter(F.col("event_id") % 5 != 0).select(
        url.alias("url"),
        F.when(F.col("event_id") % 3 == 0, fp_a)
        .otherwise(fp_b).alias("fingerprint"))
    return crawl_snapshot_diff(prev, curr).orderBy("url")


def q_anchor_terms(spark, sf_dir):
    """Anchor-text rollup (anchor_topk_terms): a deterministic link graph
    with 3-word anchor texts is synthesized from events via the 60-bit
    md5 family (40 source hosts, 25 targets, 8-word vocabulary per slot),
    then the top-3 anchor terms per target are computed by explode ->
    map-side-combined count -> WindowGroupLimit top-k with a
    deterministic term tie-break. The oracle rebuilds the identical
    anchors and replays split/unnest/count/row_number in DuckDB."""
    from llm_scraper_spark.operators.graph import anchor_topk_terms

    ev = _t(spark, sf_dir, "events").select("event_id")

    def word(tag, m):
        return F.concat(F.lit("w"), (_md5_60bit(F.col("event_id"), tag) % m)
                        .cast("string"))

    edges = ev.select(
        F.concat(F.lit("h"), (_md5_60bit(F.col("event_id"), ":as") % 40)
                 .cast("string")).alias("src"),
        F.concat(F.lit("h"), (_md5_60bit(F.col("event_id"), ":ad") % 25)
                 .cast("string")).alias("dst"),
        F.concat_ws(" ", word(":a0", 8), word(":a1", 8),
                    word(":a2", 8)).alias("anchor"),
    )
    out = anchor_topk_terms(edges, k=3)
    return (out.select("dst", "term", "n",
                       F.col("rank").alias("term_rank"))
            .orderBy("dst", "term_rank"))


STREAM_WIN_BASE = 1_700_000_000


def q_stream_windowed_counts(spark, sf_dir):
    """Event-time windowed streaming aggregation under the driver gate:
    stream_windowed_counts (tumbling 10s windows + 5s watermark, append
    mode) driven over 3 ascending-event-time micro-batches derived from
    documents (ts = base + doc_id % 97, host = source) plus two
    far-future sentinel rows whose only job is to push the watermark past
    every real window (append mode emits a window only once the watermark
    passes its end, one trigger later). The cumulative emitted set is
    then exactly the batch GROUP BY of the real rows, which the oracle
    recomputes closed-form (no timestamps needed: window_start =
    base + (off DIV 10)*10). Watermark eviction is what bounds streaming
    state at 100 TB-feed scale — this gates that the bounded-state path
    emits complete, exact counts."""
    import os
    import shutil
    import uuid

    from llm_scraper_spark.streaming.ingest import stream_windowed_counts

    tune_session(spark)
    run_id = uuid.uuid4().hex[:8]
    base = f"/tmp/spark_graft_stream_win_{run_id}"
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    feed = _t(spark, sf_dir, "documents").select(
        F.timestamp_seconds(F.lit(STREAM_WIN_BASE)
                            + F.col("doc_id") % 97).alias("ts"),
        F.col("source").alias("host"),
        (F.col("doc_id") % 97).alias("off"),
    )
    sentinel = spark.createDataFrame(
        [(STREAM_WIN_BASE + 10_000,), (STREAM_WIN_BASE + 10_001,)],
        "sec long",
    ).select(F.timestamp_seconds(F.col("sec")).alias("ts"),
             F.lit("zz_sentinel").alias("host"),
             F.lit(-1).alias("off"))
    out = stream_windowed_counts(spark, in_dir)
    qname = f"stream_win_{run_id}"
    query = (
        out.writeStream.outputMode("append").format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(base, "cp"))
        .start()
    )
    try:
        batches = [
            feed.filter(F.col("off") <= 32),
            feed.filter((F.col("off") > 32) & (F.col("off") <= 65)),
            feed.filter(F.col("off") > 65),
            sentinel.filter(F.col("sec") == STREAM_WIN_BASE + 10_000),
            sentinel.filter(F.col("sec") == STREAM_WIN_BASE + 10_001),
        ]
        for part in batches:
            (part.select("ts", "host").coalesce(1)
             .write.mode("append").parquet(in_dir))
            query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(base, ignore_errors=True)
    return (
        spark.table(qname)
        .filter(F.col("host") != "zz_sentinel")
        .select(F.col("window_start").cast("long").alias("window_start"),
                "host", "n_events")
        .orderBy("window_start", "host")
    )


def q_dedup_representatives(spark, sf_dir):
    """Canonical-doc selection over near-dup clusters
    (select_representatives): the dedup_clusters line-sharing closure
    assigns clusters, a deterministic md5-derived quality score
    (md5_60bit(doc_id, ':q') % 1000) ranks members, and each cluster
    keeps its highest-quality doc (ties -> smallest id) via ONE
    arg-min aggregate. The oracle replays the identical recursive-CTE
    closure plus the same quality/tiebreak rule via row_number —
    value-exact, fully recomputed."""
    from llm_scraper_spark.operators.dedup import (
        line_share_clusters,
        select_representatives,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncluster banner padding padding "),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("\nbridge banner padding padding "),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("text"),
    )
    assign = line_share_clusters(docs, hash_family="md5")
    quality = docs.select(
        "doc_id", (_md5_60bit(F.col("doc_id"), ":q") % 1000).alias("quality"))
    return select_representatives(assign, quality).orderBy("doc_id")


def q_warc_roundtrip(spark, sf_dir):
    """WARC archive round trip (write_warc -> read_warc): a deterministic
    response corpus is synthesized closed-form from events (uri, status,
    content type, and a repeat(md5)-derived body), written as real
    per-record-gzipped .warc.gz shards by a distributed applyInPandas
    sink (one task = one shard), then re-read via binaryFile +
    mapInPandas stdlib parsing. The driver compares uri/status/ctype plus
    payload length and payload md5 against a DuckDB recompute of the same
    closed forms — so the entire serialize/compress/split/parse chain
    must be byte-faithful for the hashes to agree."""
    import os
    import uuid

    from llm_scraper_spark.sources.warc import read_warc, write_warc

    run_id = uuid.uuid4().hex[:8]
    out_dir = os.path.join("/tmp", f"spark_graft_warc_{run_id}")
    ids = _t(spark, sf_dir, "events").select("event_id").distinct()
    records = ids.select(
        F.concat(F.lit("http://h"), (F.col("event_id") % 40).cast("string"),
                 F.lit(".example/p"), F.col("event_id").cast("string"))
        .alias("target_uri"),
        F.when(F.col("event_id") % 17 == 0, 404).otherwise(200)
        .cast("int").alias("http_status"),
        F.when(F.col("event_id") % 2 == 0, F.lit("text/html"))
        .otherwise(F.lit("text/plain")).alias("content_type"),
        F.encode(
            F.expr("repeat(md5(concat(cast(event_id as string), ':wb')), "
                   "cast(event_id % 3 + 1 as int))"), "utf-8",
        ).alias("payload"),
        (F.col("event_id") % 8).alias("file_id"),
    )
    write_warc(records, out_dir).collect()  # materialize the shards
    return (
        read_warc(spark, out_dir)
        .select("target_uri", "http_status", "content_type",
                F.length("payload").cast("long").alias("payload_len"),
                F.md5("payload").alias("payload_md5"))
        .orderBy("target_uri")
    )


def q_warc_cdx_fetch(spark, sf_dir):
    """CDX-indexed selective archive access (write_warc_cdx +
    fetch_warc_records): the same closed-form corpus as warc_roundtrip is
    written as .warc.gz shards, but access goes through the capture index
    — filter the slim CDX table to the 404 captures, then ranged-fetch
    ONLY those gzip members (the Common Crawl access model: scan cost
    scales with the selection, never the archive). The oracle recomputes
    the 404 subset's uri/ctype/body closed forms; payload md5 equality
    proves each ranged member round-tripped byte-faithfully."""
    import os
    import uuid

    from llm_scraper_spark.sources.warc import (
        fetch_warc_records,
        write_warc_cdx,
    )

    run_id = uuid.uuid4().hex[:8]
    out_dir = os.path.join("/tmp", f"spark_graft_warc_cdx_{run_id}")
    ids = _t(spark, sf_dir, "events").select("event_id").distinct()
    records = ids.select(
        F.concat(F.lit("http://h"), (F.col("event_id") % 40).cast("string"),
                 F.lit(".example/p"), F.col("event_id").cast("string"))
        .alias("target_uri"),
        F.when(F.col("event_id") % 17 == 0, 404).otherwise(200)
        .cast("int").alias("http_status"),
        F.when(F.col("event_id") % 2 == 0, F.lit("text/html"))
        .otherwise(F.lit("text/plain")).alias("content_type"),
        F.encode(
            F.expr("repeat(md5(concat(cast(event_id as string), ':wb')), "
                   "cast(event_id % 3 + 1 as int))"), "utf-8",
        ).alias("payload"),
        (F.col("event_id") % 8).alias("file_id"),
    )
    cdx = write_warc_cdx(records, out_dir)
    hits = cdx.filter(F.col("http_status") == 404)
    return (
        fetch_warc_records(spark, hits)
        .select("target_uri", "http_status", "content_type",
                F.length("payload").cast("long").alias("payload_len"),
                F.md5("payload").alias("payload_md5"))
        .orderBy("target_uri")
    )


def q_surt_keys(spark, sf_dir):
    """SURT canonical archive ordering (surt_key): a deterministic URL
    corpus with www-variants, mixed TLDs, and query strings is built
    closed-form from events, and each URL gets its sort-friendly reversed
    key (com,example,h7)/p123?q=4). Sorting a CDX table by this key makes
    every domain a contiguous range — per-domain selections become range
    scans instead of full-index filters. The whole transform is native
    expressions (plan-asserted UDF-free in tests); the oracle replays the
    identical lower/regexp/split/reverse/join chain in DuckDB."""
    from llm_scraper_spark.functions.urls import surt_key

    ids = _t(spark, sf_dir, "events").select("event_id").distinct()
    url = F.concat(
        F.when(F.col("event_id") % 3 == 0, F.lit("http://www."))
        .otherwise(F.lit("http://")),
        F.lit("h"), (F.col("event_id") % 40).cast("string"),
        F.when(F.col("event_id") % 2 == 0, F.lit(".example.com"))
        .otherwise(F.lit(".example.org")),
        F.lit("/p"), F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 5 == 0,
               F.concat(F.lit("?q="), (F.col("event_id") % 7).cast("string")))
        .otherwise(F.lit("")),
    )
    return (ids.select(url.alias("url"))
            .select("url", surt_key(F.col("url")).alias("surt"))
            .orderBy("url"))


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing sketches (Schleimer/Wilkerson/Aiken SIGMOD'03, the MOSS
    algorithm) over documents: md5 word-3-gram hashes, window-of-4
    minima, distinct per doc — the local-overlap detector (quoted
    passages, partial mirrors) that whole-doc MinHash misses. One
    codegen'd projection per doc + one distinct exchange. The oracle
    replays the identical gram/window/min chain with DuckDB list
    functions — value-exact, fully recomputed."""
    from llm_scraper_spark.operators.dedup import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (winnow_fingerprints(docs, k=3, w=4, hash_family="md5")
            .orderBy("doc_id", "fp"))


def q_trap_patterns(spark, sf_dir):
    """Crawler-trap detection (trap_patterns): a synthetic URL corpus
    where a quarter of URLs are calendar-maze pages (/cal/N/N templates,
    hundreds of distinct URLs per host) and the rest are digit-free
    article paths (each its own singleton template). Digit-normalization
    + one (host, pattern) hash aggregate flags exactly the calendar
    templates. The oracle rebuilds the same URLs and replays the
    normalization/count/threshold in DuckDB (regexp_replace with the 'g'
    flag — Spark's is global by default)."""
    from llm_scraper_spark.operators.frontier import trap_patterns

    ids = _t(spark, sf_dir, "events").select("event_id").distinct()
    url = F.concat(
        F.lit("http://h"), (F.col("event_id") % 12).cast("string"),
        F.lit(".example"),
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(F.lit("/cal/"), (F.col("event_id") % 17).cast("string"),
                     F.lit("/"), (F.col("event_id") % 29).cast("string")),
        ).otherwise(
            F.concat(F.lit("/doc-"),
                     F.translate(
                         F.substring(F.md5(F.col("event_id").cast("string")),
                                     1, 8),
                         "0123456789", "ghijklmnop")),
        ),
    )
    return (trap_patterns(ids.select(url.alias("url")), min_urls=10)
            .orderBy("host", "pattern"))


def q_mime_sniff(spark, sf_dir):
    """Magic-number MIME sniffing (sniff_mime_expr): nine payload
    families are synthesized closed-form — real magic prefixes (PNG,
    GIF89a, JPEG, PDF, gzip, zip, RIFF/WAVE, WARC/) plus an HTML text
    heuristic case — and the sniffer must label every one from CONTENT
    bytes alone. The oracle maps the same id->family closed form straight
    to the expected label, so any sniffing error on any family breaks the
    hash compare."""
    from llm_scraper_spark.operators.multimodal import sniff_mime_expr

    ids = _t(spark, sf_dir, "events").select("event_id").distinct()
    filler = F.encode(F.md5(F.col("event_id").cast("string")), "utf-8")
    b = F.col("event_id") % 9

    def lit_b(bs: bytes):
        return F.lit(bs)

    payload = (
        F.when(b == 0, F.concat(lit_b(b"\x89PNG\r\n\x1a\n"), filler))
        .when(b == 1, F.concat(lit_b(b"GIF89a"), filler))
        .when(b == 2, F.concat(lit_b(b"\xff\xd8\xff\xe0"), filler))
        .when(b == 3, F.concat(lit_b(b"%PDF-1.7 "), filler))
        .when(b == 4, F.concat(lit_b(b"\x1f\x8b\x08"), filler))
        .when(b == 5, F.concat(lit_b(b"PK\x03\x04"), filler))
        .when(b == 6, F.concat(lit_b(b"RIFF\x00\x00\x00\x00WAVE"), filler))
        .when(b == 7, F.concat(lit_b(b"WARC/1.0\r\n"), filler))
        .otherwise(F.concat(lit_b(b"  <!DOCTYPE html><html>"), filler))
    )
    return (
        ids.select("event_id", payload.alias("payload"))
        .select("event_id", sniff_mime_expr("payload").alias("mime"))
        .orderBy("event_id")
    )


def q_domain_rollup(spark, sf_dir):
    """Registrable-domain (eTLD+1) politeness grouping
    (registrable_domain): hosts with subdomain fanout across .com /
    .co.uk / .com.au are rolled up to their registrable domain — the
    grouping politeness budgets MUST use (per-hostname budgets would hit
    a 50-subdomain origin at 50x the intended rate). The oracle derives
    each host's true domain from the generator's closed form directly,
    so Spark must RE-DERIVE it from the host string (split/slice/PSL
    decision) to match — ground-truth gating, not replay."""
    from llm_scraper_spark.functions.urls import registrable_domain

    ids = _t(spark, sf_dir, "events").select("event_id").distinct()
    suffix = (
        F.when(F.col("event_id") % 3 == 0, F.lit(".com"))
        .when(F.col("event_id") % 3 == 1, F.lit(".co.uk"))
        .otherwise(F.lit(".com.au"))
    )
    host = F.concat(
        F.lit("sub"), (F.col("event_id") % 5).cast("string"), F.lit("."),
        F.lit("site"), (F.col("event_id") % 23).cast("string"), suffix)
    return (
        ids.select(host.alias("host"))
        .select("host", registrable_domain(F.col("host")).alias("domain"))
        .groupBy("domain")
        .agg(F.countDistinct("host").alias("n_hosts"),
             F.count(F.lit(1)).alias("n_urls"))
        .orderBy("domain")
    )


def q_temperature_sample(spark, sf_dir):
    """Temperature-smoothed mixture sampling (temperature_sample, the
    mBERT/XLM-R/mT5 alpha rule): per-source weights w_i = floor(n_i^0.5 *
    1e6) as integers (pow's 1-ulp libm spread cannot move the floor),
    integer-summed normalization, one IEEE division/multiply for the rate,
    membership = the md5 60-bit uniform < rate. Every step is
    correctly-rounded-identical across engines, so the oracle recomputes
    EXACT membership — sampled ids, not sample statistics."""
    from llm_scraper_spark.operators.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        temperature_sample(docs, alpha=0.5, boost=3, seed="temp")
        .select("doc_id", "source", "rate")
        .orderBy("doc_id")
    )


def q_winnow_pairs(spark, sf_dir):
    """Winnowing candidate pairs (winnow_pairs): every doc gets a 6-token
    group-tagged suffix (q<g> w<g> ... y<g>, g = doc_id % 97), so by the
    SIGMOD'03 guarantee all docs in a group share at least one
    fingerprint that is group-specific (the suffix is one full window),
    while fingerprints from the documents' common phrasing hit the
    megaclique cap. The slim (fp, id) self-join then yields exactly the
    within-group pairs plus any true text overlap — and the oracle
    replays fingerprinting AND the capped pair join in DuckDB,
    value-exact including n_shared."""
    from llm_scraper_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    g = (F.col("doc_id") % 97).cast("string")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 *[x for t in "qwerty"
                   for x in (F.lit(f" {t}"), g)]).alias("text"),
    )
    fps = winnow_fingerprints(docs, k=3, w=4, hash_family="md5")
    return (winnow_pairs(fps, min_shared=1, max_docs_per_fp=200)
            .orderBy("a", "b"))


def q_substring_dedup(spark, sf_dir):
    """Exact duplicated-substring removal spans (Lee et al. 2022
    ExactSubstr, arXiv:2107.06499), distributed formulation: every 5-token
    n-gram is 60-bit md5-hashed; an n-gram seen in >= 2 distinct docs marks
    a duplicated window, and overlapping windows merge into maximal
    [span_start, span_end) token spans — the substrings a trainer cuts.
    The oracle replays the whole chain (tokenize -> gram -> hash -> cross-
    doc count -> hit join -> interval merge) in DuckDB, value-exact.
    Production hash family is xxhash64 (same plan, 64-bit hashes)."""
    from llm_scraper_spark.operators.dedup import duplicated_substring_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _run_small(spark, lambda: duplicated_substring_spans(
        docs, window=5, min_docs=2, hash_family="md5"
    ).orderBy("doc_id", "span_start"))


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog cardinality sketch (Flajolet et al. 2007):
    distinct event_ids per event_type, m=256 registers derived from a
    60-bit md5 hash so the ENTIRE sketch — register indexes, max-rho
    values, the integer-scaled harmonic sum, and the estimate — is
    recomputed bit-for-bit by the DuckDB oracle. At ~2000 distinct keys
    per group this exercises the raw harmonic-mean branch (not just
    linear counting); exact counts ride along so the estimate's error is
    visible in the gated output. Production family is xxhash64."""
    from llm_scraper_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    est = hll_distinct(ev, "event_id", ["event_type"], p=8,
                       hash_family="md5")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("event_id").alias("n_exact"))
    return (
        est.join(exact, "event_type")
        .select("event_type", "n_exact", "n_registers", "hll_estimate")
        .orderBy("event_type")
    )


def q_lm_score(spark, sf_dir):
    """Hashed-bigram LM quality scoring (the CCNet perplexity-filter shape,
    Wenzek et al. 2020, with DSIR's hashed-n-gram model bounding): train
    add-one-smoothed bigram bucket counts (2^16 buckets — fixed-size,
    broadcastable model no matter the corpus size), score every doc's
    per-token log-probability. Per-term ln is quantized to 1e4 fixed point
    and summed as BIGINT, so the oracle recomputes ll_fp exactly."""
    from llm_scraper_spark.operators.lm import lm_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_score(docs, buckets_pow=16).orderBy("doc_id")


def q_dsir_resample(spark, sf_dir):
    """DSIR importance resampling (Xie et al., NeurIPS 2023): hashed-
    unigram importance weights ln(p_target/q_raw) per 2^14 bucket (target =
    src0/src1 docs), per-doc BIGINT scores, then deterministic
    Gumbel-top-50 resampling — the Gumbel noise derives from the md5
    content hash, so selection is a pure function of (doc_id, seed) and
    the oracle replays weights, scores, Gumbel keys, and the final top-k
    ordering end-to-end."""
    from llm_scraper_spark.operators.lm import (
        dsir_resample,
        dsir_scores,
        dsir_weights,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    w = dsir_weights(docs, target, buckets_pow=14)
    scores = dsir_scores(docs, w, buckets_pow=14)
    return dsir_resample(scores, k=50).select(
        "doc_id", "n_tokens", "score_fp", "avg_log_ratio", "gumbel_key_fp")


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted reservoir sample (Efraimidis-Spirakis A-ES):
    50 docs sampled without replacement proportional to n_chars, ranked by
    fixed-point -ln(u)/w keys with u the md5 content-hash uniform. The
    oracle recomputes every key and the top-k ordering; the Spark plan is
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    from llm_scraper_spark.operators.sampling import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_topk(docs, k=50, weight_col="n_chars")


def q_semantic_dedup(spark, sf_dir):
    """Semantic dedup (SemDeDup, Abbas et al. 2023 arXiv:2303.09540):
    group embedding-space near-duplicates and keep one representative per
    group. Their setup partitions with k-means then thresholds cosine
    within a cluster; here the partitioner is the md5-Rademacher sign-LSH
    bucket (goldenless, engine-replayable) and the epsilon-ball becomes
    cosine >= 0.30 pairs -> connected components -> keep the min id. The
    oracle rebuilds the full chain: sign matrix, fixed-point projections,
    bucket pair join, sequential-fold cosine, WITH RECURSIVE closure, and
    the keep flags."""
    from llm_scraper_spark.operators.dedup import (
        connected_components,
        embedding_near_dups,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups(emb, threshold=0.30, planes=6, seed=42,
                                dim=64, hash_family="md5")
    cc = connected_components(pairs)
    lab = (
        emb.select("vec_id")
        .join(cc.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select("vec_id",
                F.coalesce("cluster_id", "vec_id").alias("cluster_id"))
    )
    sz = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        lab.join(sz, "cluster_id")
        .select("vec_id", "cluster_id", "cluster_size",
                (F.col("vec_id") == F.col("cluster_id")).alias("keep"))
        .orderBy("vec_id")
    )


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimates: a depth-4 x 256-bucket sketch over event user_ids, point-
    queried for every distinct user and joined to exact counts — the
    one-sided overestimate property is visible in the gated output (a few
    collided users estimate high, never low). The md5-salted hash rows
    make the sketch deterministic, so the oracle rebuilds the identical
    table and estimates. Production family is xxhash64 at 2^12+ width."""
    from llm_scraper_spark.operators.sketches import (
        cms_point_estimates,
        cms_table,
    )

    ev = _t(spark, sf_dir, "events")
    cms = cms_table(ev, "user_id", depth=4, width_pow=8, hash_family="md5")
    est = cms_point_estimates(cms, ev.select("user_id"), "user_id",
                              depth=4, width_pow=8, hash_family="md5")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return exact.join(est, "user_id").select(
        "user_id", "n_exact", "cms_estimate").orderBy("user_id")


def q_stream_url_dedup(spark, sf_dir):
    """Streaming first-occurrence URL dedup under the driver gate:
    dropDuplicatesWithinWatermark over 3 micro-batches of a URL discovery
    feed where every doc_id maps onto one of 120 canonical URLs (so each
    URL arrives ~4x, within and across batches). Duplicate arrivals carry
    IDENTICAL (ts, url) payloads, so whichever copy survives, the emitted
    set equals the batch DISTINCT — which the oracle recomputes
    closed-form. Gates that the bounded-state streaming dedup path drops
    every re-arrival and emits every URL exactly once."""
    import os
    import shutil
    import uuid

    from llm_scraper_spark.streaming.ingest import stream_url_dedup

    tune_session(spark)
    run_id = uuid.uuid4().hex[:8]
    base = f"/tmp/spark_graft_stream_dedup_{run_id}"
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    feed = _t(spark, sf_dir, "documents").select(
        F.timestamp_seconds(F.lit(STREAM_WIN_BASE)
                            + F.col("doc_id") % 120).alias("ts"),
        F.concat(F.lit("http://h"), (F.col("doc_id") % 120).cast("string"),
                 F.lit(".example.com/p")).alias("url"),
        F.col("doc_id").alias("_id"),
    )
    out = stream_url_dedup(spark, in_dir)
    qname = f"stream_dedup_{run_id}"
    query = (
        out.writeStream.outputMode("append").format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(base, "cp"))
        .start()
    )
    try:
        n = feed.count()
        cuts = (n // 3, 2 * n // 3)
        batches = [
            feed.filter(F.col("_id") < cuts[0]),
            feed.filter((F.col("_id") >= cuts[0]) & (F.col("_id") < cuts[1])),
            feed.filter(F.col("_id") >= cuts[1]),
        ]
        for part in batches:
            (part.select("ts", "url").coalesce(1)
             .write.mode("append").parquet(in_dir))
            query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(base, ignore_errors=True)
    return (
        spark.table(qname)
        .select(F.col("ts").cast("long").alias("ts_sec"), "url")
        .orderBy("url")
    )


def q_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct sketch (Bar-Yossef et al. 2002, the theta-
    sketch core): per event_type, the 64 smallest distinct md5-60bit
    event_id hashes; estimate = 63 * 2^60 / h_64. Unlike HLL the kept
    hashes double as a uniform mergeable sample of distinct keys. The
    oracle rebuilds the distinct-hash set, the bottom-k ranking, and the
    estimate exactly; Spark's rank<=k plans as WindowGroupLimit
    (per-partition bottom-k heaps). xxhash64 is the scale family."""
    from llm_scraper_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "event_id", ["event_type"], k=64, hash_family="md5")
    est = kmv_estimate(sk, ["event_type"], k=64)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("event_id").alias("n_exact"))
    return est.join(exact, "event_type").select(
        "event_type", "n_kept", "kmv_estimate", "n_exact"
    ).orderBy("event_type")


def q_mixture_build(spark, sf_dir):
    """The composed training-mixture build — the session-3 curation
    operators chained the way a real corpus run chains them:
    (1) hashed-bigram LM quality gate (INTEGER comparison
        ll_fp >= -77000 * n_bigrams, i.e. avg logprob >= -7.70 — exact on
        both engines, no float threshold),
    (2) duplicated-content gate (at most half the doc's 5-grams appear in
        other docs: 2 * n_dup <= n_grams),
    (3) DSIR importance resampling of the survivors toward the src0/src1
        target (Gumbel-top-100, seed 'mix').
    Each stage is an individually-oracled operator; this query gates the
    COMPOSITION end-to-end, like curation_pipeline does for the round-2
    funnel."""
    from llm_scraper_spark.operators.dedup import duplicated_gram_counts
    from llm_scraper_spark.operators.lm import (
        dsir_resample,
        dsir_scores,
        dsir_weights,
        lm_score,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    lm = lm_score(docs, buckets_pow=16).select(
        "doc_id", "n_bigrams", "ll_fp")
    dup = duplicated_gram_counts(docs, window=5, hash_family="md5")
    kept = (
        docs.join(lm, "doc_id").join(dup, "doc_id")
        .filter(F.col("ll_fp") >= F.lit(-77000) * F.col("n_bigrams"))
        .filter(F.lit(2) * F.col("n_dup") <= F.col("n_grams"))
    )
    w = dsir_weights(docs, docs.filter(F.col("source").isin("src0", "src1")),
                     buckets_pow=14)
    scores = dsir_scores(kept, w, buckets_pow=14)
    sel = dsir_resample(scores, k=100, seed="mix")
    return (
        sel.join(kept.select("doc_id", "source", "n_bigrams", "ll_fp",
                             "n_grams", "n_dup"), "doc_id")
        .select("doc_id", "source", "n_bigrams", "ll_fp", "n_grams",
                "n_dup", "score_fp", "gumbel_key_fp")
        .orderBy(F.desc("gumbel_key_fp"), "doc_id")
    )


def q_aimd_budgets(spark, sf_dir):
    """AIMD adaptive politeness budgets (TCP congestion control applied
    to per-host fetch rates): a >=50%-failure wave halves the next wave's
    budget, a healthy wave adds one, all integer arithmetic. History is
    synthesized closed-form from documents (host=source, wave=doc_id%6,
    failure = n_chars%3==0), and the DuckDB oracle replays the sequential
    per-host recurrence as a WITH RECURSIVE walk — value-exact against
    Spark's native aggregate-HOF fold."""
    from llm_scraper_spark.operators.frontier import aimd_budgets

    docs = _t(spark, sf_dir, "documents")
    hist = docs.groupBy(
        F.col("source").alias("host"),
        (F.col("doc_id") % 6).alias("wave"),
    ).agg(
        F.count(F.lit(1)).alias("n_attempted"),
        F.sum(F.when(F.col("n_chars") % 3 == 0, 1).otherwise(0))
        .alias("n_failed"),
    )
    return aimd_budgets(hist, init=8, cap=64).orderBy("host", "wave")


def q_media_content_dedup(spark, sf_dir):
    """Content-addressed media dedup: assets are deduped by the md5 of
    their DECODED pixel bytes, not their payload bytes — catching the
    same image shipped in different containers (PNG/GIF/JPEG of
    identical pixels share a pixel_md5 while payload hashes differ; the
    media analogue of canonicalize-before-hash for URLs, unit-tested
    cross-container in test_ops). Media refs are remapped onto 300
    canonical images so real duplicate groups exist; each group keeps
    its min asset_id. For this constant-color corpus the pixel bytes are
    a pure function of (w, h, r, g, b), so the oracle reproduces the
    exact dedup grouping closed-form from md5(ref) — no pixel hashing
    needed on the SQL side."""
    from llm_scraper_spark.operators.multimodal import (
        _payload_udf,
        content_key_udf,
    )
    from llm_scraper_spark.sources.synthetic import (
        build_documents_interleaved,
    )

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    media = docs.select(
        "doc_id",
        F.explode(F.filter("spans",
                           lambda s: s.kind == F.lit("media"))).alias("sp"),
    ).select(
        "doc_id",
        F.col("sp.media_ref").alias("media_ref"),
        F.col("sp.offset").alias("offset"),
    )
    ref2 = F.concat(
        F.lit("https://cdn.example.com/img/"),
        (F.regexp_extract("media_ref", r"(\d+)", 1).cast("long")
         % 300).cast("string"),
        F.lit(".jpg"),
    )
    sel = F.pmod(
        F.conv(F.substring(F.md5("ref2"), 5, 2), 16, 10).cast("int"),
        F.lit(3))
    assets = media.select(
        F.concat("doc_id", F.lit("#"),
                 F.col("offset").cast("string")).alias("asset_id"),
        ref2.alias("ref2"),
    ).select(
        "asset_id", "ref2",
        F.when(sel == 0, F.lit("image/png"))
        .when(sel == 1, F.lit("image/jpeg"))
        .otherwise(F.lit("image/gif")).alias("mime"),
        content_key_udf()(_payload_udf(F.col("ref2"))).alias("ck"),
    )
    win = W.partitionBy(F.col("ck.pixel_md5"))
    return assets.select(
        "asset_id", F.col("ref2").alias("media_ref"), "mime",
        F.col("ck.width").alias("width"),
        F.col("ck.height").alias("height"),
        F.col("ck.r").alias("r"), F.col("ck.g").alias("g"),
        F.col("ck.b").alias("b"),
        F.col("ck.uniform").alias("uniform"),
        (F.col("asset_id") == F.min("asset_id").over(win)).alias("keep"),
    ).orderBy("asset_id")


def q_inverted_index(spark, sf_dir):
    """Positional inverted index with gap-encoded, skew-capped posting
    lists (the Lucene-style artifact a crawled corpus feeds): per term,
    exact doc_freq/total_occurrences plus the first 1000 (doc,pos)
    postings delta-encoded — the cap plans as WindowGroupLimit so a
    stopword's corpus-wide postings are pruned map-side, never
    concentrated on one task. Postings are serialized 'gap:pos,...' so
    the oracle's replay (same ranking, same gaps) is string-exact."""
    from llm_scraper_spark.operators.corpus import inverted_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = inverted_index(docs, max_postings=1000)
    return idx.select(
        "term", "doc_freq", "total_occurrences", "n_postings",
        F.array_join(
            F.transform("postings",
                        lambda s: F.concat_ws(":", s["doc_gap"], s["pos"])),
            ",").alias("postings_str"),
    ).orderBy("term")


def q_host_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999) over the synthetic host
    graph — PageRank's complement for crawl prioritization (hubs are the
    index pages to re-crawl for discovery; authorities get the fetch
    budget). Integer BIGINT scores with the per-round normalization
    dropped (it only rescales the eigenvector), so the DuckDB oracle —
    all rounds unrolled as CTEs, the pagerank pattern — matches
    bit-for-bit."""
    from llm_scraper_spark.operators.graph import host_hits

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return host_hits(edges, iterations=3).orderBy("host")


def q_opic_scores(spark, sf_dir):
    """OPIC — Adaptive On-line Page Importance Computation (Abiteboul et
    al., WWW 2003) over the synthetic host graph: the crawl-time
    importance estimator production frontiers use instead of waiting for
    a PageRank fixpoint — cash moves along outlinks as pages are read,
    history banks what each page distributed, and importance = hist+cash
    is incrementally correct mid-crawl. Integer BIGINT cash units with
    DIV floor division make the distributed result bit-reproducible, so
    the DuckDB oracle (all 4 rounds unrolled as CTEs, the pagerank
    pattern) matches value-for-value. Dangling-host cash leaks rather
    than routing through the paper's virtual root (documented in
    operators/graph.py)."""
    from llm_scraper_spark.operators.graph import opic_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return (
        opic_scores(edges, iterations=4)
        .orderBy(F.desc("importance"), "host")
        .limit(100)
    )


def _opic_scores_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import opic_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return (
        opic_oracle_sql(edges_sql, iterations=4)
        + "\nORDER BY importance DESC, host LIMIT 100"
    )


DUST_HOSTS = 20


def _dust_pages(spark, sf_dir):
    """Deterministic (url, content_fp) crawl evidence from documents: every
    doc exists as its base URL and a ?sid= alias with IDENTICAL
    fingerprint (sid never changes content); a md5-selected third of docs
    also exist as ?page=2 with a DIFFERENT fingerprint (page is real
    pagination). Same derivation in the DuckDB oracle, bit-for-bit."""
    doc = F.col("doc_id").cast("string")
    h = (
        F.conv(F.substring(F.md5(F.concat(doc, F.lit(":h"))), 1, 15), 16, 10)
        .cast("long") % DUST_HOSTS
    )
    base = F.concat(
        F.lit("https://h"), h.cast("string"), F.lit(".example.com/d/"),
        F.substring(F.md5(doc), 1, 10),
    )
    fp = F.substring(F.md5(F.concat(doc, F.lit(":c"))), 1, 16)
    pagey = (
        F.conv(F.substring(F.md5(F.concat(doc, F.lit(":q"))), 1, 15), 16, 10)
        .cast("long") % 3 == 0
    )
    docs = _t(spark, sf_dir, "documents").select(
        base.alias("_base"), fp.alias("_fp"),
        F.substring(F.md5(F.concat(doc, F.lit(":x"))), 1, 6).alias("_sid"),
        F.substring(F.md5(F.concat(doc, F.lit(":p"))), 1, 16).alias("_fp2"),
        pagey.alias("_pagey"),
    )
    plain = docs.select(F.col("_base").alias("url"),
                        F.col("_fp").alias("content_fp"))
    sid = docs.select(
        F.concat(F.col("_base"), F.lit("?sid="), F.col("_sid")).alias("url"),
        F.col("_fp").alias("content_fp"))
    page = docs.filter("_pagey").select(
        F.concat(F.col("_base"), F.lit("?page=2")).alias("url"),
        F.col("_fp2").alias("content_fp"))
    return plain.unionByName(sid).unionByName(page)


_DUST_PAGES_SQL = f"""
  WITH d AS (
    SELECT 'https://h' ||
           (('0x' || substring(md5(doc_id::VARCHAR || ':h'), 1, 15))::BIGINT
             % {DUST_HOSTS})::VARCHAR ||
           '.example.com/d/' || substring(md5(doc_id::VARCHAR), 1, 10)
             AS _base,
           substring(md5(doc_id::VARCHAR || ':c'), 1, 16) AS _fp,
           substring(md5(doc_id::VARCHAR || ':x'), 1, 6) AS _sid,
           substring(md5(doc_id::VARCHAR || ':p'), 1, 16) AS _fp2,
           (('0x' || substring(md5(doc_id::VARCHAR || ':q'), 1, 15))::BIGINT
             % 3 = 0) AS _pagey
    FROM documents)
  SELECT _base AS url, _fp AS content_fp FROM d
  UNION ALL
  SELECT _base || '?sid=' || _sid, _fp FROM d
  UNION ALL
  SELECT _base || '?page=2', _fp2 FROM d WHERE _pagey"""


def q_dust_rules(spark, sf_dir):
    """DUST-style URL alias-rule mining (Bar-Yossef et al., WWW 2007):
    learn per-site content-irrelevant query parameters from the crawl's
    own (url, content-fingerprint) evidence — every (url, url-minus-param)
    pair that was crawled votes, equal fingerprints support the rule,
    differing ones veto it. The one string equi-join shuffles on the URL
    (the key frontier state already uses); rule aggregation is
    hosts x params, map-side combined. sid should validate on every host,
    page must be vetoed everywhere it appears (operators/dust.py)."""
    from llm_scraper_spark.operators.dust import mine_param_rules

    pages = _dust_pages(spark, sf_dir)
    return (
        mine_param_rules(pages, min_support=2, by_host=True)
        .orderBy("host", "param")
    )


def _dust_rules_oracle_sql() -> str:
    from llm_scraper_spark.operators.dust import mine_param_rules_oracle_sql

    return (
        mine_param_rules_oracle_sql(_DUST_PAGES_SQL, min_support=2,
                                    by_host=True)
        + "\nORDER BY host, param"
    )


def q_ewma_delay(spark, sf_dir):
    """EWMA-adaptive per-host crawl delay (Jacobson's smoothed-RTT rule
    applied to politeness): the latency-drift complement to AIMD budgets —
    a host slowing down gets backed off before it starts failing. Fetch
    latencies are synthesized closed-form from documents (host=source,
    wave=doc_id%6, latency from n_chars), per-(host,wave) floor-averaged,
    then folded per host with a native aggregate HOF in integer
    fixed-point; the DuckDB oracle replays the recurrence as a
    WITH RECURSIVE walk, value-exact (operators/frontier.py)."""
    from llm_scraper_spark.operators.frontier import ewma_crawl_delay

    docs = _t(spark, sf_dir, "documents")
    log = docs.select(
        F.col("source").alias("host"),
        (F.col("doc_id") % 6).alias("wave"),
        ((F.col("n_chars") % 900) + 20).cast("long").alias("latency_ms"),
    )
    return ewma_crawl_delay(log).orderBy("host", "wave")


_EWMA_LOG_SQL = """
  SELECT source AS host, doc_id % 6 AS wave,
         CAST((n_chars % 900) + 20 AS BIGINT) AS latency_ms
  FROM documents"""


def _ewma_delay_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import (
        ewma_crawl_delay_oracle_sql)

    return (ewma_crawl_delay_oracle_sql(_EWMA_LOG_SQL)
            + "\nORDER BY host, wave")


def q_host_communities(spark, sf_dir):
    """Label-propagation community detection (Raghavan et al. 2007) over
    the undirected synthetic host graph — crawl sharding: hosts that
    densely interlink land in one community, so routing each community to
    one executor group keeps frontier state, robots caches, and
    politeness windows local. Synchronous deterministic rounds with a
    (max count, min label) tie-break make the result partition-invariant;
    the DuckDB oracle unrolls all 3 rounds as CTEs with the identical
    argmax (operators/graph.py label_propagation)."""
    from llm_scraper_spark.operators.graph import label_propagation

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return label_propagation(edges, iterations=3).orderBy("host")


def _host_communities_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import label_propagation_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return (label_propagation_oracle_sql(edges_sql, iterations=3)
            + "\nORDER BY host")


def q_mercator_schedule(spark, sf_dir):
    """Mercator back-queue fetch schedule (Heydon & Najork 1999 §3.2):
    hosts pinned to one of 4 back queues (md5 mod — no host ever splits
    across workers), per-host FIFO positions spaced one crawl-delay
    apart, queues drained in (ready_ms, seq) order — the politeness
    scheduler's time dimension that schedule_wave's budget counts don't
    model. Integer end-to-end (mod-hash, row_number, multiply); two
    window exchanges, zero Python. Frontier synthesized from documents;
    per-host delay derived from the host name's md5."""
    from llm_scraper_spark.operators.frontier import mercator_schedule

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("source").alias("host"),
        F.col("doc_id").cast("long").alias("seq"),
        (F.conv(F.substring(F.md5(F.col("source")), 1, 15), 16, 10)
         .cast("long") % 1900 + 100).alias("delay_ms"),
    )
    return (mercator_schedule(frontier, 4, delay_col="delay_ms")
            .orderBy("queue", "queue_pos"))


def _mercator_schedule_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import mercator_oracle_sql

    frontier_sql = """
      SELECT 'https://' || source || '/d/' || doc_id::VARCHAR AS url,
             source AS host, doc_id::BIGINT AS seq,
             (('0x' || substring(md5(source), 1, 15))::BIGINT
              % 1900 + 100)::BIGINT AS delay_ms
      FROM documents"""
    return (mercator_oracle_sql(frontier_sql, 4, delay_sql="delay_ms")
            + "\nORDER BY queue, queue_pos")


def q_change_rate(spark, sf_dir):
    """Poisson change-rate estimation (Cho & Garcia-Molina, TOIT 2003
    §4.2): the consistent lambda estimator over the same synthetic
    revisit history recrawl_schedule uses — n/X/wave-span are exact
    BIGINTs, the estimate is ONE fixed-order ln/multiply/divide over
    exactly-representable integers floored to 1e6 fixed point (the
    bm25/lm_score discipline), and the revisit period is pure integer
    DIV, clamped to [1, 1024] waves. One window + one map-side-combined
    groupBy."""
    from llm_scraper_spark.operators.frontier import change_rate

    ev = _t(spark, sf_dir, "events").select("event_id")
    history = ev.select(
        F.concat(F.lit("u"), (F.col("event_id") % RECRAWL_URLS)
                 .cast("string")).alias("url"),
        F.expr(f"event_id DIV {RECRAWL_URLS}").alias("wave"),
        (_md5_60bit(F.col("event_id"), ":fp") % 3)
        .cast("string").alias("fingerprint"),
    )
    return change_rate(history).orderBy("url")


def _change_rate_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import change_rate_oracle_sql

    history_sql = f"""
      SELECT 'u' || (event_id % {RECRAWL_URLS})::VARCHAR AS url,
             event_id // {RECRAWL_URLS} AS wave,
             (('0x' || substring(md5(event_id::VARCHAR || ':fp'), 1,
                                 15))::BIGINT % 3)::VARCHAR AS fingerprint
      FROM events"""
    return change_rate_oracle_sql(history_sql) + "\nORDER BY url"


def q_url_entropy(spark, sf_dir):
    """Per-host URL-template entropy trap scoring (the statistical
    complement to trap_patterns' structural rules; IRLbot's
    infinite-URL-space signal): a md5-selected third of hosts mint
    unique letter-token paths (session-id style — survives the
    digit/hex template collapsing), the rest serve everything from two
    numeric templates. Entropy is exact fixed point — each template row
    contributes floor(1e6*c*ln(c)) BIGINT before the per-host sum, and
    the read-out ln(N) - S/N is integer arithmetic both engines replay.
    Two map-side-combined groupBys, no windows, no Python."""
    from llm_scraper_spark.operators.frontier import url_template_entropy

    docs = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id").cast("string")
    trap_host = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 15), 16, 10)
        .cast("long") % 3 == 0)
    path = F.when(
        trap_host,
        F.concat(F.lit("/s/"), F.translate(
            F.substring(F.md5(F.concat(doc, F.lit(":t"))), 1, 10),
            "0123456789", "ghijklmnop")),
    ).otherwise(
        F.concat(F.lit("/cat"), (F.col("doc_id") % 5).cast("string"),
                 F.lit("/item"), doc))
    urls = docs.select(
        F.concat(F.lit("https://"), F.col("source"), path).alias("url"))
    return (url_template_entropy(urls, min_urls=5,
                                 entropy_threshold_fp=1_500_000)
            .orderBy("host"))


def _url_entropy_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import (
        url_template_entropy_oracle_sql)

    urls_sql = """
      SELECT 'https://' || source ||
             CASE WHEN ('0x' || substring(md5(source), 1, 15))::BIGINT
                       % 3 = 0
                  THEN '/s/' || translate(
                         substring(md5(doc_id::VARCHAR || ':t'), 1, 10),
                         '0123456789', 'ghijklmnop')
                  ELSE '/cat' || (doc_id % 5)::VARCHAR
                       || '/item' || doc_id::VARCHAR
             END AS url
      FROM documents"""
    return (url_template_entropy_oracle_sql(
        urls_sql, min_urls=5, entropy_threshold_fp=1_500_000)
        + "\nORDER BY host")


def q_focused_relevance(spark, sf_dir):
    """Focused-crawl relevance propagation (shark/fish-search family)
    over the synthetic host graph: four seed hosts carry fixed-point
    topical scores; every other host earns a geometrically decayed
    (1/2 per hop) share of its most relevant in-neighbor, bounded to a
    3-hop radius. Max-propagation is skew-proof (map-side-combinable MAX
    per dst) and spam-resistant (many weak in-links never add up);
    integer max/DIV end-to-end, every round oracle-unrolled."""
    from llm_scraper_spark.operators.graph import relevance_propagation

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    seeds = spark.range(4).select(
        F.col("id").alias("host"),
        ((F.col("id") + 1) * F.lit(250_000)).cast("long").alias("rel_fp"))
    return relevance_propagation(edges, seeds, rounds=3).orderBy("host")


def _focused_relevance_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import (
        relevance_propagation_oracle_sql)

    seeds_sql = ("SELECT host::BIGINT AS host, rel_fp::BIGINT AS rel_fp "
                 "FROM (VALUES (0, 250000), (1, 500000), (2, 750000), "
                 "(3, 1000000)) AS t(host, rel_fp)")
    return (relevance_propagation_oracle_sql(
        _hyperball_edges_sql(), seeds_sql, rounds=3) + "\nORDER BY host")


def q_dust_rewrite(spark, sf_dir):
    """DUST rule APPLICATION (the payoff of dust_rules' mining): every
    crawled URL rewritten by stripping the parameters its host's
    validated rules cover — broadcast drop-set join + one native
    filter() HOF, no UDF, no extra shuffle. The oracle replays mining
    AND rewrite end-to-end, including the no-query / no-rules /
    all-params-dropped edge cases."""
    from llm_scraper_spark.operators.dust import (
        apply_param_rules, mine_param_rules)

    pages = _dust_pages(spark, sf_dir)
    rules = mine_param_rules(pages, min_support=2)
    return (apply_param_rules(pages, rules)
            .select("url", "rewritten_url").orderBy("url"))


def _dust_rewrite_oracle_sql() -> str:
    from llm_scraper_spark.operators.dust import (
        apply_param_rules_oracle_sql)

    return (apply_param_rules_oracle_sql(_DUST_PAGES_SQL, min_support=2)
            + "\nORDER BY url")


def q_incremental_dedup(spark, sf_dir):
    """Incremental near-dup gate (incremental_simhash_dedup): a new crawl
    batch (docs with doc_id%3==0) is checked against the existing corpus
    (the other two thirds) — batch texts are a md5-chosen mix of exact
    copies of a corpus doc, one-token-appended near copies, and the
    doc's own (novel) text, so all three outcomes occur. O(batch)
    recompute + bucket-capped 4-chunk blocking join against what would
    be a precomputed corpus signature table at scale; the oracle
    recomputes both sides' 60-bit fingerprints token-by-token plus the
    cap, verify, and min-(hamming,id) pick."""
    from llm_scraper_spark.operators.dedup import incremental_simhash_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    prev = docs.select(F.col("doc_id").alias("_pid"),
                       F.col("text").alias("_ptext"))
    mode = _md5_60bit(F.col("doc_id"), ":im") % 3
    batch = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .join(prev, F.col("_pid") == F.col("doc_id") - 1)
        .select(
            "doc_id",
            F.when(mode == 0, F.col("_ptext"))
            .when(mode == 1, F.concat(F.col("_ptext"), F.lit(" zq xv jk")))
            .otherwise(F.col("text")).alias("text"))
    )
    return (incremental_simhash_dedup(corpus, batch, hash_family="md5")
            .orderBy("doc_id"))


def _incremental_dedup_oracle_sql() -> str:
    from llm_scraper_spark.operators.dedup import (
        incremental_simhash_oracle_sql)

    corpus_sql = "SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0"
    batch_sql = """
      SELECT d.doc_id,
             CASE (('0x' || substring(md5(d.doc_id::VARCHAR || ':im'),
                                      1, 15))::BIGINT % 3)
               WHEN 0 THEN p.text
               WHEN 1 THEN p.text || ' zq xv jk'
               ELSE d.text END AS text
      FROM documents d JOIN documents p ON p.doc_id = d.doc_id - 1
      WHERE d.doc_id % 3 = 0"""
    return (incremental_simhash_oracle_sql(corpus_sql, batch_sql)
            + "\nORDER BY doc_id")


def q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection (Bharat & Broder WWW'99 at page-fingerprint
    granularity): each doc serves on host h<k>, a md5-chosen two thirds
    are mirrored onto m<k>, and a fifth of the mirrors add unique junk
    pages — so containment percents spread below 100 and host sizes
    differ. Hot fingerprints (served by more hosts than the cap) are
    excluded from pair evidence by construction of the operator; integer
    containment percent end-to-end."""
    from llm_scraper_spark.operators.dedup import mirror_hosts

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % 37).cast("string")
    fp = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                    F.lit(":mfp"))), 1, 12)
    orig = docs.select(F.concat(F.lit("h"), k).alias("host"),
                       fp.alias("content_fp"))
    mirrored = docs.filter(_md5_60bit(F.col("doc_id"), ":mr") % 3 != 0)
    mir = mirrored.select(F.concat(F.lit("m"), k).alias("host"),
                          fp.alias("content_fp"))
    junk = (docs.filter(_md5_60bit(F.col("doc_id"), ":mj") % 5 == 0)
            .select(F.concat(F.lit("m"), k).alias("host"),
                    F.substring(F.md5(F.concat(
                        F.col("doc_id").cast("string"), F.lit(":junk"))),
                        1, 12).alias("content_fp")))
    pages = orig.unionByName(mir).unionByName(junk)
    return (mirror_hosts(pages, min_shared=3, min_overlap_pct=40)
            .orderBy("host_a", "host_b"))


def _mirror_hosts_oracle_sql() -> str:
    from llm_scraper_spark.operators.dedup import mirror_hosts_oracle_sql

    pages_sql = """
      SELECT 'h' || (doc_id % 37)::VARCHAR AS host,
             substring(md5(doc_id::VARCHAR || ':mfp'), 1, 12) AS content_fp
      FROM documents
      UNION ALL
      SELECT 'm' || (doc_id % 37)::VARCHAR,
             substring(md5(doc_id::VARCHAR || ':mfp'), 1, 12)
      FROM documents
      WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':mr'),
                               1, 15))::BIGINT % 3 <> 0
      UNION ALL
      SELECT 'm' || (doc_id % 37)::VARCHAR,
             substring(md5(doc_id::VARCHAR || ':junk'), 1, 12)
      FROM documents
      WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':mj'),
                               1, 15))::BIGINT % 5 = 0"""
    return (mirror_hosts_oracle_sql(pages_sql, min_shared=3,
                                    min_overlap_pct=40)
            + "\nORDER BY host_a, host_b")


def _curation_docs(spark, sf_dir):
    """Shared (doc_id, host, tokens, quality_fp) feed for the
    domain-cap / budget-select curation queries — tokens and quality
    derived closed-form so both engines replay them."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("source").alias("host"),
        (F.expr("n_chars DIV 4") + 1).cast("long").alias("tokens"),
        (_md5_60bit(F.col("doc_id"), ":ql") % 100_000).cast("long")
        .alias("quality_fp"),
    )


_CURATION_DOCS_SQL = """
  SELECT doc_id, source AS host,
         (n_chars // 4 + 1)::BIGINT AS tokens,
         (('0x' || substring(md5(doc_id::VARCHAR || ':ql'), 1,
                             15))::BIGINT % 100000)::BIGINT AS quality_fp
  FROM documents"""


def q_domain_cap(spark, sf_dir):
    """Per-domain token-share cap (the C4/RefinedWeb diversity control):
    no host may exceed 1% of total corpus tokens; overflowing hosts drop
    their lowest-quality docs first. One per-host window + a broadcast
    scalar total — no global ordering; exact integer cap and
    cumulative-prefix rule, replayed by the oracle."""
    from llm_scraper_spark.operators.corpus import domain_cap

    return (domain_cap(_curation_docs(spark, sf_dir), cap_ppm=10_000)
            .orderBy("doc_id"))


def _domain_cap_oracle_sql() -> str:
    from llm_scraper_spark.operators.corpus import domain_cap_oracle_sql

    return (domain_cap_oracle_sql(_CURATION_DOCS_SQL, cap_ppm=10_000)
            + "\nORDER BY doc_id")


def q_budget_select(spark, sf_dir):
    """Token-budget corpus selection WITHOUT a global sort: quality is
    quantized into 5000-wide bins, the budget threshold is found on the
    tiny per-bin table, docs above the threshold are kept by a broadcast
    comparison and only the single boundary bin is ordered to fill the
    remainder — the histogram-threshold top-k that survives 100 TB where
    ORDER BY quality would single-partition. Exact integer protocol,
    boundary prefix rule identical to domain_cap's."""
    from llm_scraper_spark.operators.corpus import budget_select

    return (budget_select(_curation_docs(spark, sf_dir),
                          budget_tokens=30_000, bin_width=5_000)
            .orderBy("doc_id"))


def _budget_select_oracle_sql() -> str:
    from llm_scraper_spark.operators.corpus import budget_select_oracle_sql

    return (budget_select_oracle_sql(_CURATION_DOCS_SQL,
                                     budget_tokens=30_000, bin_width=5_000)
            + "\nORDER BY doc_id")


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val split: the split hashes the NEAR-DUP
    CLUSTER id (line-sharing connected components, same graph as
    dedup_clusters), so a val doc's near-twin can never sit in train —
    the contamination mode per-doc hashing cannot prevent. The oracle
    recomputes the whole chain: line hashing, megaclique cap, WITH
    RECURSIVE closure, and the split hash on the resulting label."""
    from llm_scraper_spark.operators.dedup import line_share_clusters
    from llm_scraper_spark.operators.sampling import cluster_split

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncluster banner padding padding "),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("\nbridge banner padding padding "),
            (F.col("doc_id") % 40).cast("string"),
        ).alias("text"),
    )
    clusters = line_share_clusters(docs, hash_family="md5").select(
        "doc_id", "cluster_id")
    return cluster_split(clusters, val_pct=20).orderBy("doc_id")


def _leakage_split_oracle_sql() -> str:
    from llm_scraper_spark.operators.sampling import cluster_split_sql_expr

    expr = cluster_split_sql_expr("lab.cluster_id", val_pct=20)
    return _dedup_clusters_cte() + f"""
        SELECT lab.doc_id, lab.cluster_id, {expr} AS split
        FROM lab ORDER BY lab.doc_id"""


def q_pld_rollup(spark, sf_dir):
    """Registered-domain (pay-level-domain) rollup — the aggregation
    level Common Crawl's webgraph ships alongside the host graph,
    because host-level stats overcount subdomain-sharded sites
    (blogspot/github-pages tenants). Hostnames are synthesized with
    md5-chosen subdomain depths and a suffix mix including multipart
    registries (co.uk, com.au); the PLD extraction is a pure native
    split/element_at/CASE chain over the embedded suffix subset, and the
    rollup counts distinct hosts and URLs per PLD."""
    from llm_scraper_spark.functions.urls import registered_domain

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id").cast("string")
    sub = (F.when(_md5_60bit(F.col("doc_id"), ":sd") % 4 == 0, "www.")
           .when(_md5_60bit(F.col("doc_id"), ":sd") % 4 == 1, "a.b.")
           .when(_md5_60bit(F.col("doc_id"), ":sd") % 4 == 2, "cdn.")
           .otherwise(""))
    name = F.concat(F.lit("site"), (F.col("doc_id") % 23).cast("string"))
    sfx = (F.when(_md5_60bit(F.col("doc_id"), ":sx") % 5 == 0, ".co.uk")
           .when(_md5_60bit(F.col("doc_id"), ":sx") % 5 == 1, ".com.au")
           .when(_md5_60bit(F.col("doc_id"), ":sx") % 5 == 2, ".org")
           .when(_md5_60bit(F.col("doc_id"), ":sx") % 5 == 3, ".net")
           .otherwise(".com"))
    hosts = docs.select(
        F.concat(sub, name, sfx).alias("host"), "doc_id")
    return (
        hosts.withColumn("pld", registered_domain("host"))
        .groupBy("pld")
        .agg(F.countDistinct("host").cast("long").alias("n_hosts"),
             F.count(F.lit(1)).cast("long").alias("n_urls"))
        .orderBy("pld")
    )


def _pld_rollup_oracle_sql() -> str:
    from llm_scraper_spark.functions.urls import registered_domain_sql_expr

    pld = registered_domain_sql_expr("host")
    return f"""
WITH h AS (
  SELECT (CASE (('0x' || substring(md5(doc_id::VARCHAR || ':sd'), 1,
                                   15))::BIGINT % 4)
            WHEN 0 THEN 'www.' WHEN 1 THEN 'a.b.' WHEN 2 THEN 'cdn.'
            ELSE '' END)
         || 'site' || (doc_id % 23)::VARCHAR
         || (CASE (('0x' || substring(md5(doc_id::VARCHAR || ':sx'), 1,
                                      15))::BIGINT % 5)
               WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com.au'
               WHEN 2 THEN '.org' WHEN 3 THEN '.net'
               ELSE '.com' END) AS host,
         doc_id
  FROM documents)
SELECT {pld} AS pld, count(DISTINCT host)::BIGINT AS n_hosts,
       count(*)::BIGINT AS n_urls
FROM h GROUP BY 1 ORDER BY pld"""


def q_degree_powerlaw(spark, sf_dir):
    """Out-degree distribution + Hill power-law exponent of the host
    graph (Clauset-Shalizi-Newman's MLE over the tail d >= k_min) — the
    heavy-tail constant that predicts frontier skew and sizes hot-host
    salting. Per-host floor(1e6*ln(d/k_min)) BIGINTs sum exactly under
    any partitioning; alpha is then pure integer arithmetic; the tiny
    summary broadcasts onto the degree histogram."""
    from llm_scraper_spark.operators.graph import degree_powerlaw

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return degree_powerlaw(edges, k_min=2).orderBy("degree")


def _degree_powerlaw_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import degree_powerlaw_oracle_sql

    return (degree_powerlaw_oracle_sql(_hyperball_edges_sql(), k_min=2)
            + "\nORDER BY degree")


def q_reciprocity(spark, sf_dir):
    """Per-host link reciprocity (Serrano & Boguñá 2003): the share of a
    host's distinct out-links answered by a link back, in integer ppm —
    separates editorial linking from extractive spam targeting and is
    the basic webgraph health statistic. One self-join of the distinct
    edge list against its reversal + one map-side-combined groupBy."""
    from llm_scraper_spark.operators.graph import reciprocity

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return reciprocity(edges).orderBy("host")


def _reciprocity_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import reciprocity_oracle_sql

    return (reciprocity_oracle_sql(_hyperball_edges_sql())
            + "\nORDER BY host")


def q_wilson_success(spark, sf_dir):
    """Per-host fetch-success ranking by the Wilson lower bound (z=2) —
    the confidence-adjusted sort that keeps a 3/3 host from outranking a
    96/100 one, feeding the retry/suspend tier. Counts are exact
    BIGINTs; the bound is one fixed-order sqrt expression (IEEE sqrt is
    correctly rounded, hence engine-identical) floored to 1e6 fixed
    point. Success flags derived md5-closed-form from documents."""
    from llm_scraper_spark.operators.frontier import wilson_success

    docs = _t(spark, sf_dir, "documents")
    history = docs.select(
        F.col("source").alias("host"),
        (_md5_60bit(F.col("doc_id"), ":ok") % 10 < 8).alias("ok"),
    )
    return wilson_success(history).orderBy("host")


def _wilson_success_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import (
        wilson_success_oracle_sql)

    history_sql = """
      SELECT source AS host,
             ('0x' || substring(md5(doc_id::VARCHAR || ':ok'), 1,
                                15))::BIGINT % 10 < 8 AS ok
      FROM documents"""
    return wilson_success_oracle_sql(history_sql) + "\nORDER BY host"


# excerpt ids are NEGATIVE (-doc_id - 1): disjoint from real doc_ids at
# EVERY scale factor (doc_id + K collides once the table exceeds K rows)
_CONTAINMENT_DOCS_SQL = r"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT -doc_id - 1,
         array_to_string(
           list_slice(regexp_split_to_array(lower(trim(text)), '\s+'),
                      1, 15), ' ')
  FROM documents WHERE doc_id % 20 = 0"""


def q_containment_pairs(spark, sf_dir):
    """Exact n-gram CONTAINMENT over LSH candidates (Broder's
    resemblance-vs-containment split): every 20th doc also exists as a
    15-token excerpt under a collision-proof negative id, so
    quotation/inclusion pairs score containment
    1e6 ppm from the excerpt side while Jaccard stays low — the case
    Jaccard-only verification misses. Permissive banding (16x2 over the
    same 32 md5-carved hashes) favors recall; all counts and both ppm
    directions are exact integers the oracle recomputes end-to-end."""
    from llm_scraper_spark.operators.dedup import ngram_containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 20 == 0).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                         1, 15)).alias("text"))
    inp = docs.unionByName(excerpts)
    return (ngram_containment_pairs(inp, bands=16, rows=2,
                                    hash_family="md5")
            .orderBy("id_a", "id_b"))


def _containment_pairs_oracle_sql() -> str:
    return _minhash_cte_prefix(bands=16, rows=2,
                               docs_sql=_CONTAINMENT_DOCS_SQL) + r"""
        , ssets AS (
          SELECT doc_id, list_distinct(s) AS ss FROM sh WHERE len(s) >= 1
        )
        SELECT p.id_a, p.id_b,
               len(list_intersect(ca.ss, cb.ss))::BIGINT AS n_common,
               len(ca.ss)::BIGINT AS n_a,
               len(cb.ss)::BIGINT AS n_b,
               ((1000000 * len(list_intersect(ca.ss, cb.ss)))
                // len(ca.ss))::BIGINT AS containment_a_ppm,
               ((1000000 * len(list_intersect(ca.ss, cb.ss)))
                // len(cb.ss))::BIGINT AS containment_b_ppm
        FROM pairs p
        JOIN ssets ca ON ca.doc_id = p.id_a
        JOIN ssets cb ON cb.doc_id = p.id_b
        ORDER BY p.id_a, p.id_b"""


def q_robots_wildcards(spark, sf_dir):
    """Full RFC 9309 robots matching — the wildcard upgrade of
    robots_gating's prefix rule: ``*`` runs, ``$`` end anchors, and
    longest-rule-octets-wins with Allow beating Disallow on ties. Each
    rule compiles to an anchored regex inside a transform() lambda
    (native, per-host arrays ride the broadcast join at scale); paths
    and three host rule profiles are synthesized closed-form, and the
    oracle replays the identical escape/anchor/longest-pick chain in
    RE2."""
    from llm_scraper_spark.operators.robots import robots_allowed_rep

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    host_k = (F.col("doc_id") % 9).cast("long")
    path = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("/cat"), (F.col("doc_id") % 5).cast("string"),
                        F.lit("/item"), F.col("doc_id").cast("string"),
                        F.lit(".php")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("/p"), F.col("doc_id").cast("string"),
                       F.lit("/x?s="), (F.col("doc_id") % 7).cast("string")))
        .otherwise(F.concat(F.lit("/fish"),
                            (F.col("doc_id") % 11).cast("string"),
                            F.lit(".html"))))
    arr = lambda *xs: F.array(*[F.lit(x) for x in xs])  # noqa: E731
    allow = (F.when(host_k % 3 == 0, arr("/cat1*", "/p*"))
             .when(host_k % 3 == 1, arr("/fish*"))
             .otherwise(arr()))
    disallow = (F.when(host_k % 3 == 0, arr("/*.php$", "/fish*", "/cat*"))
                .when(host_k % 3 == 1, arr("/*.html$", "/p*"))
                .otherwise(arr("/")))
    f = docs.select(
        "doc_id", F.concat(F.lit("h"), host_k.cast("string")).alias("host"),
        path.alias("path"), allow.alias("allow"), disallow.alias("disallow"))
    return f.select(
        "doc_id", "host", "path",
        robots_allowed_rep(F.col("path"), F.col("allow"),
                           F.col("disallow")).alias("allowed"),
    ).orderBy("doc_id")


def _robots_wildcards_oracle_sql() -> str:
    from llm_scraper_spark.operators.robots import (
        robots_allowed_rep_sql_expr)

    expr = robots_allowed_rep_sql_expr("path", "allow_r", "disallow_r")
    return f"""
WITH f AS (
  SELECT doc_id,
         'h' || (doc_id % 9)::VARCHAR AS host,
         CASE WHEN doc_id % 3 = 0
              THEN '/cat' || (doc_id % 5)::VARCHAR || '/item'
                   || doc_id::VARCHAR || '.php'
              WHEN doc_id % 3 = 1
              THEN '/p' || doc_id::VARCHAR || '/x?s='
                   || (doc_id % 7)::VARCHAR
              ELSE '/fish' || (doc_id % 11)::VARCHAR || '.html'
         END AS path,
         CASE ((doc_id % 9) % 3)
           WHEN 0 THEN ['/cat1*', '/p*']
           WHEN 1 THEN ['/fish*']
           ELSE [] END AS allow_r,
         CASE ((doc_id % 9) % 3)
           WHEN 0 THEN ['/*.php$', '/fish*', '/cat*']
           WHEN 1 THEN ['/*.html$', '/p*']
           ELSE ['/'] END AS disallow_r
  FROM documents)
SELECT doc_id, host, path, {expr} AS allowed
FROM f ORDER BY doc_id"""


def q_triangle_stats(spark, sf_dir):
    """Per-host triangles + local clustering over the undirected host
    graph via the degree-ordered node-iterator (Schank & Wagner 2005):
    edges orient low-(degree,id) -> high, bounding the wedge join's
    per-key fan-out by graph arboricity (~sqrt|E|) instead of
    max-degree — the orientation trick that makes triangle counting
    survive a 10^8-degree hub. Exact integers end-to-end; the oracle
    replays normalization, orientation, wedge close, and the ppm."""
    from llm_scraper_spark.operators.graph import triangle_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return triangle_stats(edges).orderBy("host")


def _triangle_stats_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import triangle_stats_oracle_sql

    return (triangle_stats_oracle_sql(_hyperball_edges_sql())
            + "\nORDER BY 1")


def q_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the undirected host graph —
    the web's signature disassortative mixing, whose sudden shift in a
    crawl snapshot flags link-farm wiring. Five exact-BIGINT sufficient
    statistics from one degree join + one aggregate; the Pearson
    read-out is a single fixed-order float expression floored to 1e6
    fixed point."""
    from llm_scraper_spark.operators.graph import assortativity

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return assortativity(edges)


def _assortativity_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import assortativity_oracle_sql

    return assortativity_oracle_sql(_hyperball_edges_sql())


def q_canonical_election(spark, sf_dir):
    """Canonical-URL election per content-duplicate group (the flip side
    of DUST mining, same evidence table): param-free beats
    parameterized, https beats http, shorter beats longer, lexicographic
    total-order tie-break — resolved with one skew-safe
    groupBy-min(struct) (the boilerplate fingerprint is a classic hot
    key a window would single-partition) + a join back. The oracle
    replays the identical composite order as a rank-1 window."""
    from llm_scraper_spark.operators.dust import canonical_url_election

    pages = _dust_pages(spark, sf_dir)
    return (canonical_url_election(pages)
            .orderBy("url"))


def _canonical_election_oracle_sql() -> str:
    from llm_scraper_spark.operators.dust import (
        canonical_url_election_oracle_sql)

    return (canonical_url_election_oracle_sql(_DUST_PAGES_SQL)
            + "\nORDER BY url")


def q_cdc_dedup(spark, sf_dir):
    """Content-defined chunking dedup (Rabin/LBFS applied to text):
    chunk boundaries fall after tokens whose md5 ≡ 0 (mod 16), so
    boundaries track CONTENT and a mid-document edit invalidates only the
    chunks it touches — the insertion-robust unit between line dedup and
    whole-doc near-dup. One per-doc cumulative window + two groupBys;
    per-doc dup_token_ppm is the token-weighted share of chunks shared
    with other docs. The oracle replays tokenization, the boundary rule,
    the strictly-before chunk ordinal, the ordered chunk rebuild, and
    the ppm."""
    from llm_scraper_spark.operators.dedup import cdc_dedup_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (cdc_dedup_stats(docs, modulus=16, hash_family="md5")
            .orderBy("doc_id"))


def _cdc_dedup_oracle_sql() -> str:
    from llm_scraper_spark.operators.dedup import cdc_dedup_oracle_sql

    return (cdc_dedup_oracle_sql("SELECT doc_id, text FROM documents",
                                 modulus=16) + "\nORDER BY doc_id")


def q_cache_policy(spark, sf_dir):
    """RFC 9111 freshness over a synthesized fetch log — the header-aware
    upgrade of the reference's single global result TTL
    (/root/reference/cache.py): no-cache/no-store beat max-age beat
    Expires beat the 10%-of-age heuristic, all integer arithmetic; the
    revalidable flag marks the cheap conditional-request (304) path a
    crawl's bandwidth budget lives on. Zero shuffles — one narrow
    projection the oracle replays expression-for-expression."""
    from llm_scraper_spark.operators.frontier import cache_policy

    docs = _t(spark, sf_dir, "documents")
    h = lambda tag: _md5_60bit(F.col("doc_id"), tag)  # noqa: E731
    log = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.lit(1_000_000) + (F.col("doc_id") % 5000)).cast("long")
        .alias("fetched_at"),
        F.when(h(":cc") % 5 == 0, F.lit("max-age=600"))
        .when(h(":cc") % 5 == 1, F.lit("no-store"))
        .when(h(":cc") % 5 == 2, F.lit("public, max-age=60, immutable"))
        .otherwise(F.lit(None).cast("string")).alias("cache_control"),
        F.when(h(":ex") % 3 == 0,
               (F.lit(1_002_000) + (F.col("doc_id") % 700)).cast("long"))
        .alias("expires_s"),
        F.when(h(":lm") % 4 == 0,
               (F.lit(990_000) + (F.col("doc_id") % 900)).cast("long"))
        .alias("last_modified_s"),
        F.when(h(":et") % 6 == 0,
               F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8))
        .alias("etag"),
    )
    return cache_policy(log, now_s=1_003_000).orderBy("url")


def _cache_policy_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import cache_policy_oracle_sql

    def h(tag):
        return (f"('0x' || substring(md5(doc_id::VARCHAR || '{tag}'), 1, "
                "15))::BIGINT")

    log_sql = f"""
      SELECT 'https://' || source || '/d/' || doc_id::VARCHAR AS url,
             (1000000 + doc_id % 5000)::BIGINT AS fetched_at,
             CASE WHEN {h(':cc')} % 5 = 0 THEN 'max-age=600'
                  WHEN {h(':cc')} % 5 = 1 THEN 'no-store'
                  WHEN {h(':cc')} % 5 = 2
                    THEN 'public, max-age=60, immutable'
             END AS cache_control,
             CASE WHEN {h(':ex')} % 3 = 0
                  THEN (1002000 + doc_id % 700)::BIGINT END AS expires_s,
             CASE WHEN {h(':lm')} % 4 = 0
                  THEN (990000 + doc_id % 900)::BIGINT
             END AS last_modified_s,
             CASE WHEN {h(':et')} % 6 = 0
                  THEN substring(md5(doc_id::VARCHAR), 1, 8) END AS etag
      FROM documents"""
    return cache_policy_oracle_sql(log_sql, now_s=1_003_000) \
        + "\nORDER BY url"


def q_zipf_terms(spark, sf_dir):
    """Zipf term-frequency tail of the corpus: the frequency histogram
    plus the Hill MLE exponent over terms with count >= 5 — the corpus
    health invariant (natural text's tail vs template/spam floods), on
    the same exact-fixed-point machinery as the host-graph degree fit.
    Two map-side-combined groupBys + a broadcast 2-value summary."""
    from llm_scraper_spark.operators.corpus import zipf_terms

    docs = _t(spark, sf_dir, "documents").select("text")
    return zipf_terms(docs, k_min=5).orderBy("count")


def _zipf_terms_oracle_sql() -> str:
    from llm_scraper_spark.operators.corpus import zipf_terms_oracle_sql

    return (zipf_terms_oracle_sql("SELECT text FROM documents", k_min=5)
            + "\nORDER BY count")


def q_salsa_scores(spark, sf_dir):
    """SALSA (Lempel & Moran, WWW 2000) over the synthetic host graph —
    the spam-resistant sibling of HITS: every contribution is divided by
    the degree of the node it flows through, so a k-page link farm
    carries the weight of one honest link (the TKC-effect fix). Integer
    DIV fixed point end-to-end; the DuckDB oracle unrolls all 3 rounds
    as CTEs and matches bit-for-bit."""
    from llm_scraper_spark.operators.graph import salsa_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    # lambda defers the build (and salsa's eager per-round checkpoints)
    # until _run_small has scoped the small-data partition count
    return _run_small(spark, lambda: salsa_scores(edges, iterations=3)
                      .orderBy("host"))


def _salsa_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import salsa_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return salsa_oracle_sql(edges_sql, iterations=3) + "\nORDER BY host"


COCITE_MAX_DEGREE = 16


def q_cocitation(spark, sf_dir):
    """Co-citation + bibliographic coupling (Small 1973 / Kessler 1963)
    over the host graph: shared-in-neighbor and shared-out-neighbor pair
    counts, with wedge centers above degree COCITE_MAX_DEGREE dropped
    BEFORE the self-join (the documented quadratic-fan-out cap — a
    10^6-degree aggregator would alone emit 5*10^11 pairs). The oracle
    replays the identical cap and wedge joins."""
    from llm_scraper_spark.operators.graph import cocitation_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return (
        cocitation_pairs(edges, max_degree=COCITE_MAX_DEGREE, min_count=1)
        .orderBy("host_a", "host_b")
    )


def _cocitation_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import cocitation_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return (
        cocitation_oracle_sql(edges_sql, max_degree=COCITE_MAX_DEGREE,
                              min_count=1)
        + "\nORDER BY host_a, host_b"
    )


REDIRECT_URLS = 400


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling (4 self-joins
    resolve a 16-hop budget): the frontier must schedule chain TERMINALS
    or the seen-set fills with aliases and politeness charges the wrong
    host. The synthetic functional graph (60% of 400 URLs redirect,
    md5-chosen targets, natural cycles) is rebuilt identically in the
    oracle, which walks it SEQUENTIALLY with a recursive CTE — agreement
    proves the log-round composition lands on the exact same node, hop
    count, and cycle verdict as the step-by-step walk."""
    from llm_scraper_spark.operators.redirects import resolve_redirects

    ev = _t(spark, sf_dir, "events").select("event_id")
    urls = ev.select((F.col("event_id") % REDIRECT_URLS).alias("u")).distinct()
    edges = (
        urls.filter(_md5_60bit(F.col("u"), ":r") % 10 < 6)
        .select(
            F.concat(F.lit("u"), F.col("u").cast("string")).alias("src"),
            F.concat(
                F.lit("u"),
                (_md5_60bit(F.col("u"), ":t") % REDIRECT_URLS).cast("string"),
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return resolve_redirects(edges, max_hops=16).orderBy("url")


def _redirect_resolve_oracle_sql() -> str:
    from llm_scraper_spark.operators.redirects import (
        resolve_redirects_oracle_sql,
    )

    edges_sql = f"""
        SELECT src, dst FROM (
          SELECT 'u' || u::VARCHAR AS src,
                 'u' || (('0x' || substring(md5(u::VARCHAR || ':t'), 1, 15))
                         ::BIGINT % {REDIRECT_URLS})::VARCHAR AS dst
          FROM (SELECT DISTINCT event_id % {REDIRECT_URLS} AS u FROM events)
          WHERE ('0x' || substring(md5(u::VARCHAR || ':r'), 1, 15))::BIGINT
                % 10 < 6
        ) WHERE src <> dst"""
    return (resolve_redirects_oracle_sql(edges_sql, max_hops=16)
            + "\nORDER BY url")


ZORDER_BOX = (0, 16383, 0, 1024)  # host-hash first quarter x short docs


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout keys + data-skipping stats: 16-bit host
    hash interleaved with a 16-bit length dimension via the native
    shift-or-mask ladder (no UDF), files cut by fixed key-space ranges,
    and a 2-D box predicate's per-file scan/skip decision computed from
    min/max stats exactly as a parquet reader would — the
    fastest-file-is-the-one-you-never-open operator for 100 TB layout.
    The oracle replays the identical bit ladder in BIGINT SQL."""
    from llm_scraper_spark.operators.layout import layout_pruning_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.select(
        (_md5_60bit(F.col("doc_id"), ":zx") % 65536).alias("x"),
        F.least(F.length("text"), F.lit(65535)).cast("long").alias("y"),
    )
    return (
        layout_pruning_stats(rows, "x", "y", n_files=64, box=ZORDER_BOX)
        .orderBy("file_id")
    )


def _zorder_layout_oracle_sql() -> str:
    from llm_scraper_spark.operators.layout import layout_pruning_oracle_sql

    rows_sql = """
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':zx'), 1, 15))
                 ::BIGINT % 65536 AS x,
               LEAST(length(text), 65535)::BIGINT AS y
        FROM documents"""
    return (layout_pruning_oracle_sql(rows_sql, n_files=64, box=ZORDER_BOX)
            + "\nORDER BY file_id")


def q_span_integrity(spark, sf_dir):
    """Corpus-wide audit of the north rule's per-row invariant
    (kind, text, media_ref, order): offset ordering, struct shape,
    interleaving run geometry, and media density per document — all
    native array HOFs over the LIVE chunker UDF output, recomputed by
    the oracle from the flat committed golden spans with windows and
    GROUP BY. Agreement certifies chunker output AND the HOF arithmetic
    through two structurally different dataflows."""
    from llm_scraper_spark.operators.corpus import span_integrity
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    return (
        span_integrity(docs)
        .filter(F.col("n_spans") > 0)
        .orderBy("doc_id")
    )


def _span_integrity_oracle_sql() -> str:
    from llm_scraper_spark.operators.corpus import span_integrity_oracle_sql

    flat = ("SELECT * FROM "
            "read_parquet('/root/repo/goldens/spans_sf0.01.parquet')")
    return span_integrity_oracle_sql(flat) + "\nORDER BY doc_id"


UCB_HOSTS = 60


def q_ucb_schedule(spark, sf_dir):
    """UCB1 explore/exploit host budgeting over synthetic fetch history
    (hosts get deterministically different attempt counts and success
    rates, so thin-history hosts earn real exploration bonuses). The ln
    is replaced by the engine-exact binary-string ilog2 and the division
    under the sqrt is integer, so the IEEE-correctly-rounded sqrt makes
    every score bit-identical in the oracle."""
    from llm_scraper_spark.operators.frontier import ucb_schedule

    ev = _t(spark, sf_dir, "events").select("event_id")
    hist = (
        ev.withColumn("host_n", (F.col("event_id") % UCB_HOSTS))
        .filter(F.expr(f"(event_id DIV {UCB_HOSTS}) "
                       f"% (1 + host_n % 7) = 0"))
        .select(
            F.concat(F.lit("h"), F.col("host_n").cast("string"))
            .alias("host"),
            (_md5_60bit(F.col("event_id"), ":ok") % 100
             < 30 + F.col("host_n")).alias("ok"),
        )
    )
    return ucb_schedule(hist, top_k=20).orderBy("host")


def _ucb_schedule_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import ucb_schedule_oracle_sql

    history_sql = f"""
      SELECT 'h' || (event_id % {UCB_HOSTS})::VARCHAR AS host,
             ('0x' || substring(md5(event_id::VARCHAR || ':ok'), 1, 15))
               ::BIGINT % 100 < 30 + (event_id % {UCB_HOSTS}) AS ok
      FROM events
      WHERE (event_id // {UCB_HOSTS})
            % (1 + (event_id % {UCB_HOSTS}) % 7) = 0"""
    return (ucb_schedule_oracle_sql(history_sql, top_k=20)
            + "\nORDER BY host")


def _c4_line(words, i, length, suffix):
    return F.concat(F.array_join(F.slice(words, i * 12 + 1, length), " "),
                    F.lit(suffix))


def _c4_pages(spark, sf_dir):
    """Deterministic C4 test pages from documents: the word stream is
    cut into 12-word lines; a per-line md5 tag picks the line's fate
    (terminal '.', '?', '!', a 2-word short line, a 'javascript' line,
    or no terminal punctuation), and doc-level md5 tags inject 'lorem
    ipsum' / curly-brace lines into a deterministic subset of pages.
    Same derivation in the DuckDB oracle, byte-for-byte."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")

    def line(i):
        t = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":l"), i.cast("string"))),
                    1, 15),
                16, 10,
            ).cast("long") % 10
        )
        return (
            F.when(t == 5, _c4_line(w, i, 2, "."))
            .when(t == 6, _c4_line(w, i, 12, "?"))
            .when(t == 7, _c4_line(w, i, 12, " javascript."))
            .when(t == 8, _c4_line(w, i, 12, ""))
            .when(t == 9, _c4_line(w, i, 12, "!"))
            .otherwise(_c4_line(w, i, 12, "."))
        )

    nlines = F.expr("(size(split(text, ' ')) + 11) DIV 12")
    lines = F.transform(F.sequence(F.lit(0), nlines - 1), line)
    lorem = F.when(
        _md5_60bit(F.col("doc_id"), ":lorem") % 20 == 0,
        F.array(F.lit("lorem ipsum dolor sit amet.")),
    ).otherwise(F.array().cast("array<string>"))
    brace = F.when(
        _md5_60bit(F.col("doc_id"), ":brace") % 15 == 0,
        F.array(F.lit("function f() { return 1; }")),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id",
        F.array_join(F.concat(lines, lorem, brace), "\n").alias("text"),
    )


def _c4_pages_sql() -> str:
    line_tag = ("(('0x' || substring(md5(doc_id::VARCHAR || ':l' "
                "|| i::VARCHAR), 1, 15))::BIGINT % 10)")

    def seg(length, suffix):
        return (f"array_to_string(list_slice(w, i*12+1, i*12+{length}), "
                f"' ') || '{suffix}'")

    doc_tag = ("(('0x' || substring(md5(doc_id::VARCHAR || '{t}'), 1, 15))"
               "::BIGINT % {m})")
    return f"""
  SELECT doc_id,
         array_to_string(
           list_concat(
             list_transform(generate_series(0, (len(w)+11)//12 - 1), i ->
               CASE {line_tag}
                 WHEN 5 THEN {seg(2, '.')}
                 WHEN 6 THEN {seg(12, '?')}
                 WHEN 7 THEN {seg(12, ' javascript.')}
                 WHEN 8 THEN array_to_string(
                     list_slice(w, i*12+1, i*12+12), ' ')
                 WHEN 9 THEN {seg(12, '!')}
                 ELSE {seg(12, '.')}
               END),
             list_concat(
               CASE WHEN {doc_tag.format(t=':lorem', m=20)} = 0
                    THEN ['lorem ipsum dolor sit amet.']
                    ELSE [] END,
               CASE WHEN {doc_tag.format(t=':brace', m=15)} = 0
                    THEN ['function f() {{ return 1; }}']
                    ELSE [] END)),
           chr(10)) AS text
  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)"""


def q_c4_filters(spark, sf_dir):
    """The C4 cleaning heuristics (Raffel et al. 2020) over
    deterministic synthetic pages: line-level terminal-punctuation /
    min-words / javascript rules, page-level sentence floor + lorem
    ipsum + curly-brace rejection — the canonical first-pass filter of
    every web-scale training corpus. Pages AND verdicts are recomputed
    byte-identically in the oracle."""
    from llm_scraper_spark.operators.text_analysis import c4_filters

    return c4_filters(_c4_pages(spark, sf_dir)).orderBy("doc_id")


def _c4_filters_oracle_sql() -> str:
    from llm_scraper_spark.operators.text_analysis import (
        c4_filters_oracle_sql,
    )

    return (c4_filters_oracle_sql(_c4_pages_sql())
            + "\nORDER BY doc_id")


CRAWL_VALUE_HOSTS = 40


def q_crawl_value(spark, sf_dir):
    """Value-of-refresh scheduling end-to-end: the REAL change_rate
    chain (Cho & Garcia-Molina consistent lambda over the synthetic
    revisit history) joined with md5-derived host importance, staleness
    = 1 - exp(-lambda*age) in the one-fixed-float-order discipline,
    value = rank x staleness in integers. The oracle replays the entire
    chain — change-rate window, ages, ranks, exp — value-for-value."""
    from llm_scraper_spark.operators.frontier import (
        change_rate, crawl_value_schedule,
    )

    ev = _t(spark, sf_dir, "events").select("event_id")
    history = ev.select(
        F.concat(F.lit("u"), (F.col("event_id") % RECRAWL_URLS)
                 .cast("string")).alias("url"),
        F.expr(f"event_id DIV {RECRAWL_URLS}").alias("wave"),
        (_md5_60bit(F.col("event_id"), ":fp") % 3)
        .cast("string").alias("fingerprint"),
    )
    rates = change_rate(history).select("url", "lambda_fp")
    # "now" = one wave past the global max observed wave, so age >= 1 at
    # EVERY scale factor (a fixed constant would go negative once the
    # event table grows past it, overflowing the exp)
    gmax = history.agg(F.max("wave").alias("_gw"))
    ages = (
        history.groupBy("url").agg(F.max("wave").alias("_uw"))
        .crossJoin(F.broadcast(gmax))
        .select("url",
                (F.col("_gw") + 1 - F.col("_uw")).cast("long").alias("age"))
    )
    pages = rates.join(ages, "url").withColumn(
        "host",
        F.concat(
            F.lit("h"),
            (F.expr("CAST(substring(url, 2, 10) AS BIGINT)")
             % CRAWL_VALUE_HOSTS).cast("string")),
    )
    hosts = pages.select("host").distinct()
    ranks = hosts.select(
        "host",
        (F.lit(1_000_000)
         + _md5_60bit(F.col("host"), ":rank") % 1_000_000)
        .cast("long").alias("rank"),
    )
    return crawl_value_schedule(pages, ranks, top_k=50).orderBy("url")


def _crawl_value_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import (
        change_rate_oracle_sql, crawl_value_oracle_sql,
    )

    history_sql = f"""
      SELECT 'u' || (event_id % {RECRAWL_URLS})::VARCHAR AS url,
             event_id // {RECRAWL_URLS} AS wave,
             (('0x' || substring(md5(event_id::VARCHAR || ':fp'), 1,
                                 15))::BIGINT % 3)::VARCHAR AS fingerprint
      FROM events"""
    rates_sql = change_rate_oracle_sql(history_sql)
    pages_sql = f"""
      SELECT r.url, r.lambda_fp, a.age,
             'h' || (substring(r.url, 2)::BIGINT
                     % {CRAWL_VALUE_HOSTS})::VARCHAR AS host
      FROM (SELECT url, lambda_fp FROM ({rates_sql})) r
      JOIN (SELECT url,
                   ((SELECT max(wave) FROM ({history_sql})) + 1
                    - max(wave))::BIGINT AS age
            FROM ({history_sql}) GROUP BY url) a USING (url)"""
    ranks_sql = f"""
      SELECT DISTINCT
             'h' || (substring(url, 2)::BIGINT
                     % {CRAWL_VALUE_HOSTS})::VARCHAR AS host,
             1000000 + ('0x' || substring(
                 md5('h' || (substring(url, 2)::BIGINT
                             % {CRAWL_VALUE_HOSTS})::VARCHAR || ':rank'),
                 1, 15))::BIGINT % 1000000 AS rank
      FROM ({history_sql})"""
    return (crawl_value_oracle_sql(pages_sql, ranks_sql, top_k=50)
            + "\nORDER BY url")


def q_bowtie(spark, sf_dir):
    """Broder bow-tie decomposition of the synthetic host graph: the
    SCC core around the max-degree pivot, the IN set that reaches it,
    the OUT set it reaches, and the remainder — the seed-list health
    check of a crawl snapshot. Delta-frontier BFS both directions,
    depth-capped at 8 as part of the contract; the oracle walks the
    identical capped reachability with recursive CTEs."""
    from llm_scraper_spark.operators.graph import bowtie_decomposition

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return bowtie_decomposition(edges, max_hops=8).orderBy("host")


def _bowtie_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import bowtie_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return bowtie_oracle_sql(edges_sql, max_hops=8) + "\nORDER BY host"


def q_media_text_align(spark, sf_dir):
    """MMC4-style media-to-text assignment over the live interleaved
    spans: per-doc media x text pairs scored (md5 closed form standing
    in for CLIP similarity — the assignment machinery is the shipped
    artifact), per-media argmax with deterministic ties. The oracle
    replays scores and assignment from the flat golden spans."""
    from llm_scraper_spark.operators.multimodal import media_text_align
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    flat = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "_s")
    ).select(
        "doc_id", "span_idx",
        F.col("_s.kind").alias("kind"),
        F.col("_s.media_ref").alias("media_ref"),
    )

    def score(media_ref, text_idx):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id"), F.lit("|"), media_ref,
                               F.lit("|"), text_idx.cast("string"))),
                1, 15),
            16, 10,
        ).cast("long")

    return (
        media_text_align(flat, score)
        .orderBy("doc_id", "media_idx")
    )


def _media_text_align_oracle_sql() -> str:
    golden = "/root/repo/goldens/spans_sf0.01.parquet"
    return f"""
WITH sp AS (SELECT * FROM read_parquet('{golden}')),
media AS (
  SELECT doc_id, span_idx AS media_idx, media_ref
  FROM sp WHERE kind = 'media'),
txt AS (SELECT doc_id, span_idx AS text_idx FROM sp WHERE kind = 'text'),
pairs AS (
  SELECT m.doc_id, m.media_idx, m.media_ref, t.text_idx,
         ('0x' || substring(md5(m.doc_id || '|' || m.media_ref || '|'
                                || t.text_idx::VARCHAR), 1, 15))::BIGINT
             AS score
  FROM media m JOIN txt t USING (doc_id)),
r AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id, media_idx
      ORDER BY score DESC, text_idx ASC) AS rn
  FROM pairs)
SELECT m.doc_id, m.media_idx, m.media_ref, r.text_idx, r.score
FROM media m
LEFT JOIN r ON r.doc_id = m.doc_id AND r.media_idx = m.media_idx
           AND r.rn = 1
ORDER BY m.doc_id, m.media_idx"""


def q_crawl_media_align(spark, sf_dir):
    """VERDICT r4 #8 — crawl -> multimodal COMPOSITION: the bounded
    synthetic crawl (same golden config as q_crawl_schedule_log) runs
    for real, and its committed documents(doc_id, spans) output — the
    north rule's interleaved text+media shape — feeds media_text_align
    (MMC4-style per-media argmax, md5 closed form standing in for CLIP)
    and the content-addressed media dedup (assets keyed by DECODED
    pixel bytes via the real PNG/JPEG/GIF codecs; refs remapped onto 40
    canonical images so duplicate groups exist). The oracle replays
    both stages over the SIMULATOR's independently-derived span golden
    (goldens/crawl_doc_spans.parquet)."""
    import shutil

    from jobs.make_goldens import (
        CRAWL_BUDGET, CRAWL_FANOUT, CRAWL_N_HOSTS, CRAWL_N_SEEDS, CRAWL_WAVES)
    from llm_scraper_spark.crawl.waves import CrawlRun, synthetic_fetcher
    from llm_scraper_spark.operators.multimodal import (
        _payload_udf, content_key_udf, media_text_align)
    from llm_scraper_spark.sources.synthetic import synth_seeds

    tune_session(spark)
    state_dir = "/tmp/spark_graft_crawl_mm_query"
    shutil.rmtree(state_dir, ignore_errors=True)
    run = CrawlRun(
        spark, state_dir,
        fetcher=synthetic_fetcher(n_hosts=CRAWL_N_HOSTS, fanout=CRAWL_FANOUT),
        default_budget=CRAWL_BUDGET, n_salts=4,
    )
    run.run(CRAWL_WAVES,
            seeds=synth_seeds(spark, CRAWL_N_SEEDS, n_hosts=CRAWL_N_HOSTS))
    docs = run.state.read_all("documents")
    flat = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "_s")
    ).select(
        "doc_id", "span_idx",
        F.col("_s.kind").alias("kind"),
        F.col("_s.media_ref").alias("media_ref"),
    )

    def score(media_ref, text_idx):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id"), F.lit("|"), media_ref,
                               F.lit("|"), text_idx.cast("string"))),
                1, 15),
            16, 10,
        ).cast("long")

    aligned = media_text_align(flat, score)
    ref2 = F.concat(
        F.lit("https://cdn.example.com/img/"),
        (F.regexp_extract("media_ref", r"(\d+)", 1).cast("long")
         % 40).cast("string"),
        F.lit(".jpg"),
    )
    keyed = aligned.select(
        "doc_id", "media_idx", "media_ref", "text_idx", "score",
        ref2.alias("canonical_ref"),
    ).withColumn(
        "ck", content_key_udf()(_payload_udf(F.col("canonical_ref"))))
    win = W.partitionBy(F.col("ck.pixel_md5"))
    asset_id = F.concat("doc_id", F.lit("#"),
                        F.col("media_idx").cast("string"))
    return keyed.select(
        "doc_id", "media_idx", "media_ref", "text_idx", "score",
        "canonical_ref",
        (asset_id == F.min(asset_id).over(win)).alias("keep"),
    ).orderBy("doc_id", "media_idx")


def _crawl_media_align_oracle_sql() -> str:
    golden = "/root/repo/goldens/crawl_doc_spans.parquet"
    return rf"""
WITH sp AS (SELECT * FROM read_parquet('{golden}')),
media AS (
  SELECT doc_id, span_idx AS media_idx, media_ref
  FROM sp WHERE kind = 'media'),
txt AS (SELECT doc_id, span_idx AS text_idx FROM sp WHERE kind = 'text'),
pairs AS (
  SELECT m.doc_id, m.media_idx, m.media_ref, t.text_idx,
         ('0x' || substring(md5(m.doc_id || '|' || m.media_ref || '|'
                                || t.text_idx::VARCHAR), 1, 15))::BIGINT
             AS score
  FROM media m JOIN txt t USING (doc_id)),
r AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id, media_idx
      ORDER BY score DESC, text_idx ASC) AS rn
  FROM pairs),
aligned AS (
  SELECT m.doc_id, m.media_idx, m.media_ref, r.text_idx, r.score
  FROM media m
  LEFT JOIN r ON r.doc_id = m.doc_id AND r.media_idx = m.media_idx
             AND r.rn = 1),
keyed AS (
  SELECT *,
         'https://cdn.example.com/img/' ||
           (regexp_extract(media_ref, '(\d+)', 1)::BIGINT % 40)::VARCHAR
           || '.jpg' AS canonical_ref,
         doc_id || '#' || media_idx::VARCHAR AS asset_id
  FROM aligned),
ck AS (
  SELECT *,
         (16 + ('0x' || substring(md5(canonical_ref), 1, 2))::INT) AS w,
         (16 + ('0x' || substring(md5(canonical_ref), 3, 2))::INT) AS h,
         ('0x' || substring(md5(canonical_ref), 7, 2))::INT AS cr,
         ('0x' || substring(md5(canonical_ref), 9, 2))::INT AS cg,
         ('0x' || substring(md5(canonical_ref), 11, 2))::INT AS cb
  FROM keyed)
SELECT doc_id, media_idx, media_ref, text_idx, score, canonical_ref,
       asset_id = min(asset_id) OVER (PARTITION BY w, h, cr, cg, cb) AS keep
FROM ck ORDER BY doc_id, media_idx"""


def q_embedding_pca(spark, sf_dir):
    """Top principal component of the embeddings table by integer power
    iteration (the all-but-the-top / whitening primitive): power-of-two
    quantization, exact BIGINT covariance sufficient statistics,
    abs-DIV rescale per round, integer Rayleigh eigenvalue. The oracle
    unrolls quantization, covariance, all 4 rounds, and the read-out
    bit-for-bit."""
    from llm_scraper_spark.operators.similarity import embedding_pca

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return embedding_pca(emb, iterations=4).orderBy("dim")


def _embedding_pca_oracle_sql() -> str:
    from llm_scraper_spark.operators.similarity import (
        embedding_pca_oracle_sql,
    )

    return (embedding_pca_oracle_sql(
        "SELECT vec_id, embedding FROM embeddings", iterations=4)
        + "\nORDER BY dim")


def q_pack_efficiency(spark, sf_dir):
    """Batch-geometry audit over the interleaved packing: per stream
    shard, the sequence count, capacity actually filled, waste ppm
    (capacity bought minus tokens packed), and boundary-straddle count
    — the numbers a mixture builder watches to size capacity and
    media_cost. Pure aggregation over the interleave_pack columns;
    the oracle wraps the full packing replay in the same rollup."""
    from llm_scraper_spark.operators.corpus import interleave_pack
    from llm_scraper_spark.sources.synthetic import build_documents_interleaved

    tune_session(spark)
    docs = build_documents_interleaved(spark, sf_dir)
    flat = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "_s")
    ).select(
        "doc_id", "span_idx",
        F.col("_s.kind").alias("kind"), F.col("_s.text").alias("text"),
        F.substring("doc_id", 1, 1).alias("stream"),
    )
    packed = interleave_pack(
        flat, capacity=INTERLEAVE_CAPACITY,
        media_cost=INTERLEAVE_MEDIA_COST, stream_col="stream",
    )
    cap = INTERLEAVE_CAPACITY
    agg = packed.groupBy("stream").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("cost").cast("long").alias("total_cost"),
        (F.max("end_seq_id") + 1).cast("long").alias("n_seqs"),
        F.sum(F.col("spans_boundary").cast("long")).cast("long")
        .alias("straddles"),
    )
    return agg.select(
        "stream", "n_spans", "total_cost", "n_seqs", "straddles",
        F.expr(f"((n_seqs * {cap} - total_cost) * 1000000) "
               f"DIV (n_seqs * {cap})").alias("waste_ppm"),
    ).orderBy("stream")


def _pack_efficiency_oracle_sql() -> str:
    cap = INTERLEAVE_CAPACITY
    inner = _interleave_pack_oracle_sql()
    return f"""
WITH packed AS ({inner})
SELECT stream, count(*)::BIGINT AS n_spans,
       sum(cost)::BIGINT AS total_cost,
       (max(end_seq_id) + 1)::BIGINT AS n_seqs,
       sum(spans_boundary::BIGINT)::BIGINT AS straddles,
       (((max(end_seq_id) + 1) * {cap} - sum(cost)::BIGINT) * 1000000
        // ((max(end_seq_id) + 1) * {cap}))::BIGINT AS waste_ppm
FROM packed GROUP BY stream
ORDER BY stream"""


def q_stream_sessions(spark, sf_dir):
    """Native session_window streaming under the driver gate: per-host
    gap-15s sessions over 3 ascending micro-batches (ts = base +
    doc_id % 97, host = source) + watermark-pushing sentinels; sessions
    straddling micro-batch boundaries must merge in the state store and
    emit exactly once closed. The oracle recomputes the identical gap
    sessionization closed-form (lag + cumulative island ids) — no
    timestamps, pure integer offsets."""
    import os
    import shutil
    import uuid

    from llm_scraper_spark.streaming.ingest import stream_sessions

    tune_session(spark)
    run_id = uuid.uuid4().hex[:8]
    base = f"/tmp/spark_graft_stream_sess_{run_id}"
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir)
    feed = _t(spark, sf_dir, "documents").select(
        F.timestamp_seconds(F.lit(STREAM_WIN_BASE)
                            + F.col("doc_id") % 97).alias("ts"),
        F.col("source").alias("host"),
        (F.col("doc_id") % 97).alias("off"),
    )
    sentinel = spark.createDataFrame(
        [(STREAM_WIN_BASE + 10_000,), (STREAM_WIN_BASE + 10_001,)],
        "sec long",
    ).select(F.timestamp_seconds(F.col("sec")).alias("ts"),
             F.lit("zz_sentinel").alias("host"),
             F.lit(-1).alias("off"))
    out = stream_sessions(spark, in_dir)
    qname = f"stream_sess_{run_id}"
    query = (
        out.writeStream.outputMode("append").format("memory")
        .queryName(qname)
        .option("checkpointLocation", os.path.join(base, "cp"))
        .start()
    )
    try:
        batches = [
            feed.filter(F.col("off") <= 32),
            feed.filter((F.col("off") > 32) & (F.col("off") <= 65)),
            feed.filter(F.col("off") > 65),
            sentinel.filter(F.col("sec") == STREAM_WIN_BASE + 10_000),
            sentinel.filter(F.col("sec") == STREAM_WIN_BASE + 10_001),
        ]
        for part in batches:
            (part.select("ts", "host").coalesce(1)
             .write.mode("append").parquet(in_dir))
            query.processAllAvailable()
    finally:
        query.stop()
        shutil.rmtree(base, ignore_errors=True)
    return (
        spark.table(qname)
        .filter(F.col("host") != "zz_sentinel")
        .select(F.col("session_start").cast("long").alias("session_start"),
                F.col("session_end").cast("long").alias("session_end"),
                "host", "n_events")
        .orderBy("host", "session_start")
    )


def _stream_sessions_oracle_sql() -> str:
    return f"""
WITH f AS (
  SELECT source AS host, doc_id % 97 AS off FROM documents),
o AS (
  SELECT host, off,
         CASE WHEN lag(off) OVER (PARTITION BY host ORDER BY off)
                   IS NULL THEN 1
              WHEN off - lag(off) OVER (PARTITION BY host ORDER BY off)
                   >= 15 THEN 1
              ELSE 0 END AS brk
  FROM f),
s AS (
  SELECT host, off,
         sum(brk) OVER (PARTITION BY host ORDER BY off
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o)
SELECT ({STREAM_WIN_BASE} + min(off))::BIGINT AS session_start,
       ({STREAM_WIN_BASE} + max(off) + 15)::BIGINT AS session_end,
       host, count(*)::BIGINT AS n_events
FROM s GROUP BY host, sid
ORDER BY host, session_start"""


def q_dot_segments(spark, sf_dir):
    """RFC 3986 remove_dot_segments as a native array fold over
    synthesized messy frontier paths ('..', '.', chained escapes,
    directory-shaped tails) — the canonicalization step that stops
    /a/b/../b/../b/ alias loops from multiplying the seen-set. The
    oracle runs the identical fold via DuckDB list_reduce."""
    from llm_scraper_spark.functions.urls import resolve_dot_segments

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tag = _md5_60bit(F.col("doc_id"), ":dots") % 5
    raw = F.concat(
        F.lit("/sec"), (F.col("doc_id") % 7).cast("string"),
        F.lit("/sub/"),
        F.when(tag == 0, F.lit("../up.html"))
        .when(tag == 1, F.lit("./here.html"))
        .when(tag == 2, F.lit("a/../../../esc.html"))
        .when(tag == 3, F.lit("deep/"))
        .otherwise(F.lit("leaf.html")),
    )
    return docs.select(
        "doc_id", raw.alias("raw_path"),
        resolve_dot_segments(raw).alias("resolved"),
    ).orderBy("doc_id")


def _dot_segments_oracle_sql() -> str:
    from llm_scraper_spark.functions.urls import (
        resolve_dot_segments_sql_expr,
    )

    raw = """('/sec' || (doc_id % 7)::VARCHAR || '/sub/' ||
        CASE (('0x' || substring(md5(doc_id::VARCHAR || ':dots'), 1, 15))
              ::BIGINT % 5)
          WHEN 0 THEN '../up.html'
          WHEN 1 THEN './here.html'
          WHEN 2 THEN 'a/../../../esc.html'
          WHEN 3 THEN 'deep/'
          ELSE 'leaf.html' END)"""
    return f"""
SELECT doc_id, {raw} AS raw_path,
       {resolve_dot_segments_sql_expr(raw)} AS resolved
FROM documents
ORDER BY doc_id"""


FAIRNESS_BUDGET = 120


def q_fairness(spark, sf_dir):
    """Jain's fairness index of per-host frontier load, before and
    after the politeness budget cap — the scalar that PROVES the cap
    does its job (capped J must exceed raw J on the skewed synthetic
    load). Exact BIGINT sufficient statistics, one engine-identical
    float read-out per stage."""
    from llm_scraper_spark.operators.frontier import fairness_index

    ev = _t(spark, sf_dir, "events").select("event_id")
    # skewed load: quadratic-ish host assignment concentrates events on
    # low host ids
    load = (
        ev.select(((F.col("event_id") * F.col("event_id")) % 50)
                  .alias("host"))
        .groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    staged = load.select(F.lit("raw").alias("stage"), "host", "x").union(
        load.select(F.lit("capped").alias("stage"), "host",
                    F.least(F.col("x"), F.lit(FAIRNESS_BUDGET))
                    .cast("long").alias("x")))
    return fairness_index(staged, "x", stage_col="stage").orderBy("stage")


def _fairness_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import fairness_oracle_sql

    rows_sql = f"""
      SELECT 'raw' AS stage, host, x FROM (
        SELECT (event_id * event_id) % 50 AS host, count(*)::BIGINT AS x
        FROM events GROUP BY 1)
      UNION ALL
      SELECT 'capped', host, LEAST(x, {FAIRNESS_BUDGET}) FROM (
        SELECT (event_id * event_id) % 50 AS host, count(*)::BIGINT AS x
        FROM events GROUP BY 1)"""
    return (fairness_oracle_sql(rows_sql, "x", stage_col="stage")
            + "\nORDER BY stage")


def q_deepwalk(spark, sf_dir):
    """Deterministic DeepWalk corpus over the synthetic host graph:
    md5-closed-form neighbor choices over dst-ranked adjacency, walks
    from a quarter of the nodes, truncated at 8 steps with dead-end
    stops — the skip-gram corpus for host embeddings, identical on any
    engine/partitioning. The oracle replays every walk step-by-step
    with a recursive CTE."""
    from llm_scraper_spark.operators.graph import deepwalk_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    return (
        deepwalk_corpus(edges, length=8, start_mod=4)
        .orderBy("walk_id", "step")
    )


def _deepwalk_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import deepwalk_oracle_sql

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    return (deepwalk_oracle_sql(edges_sql, length=8, start_mod=4)
            + "\nORDER BY walk_id, step")


def q_skipgram(spark, sf_dir):
    """Skip-gram (center, context) counts over the deterministic
    DeepWalk corpus — the word2vec-style training table for host
    embeddings, window 2. Composes the walk generator end-to-end; the
    oracle replays walks (recursive CTE) AND the banded self-join."""
    from llm_scraper_spark.operators.graph import (
        deepwalk_corpus, skipgram_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    walks = deepwalk_corpus(edges, length=8, start_mod=4)
    return skipgram_pairs(walks, window=2).orderBy("center", "context")


def _skipgram_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import (
        deepwalk_oracle_sql, skipgram_oracle_sql,
    )

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    walks_sql = deepwalk_oracle_sql(edges_sql, length=8, start_mod=4)
    return (skipgram_oracle_sql(walks_sql, window=2)
            + "\nORDER BY center, context")


RING_SHARDS = 12


def q_ring_shards(spark, sf_dir):
    """Consistent-hash ring sharding of frontier URLs (12 shards x 8
    vnodes) side-by-side with the 13-shard ring plus a moved flag —
    growing the ring must relocate ONLY keys that land on the new
    shard. Zero shuffle on the key table (one broadcast sorted vnode
    array, native successor lookup); the oracle rebuilds the identical
    ring with correlated min-subqueries."""
    from llm_scraper_spark.operators.frontier import ring_assign

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
        .alias("key"))
    a = ring_assign(docs, RING_SHARDS).select(
        "key", "key_hash", F.col("shard").alias("shard_n"))
    b = ring_assign(docs, RING_SHARDS + 1).select(
        "key", F.col("shard").alias("shard_n1"))
    return (
        a.join(b, "key")
        .select("key", "key_hash", "shard_n", "shard_n1",
                (F.col("shard_n") != F.col("shard_n1")).alias("moved"))
        .orderBy("key")
    )


def _ring_shards_oracle_sql() -> str:
    from llm_scraper_spark.operators.frontier import ring_assign_oracle_sql

    keys_sql = """
      SELECT 'https://h' || (doc_id % 97)::VARCHAR || '.example.com/p/'
             || doc_id::VARCHAR AS key
      FROM documents"""
    a = ring_assign_oracle_sql(keys_sql, RING_SHARDS)
    b = ring_assign_oracle_sql(keys_sql, RING_SHARDS + 1)
    return f"""
WITH a AS ({a}), b AS ({b})
SELECT a.key, a.key_hash, a.shard AS shard_n, b.shard AS shard_n1,
       a.shard <> b.shard AS moved
FROM a JOIN b USING (key)
ORDER BY key"""


def q_ppmi(spark, sf_dir):
    """Positive-PMI association over the DeepWalk skip-gram counts —
    the matrix word2vec factorizes, as exact integer ratios (1e6 =
    independence). Completes the embedding-prep chain walks ->
    skip-gram -> PPMI; the oracle replays the full three-stage
    composition."""
    from llm_scraper_spark.operators.graph import (
        deepwalk_corpus, ppmi_pairs, skipgram_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    walks = deepwalk_corpus(edges, length=8, start_mod=4)
    pairs = skipgram_pairs(walks, window=2)
    return ppmi_pairs(pairs, min_count=2).orderBy("center", "context")


def _ppmi_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import (
        deepwalk_oracle_sql, ppmi_oracle_sql, skipgram_oracle_sql,
    )

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    walks_sql = deepwalk_oracle_sql(edges_sql, length=8, start_mod=4)
    pairs_sql = skipgram_oracle_sql(walks_sql, window=2)
    return (ppmi_oracle_sql(pairs_sql, min_count=2)
            + "\nORDER BY center, context")


def q_modularity(spark, sf_dir):
    """Newman modularity of the LPA communities over the undirected
    host graph — the number that says whether community-pinned executor
    routing will actually localize frontier state. Exact integer terms
    at the 4m^2 scale, sign-split fixed-point read-out; the oracle
    replays LPA (all rounds unrolled) AND the modularity sums."""
    from llm_scraper_spark.operators.graph import (
        label_propagation, modularity,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        _pagerank_host(":s").alias("src"), _pagerank_host(":d").alias("dst")
    )
    labels = label_propagation(edges, iterations=3)
    return modularity(edges, labels).orderBy("label")


def _modularity_oracle_sql() -> str:
    from llm_scraper_spark.operators.graph import (
        label_propagation_oracle_sql, modularity_oracle_sql,
    )

    edges_sql = f"""
        SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':s'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS src,
               ('0x' || substring(md5(doc_id::VARCHAR || ':d'), 1, 15))::BIGINT
                 % {PAGERANK_HOSTS} AS dst
        FROM documents"""
    labels_sql = label_propagation_oracle_sql(edges_sql, iterations=3)
    return (modularity_oracle_sql(edges_sql, labels_sql)
            + "\nORDER BY label")


def q_pct_encoding(spark, sf_dir):
    """RFC 3986 §6.2.2 percent-encoding normalization over synthesized
    messy escapes (unreserved decodes, hex-case folds, malformed
    passthrough) — the canonicalization that collapses %7Euser /
    %7euser / ~user into one seen-set entry. Native split/map/rejoin;
    the oracle runs the identical per-piece mapping."""
    from llm_scraper_spark.functions.urls import normalize_pct_encoding

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tag = _md5_60bit(F.col("doc_id"), ":pct") % 5
    raw = F.concat(
        F.lit("/p/"),
        F.when(tag == 0, F.lit("%41file%7e"))
        .when(tag == 1, F.lit("a%3ab%2fc"))
        .when(tag == 2, F.lit("bad%zz%4"))
        .when(tag == 3, F.lit("%5Fdir%2E"))
        .otherwise(F.lit("plain")),
        (F.col("doc_id") % 100).cast("string"),
    )
    return docs.select(
        "doc_id", raw.alias("raw_path"),
        normalize_pct_encoding(raw).alias("normalized"),
    ).orderBy("doc_id")


def _pct_encoding_oracle_sql() -> str:
    from llm_scraper_spark.functions.urls import (
        normalize_pct_encoding_sql_expr,
    )

    raw = """('/p/' ||
        CASE (('0x' || substring(md5(doc_id::VARCHAR || ':pct'), 1, 15))
              ::BIGINT % 5)
          WHEN 0 THEN '%41file%7e'
          WHEN 1 THEN 'a%3ab%2fc'
          WHEN 2 THEN 'bad%zz%4'
          WHEN 3 THEN '%5Fdir%2E'
          ELSE 'plain' END || (doc_id % 100)::VARCHAR)"""
    return f"""
SELECT doc_id, {raw} AS raw_path,
       {normalize_pct_encoding_sql_expr(raw)} AS normalized
FROM documents
ORDER BY doc_id"""


def q_layout_pruned_read(spark, sf_dir):
    """PHYSICAL data skipping end-to-end: documents written as
    Z-ordered parquet file groups with an Iceberg-manifest-style stats
    file, then read back through manifest pruning (partition filter on
    surviving groups) + the exact box predicate. The oracle is the
    plain full-scan filter over the same derivation — pruning must be
    invisible in the result, only in the files opened."""
    import shutil
    import uuid

    from llm_scraper_spark.sinks.layout_sink import (
        read_pruned, write_zorder_layout,
    )

    tune_session(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.select(
        "doc_id",
        (_md5_60bit(F.col("doc_id"), ":zx") % 65536).alias("x"),
        F.least(F.length("text"), F.lit(65535)).cast("long").alias("y"),
    )
    path = f"/tmp/spark_graft_layout_{uuid.uuid4().hex[:8]}"
    try:
        write_zorder_layout(rows, path, "x", "y", n_files=64)
        out, stats = read_pruned(spark, path, "x", "y", box=ZORDER_BOX)
        assert stats["scanned_groups"] < stats["total_groups"], stats
        result = (
            out.select("doc_id", "x", "y")
            .withColumn("scanned_groups",
                        F.lit(stats["scanned_groups"]).cast("long"))
            .orderBy("doc_id")
        )
        # materialize before the tmp dir disappears
        result = result.localCheckpoint(eager=True)
        return result
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _layout_pruned_read_oracle_sql() -> str:
    x_lo, x_hi, y_lo, y_hi = ZORDER_BOX
    from llm_scraper_spark.operators.layout import (
        zorder_file_width, zorder_key_sql,
    )

    # single-source the bucketing geometry with the sink (ceil division,
    # not floor) so a non-power-of-two n_files cannot desync the oracle
    width = zorder_file_width(64)
    z = zorder_key_sql("x", "y")
    return f"""
WITH rows_in AS (
  SELECT doc_id,
         ('0x' || substring(md5(doc_id::VARCHAR || ':zx'), 1, 15))::BIGINT
             % 65536 AS x,
         LEAST(length(text), 65535)::BIGINT AS y
  FROM documents),
keyed AS (SELECT *, {z} // {width} AS file_id FROM rows_in),
hit AS (
  SELECT file_id FROM keyed GROUP BY file_id
  HAVING min(x) <= {x_hi} AND max(x) >= {x_lo}
     AND min(y) <= {y_hi} AND max(y) >= {y_lo})
SELECT k.doc_id, k.x, k.y,
       (SELECT count(*) FROM hit)::BIGINT AS scanned_groups
FROM keyed k
WHERE k.x >= {x_lo} AND k.x <= {x_hi}
  AND k.y >= {y_lo} AND k.y <= {y_hi}
ORDER BY k.doc_id"""


def q_bucketed_join(spark, sf_dir):
    """The exchange-free co-located join, driver-visible: the seen set
    and a candidate delta write as co-bucketed catalog tables (16
    buckets on url_hash) and join with ZERO Exchange operators — the
    wave loop's dominant shuffle replaced by layout (asserted in the
    plan here, not just in pytest). Result equality against the plain
    join is the oracle."""
    import uuid

    from llm_scraper_spark.sinks.bucketed import (
        colocated_join, write_bucketed,
    )

    tune_session(spark)
    run = uuid.uuid4().hex[:8]
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    seen = docs.select(
        (_md5_60bit(F.col("doc_id"), ":bh") % 1000).alias("url_hash"),
        F.col("doc_id").alias("first_doc"),
    )
    delta = docs.filter(F.col("doc_id") % 3 == 0).select(
        (_md5_60bit(F.col("doc_id"), ":bh2") % 1000).alias("url_hash"),
        F.col("doc_id").alias("cand_doc"),
    )
    lt, rt = f"seen_b_{run}", f"delta_b_{run}"
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(seen, lt, ["url_hash"], 16,
                       path=f"/tmp/spark_graft_bkt_{run}/seen")
        write_bucketed(delta, rt, ["url_hash"], 16,
                       path=f"/tmp/spark_graft_bkt_{run}/delta")
        # at sf0.01 both sides fit the broadcast threshold and the planner
        # would pick BroadcastHashJoin — force the SortMergeJoin path the
        # bucketing exists for (a 100 TB seen table never broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(spark, lt, rt, on=["url_hash"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        out = (
            joined.groupBy("url_hash")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.min("first_doc").cast("long").alias("min_seen"),
                 F.min("cand_doc").cast("long").alias("min_cand"))
            .orderBy("url_hash")
        )
        return out.localCheckpoint(eager=True)
    finally:
        import shutil

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")
        shutil.rmtree(f"/tmp/spark_graft_bkt_{run}", ignore_errors=True)


def _bucketed_join_oracle_sql() -> str:
    return """
WITH seen AS (
  SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':bh'), 1, 15))::BIGINT
             % 1000 AS url_hash,
         doc_id AS first_doc
  FROM documents),
delta AS (
  SELECT ('0x' || substring(md5(doc_id::VARCHAR || ':bh2'), 1, 15))::BIGINT
             % 1000 AS url_hash,
         doc_id AS cand_doc
  FROM documents WHERE doc_id % 3 = 0)
SELECT s.url_hash, count(*)::BIGINT AS n_pairs,
       min(s.first_doc)::BIGINT AS min_seen,
       min(d.cand_doc)::BIGINT AS min_cand
FROM seen s JOIN delta d USING (url_hash)
GROUP BY s.url_hash
ORDER BY s.url_hash"""


COMPACT_TARGET = 128 * 1024 * 1024   # 128 MiB target output files


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning — the ops chore every wave-
    structured 100 TB table needs (each wave writes many small files;
    readers want ~128 MiB units): files ordered by id, packed into
    target-size groups with the SAME integer running-sum machinery as
    sequence packing (corpus.pack_sequences reused verbatim on file
    metadata — one window, integer DIV). Sizes are md5-synthesized
    heavy-tailed; the oracle replays the window math."""
    from llm_scraper_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    files = docs.select(
        F.col("doc_id").alias("file_id"),
        # heavy-ish tail: 1-64 MiB with a md5-chosen power bump
        ((_md5_60bit(F.col("doc_id"), ":fs") % 64 + 1) * 1024 * 1024
         * F.when(_md5_60bit(F.col("doc_id"), ":big") % 17 == 0, 8)
         .otherwise(1)).cast("long").alias("size_bytes"),
    )
    out = pack_sequences(files, tokens_col="size_bytes",
                         capacity=COMPACT_TARGET, order_col="file_id")
    return out.select(
        "file_id", "size_bytes",
        F.col("seq_id").alias("compaction_group"),
        F.col("seq_offset").alias("group_offset"),
        F.col("spans_boundary").alias("splits_group"),
    ).orderBy("file_id")


def _compaction_plan_oracle_sql() -> str:
    cap = COMPACT_TARGET
    return f"""
WITH files AS (
  SELECT doc_id AS file_id,
         ((('0x' || substring(md5(doc_id::VARCHAR || ':fs'), 1, 15))::BIGINT
           % 64 + 1) * 1024 * 1024
          * CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR || ':big'),
                                         1, 15))::BIGINT % 17 = 0
                 THEN 8 ELSE 1 END)::BIGINT AS size_bytes
  FROM documents),
c AS (
  SELECT *, COALESCE(CAST(SUM(size_bytes) OVER (
      ORDER BY file_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      0) AS cum0
  FROM files)
SELECT file_id, size_bytes,
       cum0 // {cap} AS compaction_group,
       cum0 % {cap} AS group_offset,
       ((cum0 + GREATEST(size_bytes, 1) - 1) // {cap}) > (cum0 // {cap})
           AS splits_group
FROM c
ORDER BY file_id"""


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for embedding/similarity training: LSH
    candidate pairs that VERIFY as non-duplicates (exact shingle
    Jaccard < 0.9) — pairs the index considered close but aren't, the
    most informative negatives — thinned by a deterministic hash
    sample. Candidate generation runs LOOSE (bands=6, rows=2: band
    collision ~ j^2, so near-misses surface; the rows=8 production
    regime only ever emits true near-dups and would mine nothing).
    Composes the full candidate + verify + sample chain; the oracle
    replays all three stages."""
    from llm_scraper_spark.operators.dedup import ngram_jaccard_pairs
    from llm_scraper_spark.operators.sampling import hash_uniform

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, bands=6, rows=2, hash_family="md5")
    key = F.concat(F.col("id_a").cast("string"), F.lit("|"),
                   F.col("id_b").cast("string"))
    return (
        pairs.filter(F.col("jaccard") < 0.9)
        .filter(hash_uniform(key, seed="hn") < 0.5)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def _hard_negatives_oracle_sql() -> str:
    from llm_scraper_spark.operators.sampling import hash_uniform_sql

    base = _ngram_jaccard_oracle_sql(bands=6, rows=2)
    u = hash_uniform_sql("(id_a::VARCHAR || '|' || id_b::VARCHAR)",
                         seed="hn")
    return f"""
WITH base AS ({base})
SELECT id_a, id_b, jaccard
FROM base
WHERE jaccard < 0.9 AND {u} < 0.5
ORDER BY id_a, id_b"""


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge learning (Sennrich'16) over the documents
    corpus: one corpus pass builds the word histogram, then 6 merge
    rounds run on the vocabulary table — pair counts, deterministic
    argmax, greedy leftmost-non-overlapping merge fold. The oracle
    unrolls all 6 rounds; the fold is the same step function in
    Spark aggregate() and DuckDB list_reduce."""
    from llm_scraper_spark.operators.bpe import bpe_learn_merges

    docs = _t(spark, sf_dir, "documents").select("text")
    return bpe_learn_merges(docs, n_merges=6).orderBy("merge_rank")


def _bpe_merges_oracle_sql() -> str:
    from llm_scraper_spark.operators.bpe import bpe_oracle_sql

    # bpe_oracle_sql already ends in ORDER BY merge_rank
    return bpe_oracle_sql("SELECT text FROM documents", n_merges=6)


def q_stream_crawl(spark, sf_dir):
    """The composed CONTINUOUS crawl under the driver gate (VERDICT r3
    #7): stream_crawl (micro-batch == wave: canonicalize -> in-batch
    dedup -> cumulative-seen anti-join -> per-host politeness ->
    idempotent delta commits) driven over a deterministic 4-batch
    landing feed derived from documents. URLs collide both within and
    across batches (md5-derived key space ~N/3), so the schedule
    depends on every stage: in-batch first-occurrence, cross-batch
    seen suppression, and the per-batch budget. The oracle replays all
    4 batches as chained CTEs."""
    import os
    import shutil
    import uuid

    from llm_scraper_spark.streaming.ingest import stream_crawl

    tune_session(spark)
    run_id = uuid.uuid4().hex[:8]
    base = f"/tmp/spark_graft_stream_crawl_{run_id}"
    in_dir = os.path.join(base, "in")
    state = os.path.join(base, "state")
    os.makedirs(in_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n_urls = max(docs.count() // 3, 1)
    key = _md5_60bit(F.col("doc_id"), ":sc") % n_urls
    feed = docs.select(
        F.concat(F.lit("https://h"), (key % 5).cast("string"),
                 F.lit(".example.com/p/"), key.cast("string")).alias("url"),
        F.col("doc_id").alias("seq"),
        (F.col("doc_id") % 4).alias("batch"),
    )
    writer = stream_crawl(spark, in_dir, state, default_budget=3)
    query = writer.option(
        "checkpointLocation", os.path.join(base, "cp")).start()
    try:
        for b in range(4):
            (feed.filter(F.col("batch") == b).select("url", "seq")
             .coalesce(1).write.mode("append").parquet(in_dir))
            query.processAllAvailable()
        out = (
            spark.read.option("basePath", os.path.join(state, "schedule_log"))
            .parquet(os.path.join(state, "schedule_log"))
            .select(F.col("batch").cast("long").alias("batch"), "host",
                    "url", "seq", F.col("sched_rank").cast("long")
                    .alias("sched_rank"))
            .orderBy("batch", "host", "seq")
        )
        return out.localCheckpoint(eager=True)
    finally:
        query.stop()
        shutil.rmtree(base, ignore_errors=True)


def _stream_crawl_oracle_sql() -> str:
    feed = """
  SELECT 'https://h' || (k % 5)::VARCHAR || '.example.com/p/' || k::VARCHAR
             AS url,
         'h' || (k % 5)::VARCHAR || '.example.com' AS host,
         doc_id AS seq, doc_id % 4 AS batch
  FROM (SELECT doc_id,
               ('0x' || substring(md5(doc_id::VARCHAR || ':sc'), 1, 15))
                   ::BIGINT % (SELECT greatest(count(*) // 3, 1)
                               FROM documents) AS k
        FROM documents)"""
    parts = [f"WITH feed AS ({feed})"]
    seen_union = []
    for b in range(4):
        seen_filter = ""
        if seen_union:
            seen_sql = " UNION ALL ".join(
                f"SELECT url FROM {s}" for s in seen_union)
            seen_filter = f"AND url NOT IN ({seen_sql})"
        parts.append(f""",
b{b}c AS (
  SELECT url, host, min(seq) AS seq
  FROM feed WHERE batch = {b}
  GROUP BY url, host),
b{b}s AS (
  SELECT {b}::BIGINT AS batch, host, url, seq,
         rn::BIGINT AS sched_rank
  FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY host ORDER BY seq) AS rn
        FROM b{b}c
        WHERE TRUE {seen_filter})
  WHERE rn <= 3)""")
        seen_union.append(f"b{b}s")
    parts.append("""
SELECT * FROM (SELECT * FROM b0s UNION ALL SELECT * FROM b1s
               UNION ALL SELECT * FROM b2s UNION ALL SELECT * FROM b3s)
ORDER BY batch, host, seq""")
    return "".join(parts)


def q_compaction_exec(spark, sf_dir):
    """Compaction EXECUTED, not just planned (VERDICT r3 #5): fragment
    the documents table into 5 deterministic shard files (doc_id % 5),
    run sinks.compaction.compact_files with row-count packing (capacity
    = 2/5 of the corpus, so shards merge pairwise), then read the REAL
    post-compaction files back and report per-output-file stats. The
    oracle replays the shard counts + the packing window math and
    predicts exactly which shards each surviving file contains — the
    driver row-hash therefore gates the executed layout, not the plan."""
    import shutil
    import tempfile

    from llm_scraper_spark.sinks.compaction import compact_files, data_files

    tune_session(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = tempfile.mkdtemp(prefix="q_compaction_exec_", dir="/tmp")
    try:
        for s in range(5):
            (docs.filter(F.col("doc_id") % 5 == s).coalesce(1)
             .write.mode("overwrite").parquet(f"{base}/s{s}"))
        total = docs.count()
        cap = max(1, (total * 2) // 5)
        compact_files(spark, base, capacity=cap, by_rows=True)
        rows = []
        for rel, _size in data_files(base):
            r = spark.read.parquet(f"{base}/{rel}").agg(
                F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"),
                F.count(F.lit(1)).alias("n")).collect()[0]
            rows.append((int(r["mn"]), int(r["mx"]), int(r["n"])))
        return spark.createDataFrame(
            sorted(rows), "min_doc long, max_doc long, n_rows long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _compaction_exec_oracle_sql() -> str:
    return """
WITH shards AS (
  SELECT doc_id % 5 AS s, count(*)::BIGINT AS n,
         min(doc_id) AS mn, max(doc_id) AS mx
  FROM documents GROUP BY 1),
cap AS (SELECT greatest((sum(n) * 2) // 5, 1)::BIGINT AS c FROM shards),
cum AS (
  SELECT *, COALESCE(CAST(SUM(n) OVER (
      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS BIGINT), 0) AS cum0
  FROM shards)
SELECT min(mn)::BIGINT AS min_doc, max(mx)::BIGINT AS max_doc,
       sum(n)::BIGINT AS n_rows
FROM cum, cap
GROUP BY cum0 // cap.c
ORDER BY min_doc"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "top_customer_revenue": q_top_customer_revenue,
        "regional_supplier_volume": q_regional_supplier_volume,
        "revenue_filter": q_revenue_filter,
        "doc_textstats": q_doc_textstats,
        "dedup_exact": q_dedup_exact,
        "first_event_per_user": q_first_event_per_user,
        "politeness_topk": q_politeness_topk,
        "url_canonicalize": q_url_canonicalize,
        "cuckoo_dedup": q_cuckoo_dedup,
        "embedding_topk": q_embedding_topk,
        "ivf_topk": q_ivf_topk,
        "vector_pipeline": q_vector_pipeline,
        "pq_topk": q_pq_topk,
        "curation_pipeline": q_curation_pipeline,
        "dedup_clusters": q_dedup_clusters,
        "host_pagerank": q_host_pagerank,
        "trust_rank": q_trust_rank,
        "spam_mass": q_spam_mass,
        "hyperball_nf": q_hyperball_nf,
        "harmonic_centrality": q_harmonic_centrality,
        "host_coreness": q_host_coreness,
        "distance_distribution": q_distance_distribution,
        "bm25_rank": q_bm25_rank,
        "rendezvous_shards": q_rendezvous_shards,
        "latency_quantiles": q_latency_quantiles,
        "waterfill_budgets": q_waterfill_budgets,
        "mercator_schedule": q_mercator_schedule,
        "change_rate": q_change_rate,
        "url_entropy": q_url_entropy,
        "focused_relevance": q_focused_relevance,
        "dust_rewrite": q_dust_rewrite,
        "incremental_dedup": q_incremental_dedup,
        "mirror_hosts": q_mirror_hosts,
        "domain_cap": q_domain_cap,
        "budget_select": q_budget_select,
        "leakage_split": q_leakage_split,
        "pld_rollup": q_pld_rollup,
        "degree_powerlaw": q_degree_powerlaw,
        "reciprocity": q_reciprocity,
        "wilson_success": q_wilson_success,
        "containment_pairs": q_containment_pairs,
        "robots_wildcards": q_robots_wildcards,
        "triangle_stats": q_triangle_stats,
        "assortativity": q_assortativity,
        "canonical_election": q_canonical_election,
        "cdc_dedup": q_cdc_dedup,
        "cache_policy": q_cache_policy,
        "zipf_terms": q_zipf_terms,
        "authority_budgets": q_authority_budgets,
        "robots_gating": q_robots_gating,
        "interleave_pack": q_interleave_pack,
        "recrawl_schedule": q_recrawl_schedule,
        "stratified_sample": q_stratified_sample,
        "asof_join": q_asof_join,
        "tfidf_terms": q_tfidf_terms,
        "pack_sequences": q_pack_sequences,
        "line_dedup": q_line_dedup,
        "ngram_contamination": q_ngram_contamination,
        "pii_redact": q_pii_redact,
        "fingerprint": q_fingerprint,
        "token_count_bpe": q_token_count_bpe,
        "quality_score": q_quality_score,
        "repetition_signals": q_repetition_signals,
        "events_daily": q_events_daily,
        "sessionize": q_sessionize,
        "language_id": q_language_id,
        "minhash_neardup": q_minhash_neardup,
        "minhash_neardup_md5": q_minhash_neardup_md5,
        "simhash": q_simhash,
        "spans_documents": q_spans_documents,
        "vector_upsert": q_vector_upsert,
        "multimodal_features": q_multimodal_features,
        "audio_features": q_audio_features,
        "video_frames": q_video_frames,
        "image_resize": q_image_resize,
        "ann_topk": q_ann_topk,
        "ann_topk_md5": q_ann_topk_md5,
        "extract_articles": q_extract_articles,
        "pagination": q_pagination,
        "task_lookup": q_task_lookup,
        "rag_documents": q_rag_documents,
        "discovery_parse": q_discovery_parse,
        "crawl_schedule_log": q_crawl_schedule_log,
        "knn_join": q_knn_join,
        "knn_join_md5": q_knn_join_md5,
        "embedding_neardup_md5": q_embedding_neardup_md5,
        "ngram_jaccard": q_ngram_jaccard,
        "stream_host_budget": q_stream_host_budget,
        "result_sink_ttl": q_result_sink_ttl,
        "topic_dedupe_cap": q_topic_dedupe_cap,
        "url_hygiene": q_url_hygiene,
        "sitemap_priority_frontier": q_sitemap_priority_frontier,
        "rss_head_links": q_rss_head_links,
        "discovery_orchestration": q_discovery_orchestration,
        "crawl_diff": q_crawl_diff,
        "anchor_terms": q_anchor_terms,
        "stream_windowed_counts": q_stream_windowed_counts,
        "dedup_representatives": q_dedup_representatives,
        "warc_roundtrip": q_warc_roundtrip,
        "warc_cdx_fetch": q_warc_cdx_fetch,
        "surt_keys": q_surt_keys,
        "winnow_fingerprints": q_winnow_fingerprints,
        "trap_patterns": q_trap_patterns,
        "mime_sniff": q_mime_sniff,
        "domain_rollup": q_domain_rollup,
        "temperature_sample": q_temperature_sample,
        "winnow_pairs": q_winnow_pairs,
        "substring_dedup": q_substring_dedup,
        "hll_distinct": q_hll_distinct,
        "lm_score": q_lm_score,
        "dsir_resample": q_dsir_resample,
        "weighted_sample": q_weighted_sample,
        "semantic_dedup": q_semantic_dedup,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "stream_url_dedup": q_stream_url_dedup,
        "kmv_distinct": q_kmv_distinct,
        "mixture_build": q_mixture_build,
        "aimd_budgets": q_aimd_budgets,
        "media_content_dedup": q_media_content_dedup,
        "inverted_index": q_inverted_index,
        "host_hits": q_host_hits,
        "opic_scores": q_opic_scores,
        "dust_rules": q_dust_rules,
        "ewma_delay": q_ewma_delay,
        "host_communities": q_host_communities,
        "salsa_scores": q_salsa_scores,
        "cocitation": q_cocitation,
        "redirect_resolve": q_redirect_resolve,
        "zorder_layout": q_zorder_layout,
        "span_integrity": q_span_integrity,
        "ucb_schedule": q_ucb_schedule,
        "c4_filters": q_c4_filters,
        "crawl_value": q_crawl_value,
        "bowtie": q_bowtie,
        "media_text_align": q_media_text_align,
        "crawl_media_align": q_crawl_media_align,
        "embedding_pca": q_embedding_pca,
        "pack_efficiency": q_pack_efficiency,
        "stream_sessions": q_stream_sessions,
        "dot_segments": q_dot_segments,
        "fairness": q_fairness,
        "deepwalk": q_deepwalk,
        "skipgram": q_skipgram,
        "ring_shards": q_ring_shards,
        "ppmi": q_ppmi,
        "modularity": q_modularity,
        "pct_encoding": q_pct_encoding,
        "layout_pruned_read": q_layout_pruned_read,
        "bucketed_join": q_bucketed_join,
        "compaction_plan": q_compaction_plan,
        "hard_negatives": q_hard_negatives,
        "compaction_exec": q_compaction_exec,
        "stream_crawl": q_stream_crawl,
        "bpe_merges": q_bpe_merges,
    }


def oracle_sql() -> dict[str, str]:
    from llm_scraper_spark.operators.pq import pq_oracle_sql

    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_customer_revenue": """
            SELECT n_name,
                   round(sum(o_totalprice), 2) AS nation_revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY nation_revenue DESC
            LIMIT 10
        """,
        "regional_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
              AND r_name = 'ASIA'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC
        """,
        "revenue_filter": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
              AND l_discount >= 0.05 AND l_quantity < 24
        """,
        "doc_textstats": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '\w+')) AS n_words,
                   CAST(ceil(len(regexp_extract_all(text, '\w+')) * 1.33) AS INT) AS token_est,
                   round(len(regexp_extract_all(text, '\w+')) / 220.0, 2) AS reading_minutes
            FROM documents
        """,
        "dedup_exact": r"""
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
            ORDER BY doc_id
        """,
        "first_event_per_user": """
            SELECT user_id, min(event_id) AS event_id,
                   arg_min(event_type, event_id) AS event_type
            FROM events GROUP BY user_id
        """,
        "politeness_topk": """
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id) AS rnk,
                   event_id, round(value, 2) AS value
            FROM events
            QUALIFY rnk <= 2
        """,
        "url_canonicalize": """
            SELECT doc_id,
                   'http://' || lower(source) || '.example.com/path/' || doc_id AS canonical_url,
                   lower(source) || '.example.com' AS host,
                   md5('HTTP://' || upper(source) || '.Example.COM:80/path/' || doc_id || '#frag') AS key_hex
            FROM documents
        """,
        "cuckoo_dedup": """
            WITH u AS (
              SELECT doc_id,
                     'http://' || lower(source) || '.example.com/path/' || doc_id AS canonical_url
              FROM documents
            )
            SELECT doc_id, canonical_url
            FROM u
            WHERE canonical_url NOT IN (
              SELECT canonical_url FROM u WHERE doc_id % 3 = 0
            )
            ORDER BY doc_id
        """,
        "ivf_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1)
            SELECT e.vec_id,
                   round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id <> 1
            ORDER BY cos_sim DESC, e.vec_id
            LIMIT 5
        """,
        "vector_pipeline": _vector_pipeline_oracle_sql(),
        # Goldenless learned-codebook replay: md5-ranked init + every
        # integer Lloyd round + full-corpus encode + ADC, rebuilt in
        # DuckDB from the embeddings view alone (operators/pq.py).
        "pq_topk": pq_oracle_sql(
            "SELECT * FROM embeddings", _pq_query_vec(),
            m=8, k=8, iters=2, k_top=10, fit_rows=256, dim=64),
        "embedding_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
            FROM embeddings e, q
            WHERE e.vec_id <> 0
            ORDER BY cos_sim DESC, e.vec_id
            LIMIT 5
        """,
        "fingerprint": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            SELECT doc_id,
                   list_min(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                            i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS fp
            FROM t
            WHERE len(w) >= 3
        """,
        "token_count_bpe": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "quality_score": r"""
            WITH t AS (
              SELECT doc_id, text,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id, text, toks,
                     len(toks) AS nw,
                     len(list_filter(toks, x -> list_contains(
                       ['the','a','of','and','to','in','is','it','that','for',
                        'on','with','as','was','at','by','an','be','this','are'], x))) AS hits,
                     length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                       / greatest(length(text), 1) AS pr,
                     list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                       / greatest(len(toks), 1) AS mwl
              FROM t
            )
            SELECT doc_id,
                   round(0.25 * least(nw / 100.0, 1.0)
                       + 0.25 * least(hits::DOUBLE / greatest(nw, 1) * 4.0, 1.0)
                       + 0.25 * (CASE WHEN pr >= 0.005 AND pr <= 0.2 THEN 1.0 ELSE 0.0 END)
                       + 0.25 * (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END),
                     6) AS quality
            FROM s
        """,
        "repetition_signals": r"""
            WITH toks AS (
              SELECT doc_id, text,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS w
              FROM documents
            ), tri_rows AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, greatest(len(w) - 2, 0) + 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
              FROM toks
            ), tri_agg AS (
              SELECT doc_id,
                     1 - (count(DISTINCT s)::DOUBLE / count(*)) AS dup_3gram_frac
              FROM tri_rows GROUP BY doc_id
            ), bi_rows AS (
              SELECT doc_id, unnest(list_transform(
                       range(1, greatest(len(w) - 1, 0) + 1),
                       i -> w[i] || ' ' || w[i+1])) AS s
              FROM toks
            ), bi_counts AS (
              SELECT doc_id, s, count(*) AS c FROM bi_rows GROUP BY doc_id, s
            ), bi_agg AS (
              SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_2gram_frac
              FROM bi_counts GROUP BY doc_id
            ), lines AS (
              SELECT doc_id,
                     1 - (len(list_distinct(string_split(text, chr(10))))::DOUBLE
                          / len(string_split(text, chr(10)))) AS dup_line_frac
              FROM documents
            )
            SELECT l.doc_id, l.dup_line_frac,
                   coalesce(t.dup_3gram_frac, 0.0) AS dup_3gram_frac,
                   coalesce(b.top_2gram_frac, 0.0) AS top_2gram_frac
            FROM lines l
            LEFT JOIN tri_agg t USING (doc_id)
            LEFT JOIN bi_agg b USING (doc_id)
        """,
        "events_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   count(*) AS n, round(sum(value), 2) AS total_value
            FROM events
            GROUP BY 1, 2 ORDER BY day, event_type
        """,
        "sessionize": """
            WITH x AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, sum(ns)::BIGINT AS n_sessions, count(*) AS n_events
            FROM x GROUP BY user_id
        """,
        "extract_articles": r"""
            SELECT 'https://ex.com/' || doc_id AS url,
                   'Doc ' || doc_id AS title,
                   trim(regexp_replace(regexp_replace(text, '[\r\n\t]+', ' ', 'g'),
                                       ' {2,}', ' ', 'g')) AS content,
                   1 AS n_spans
            FROM documents
        """,
        "pagination": """
            SELECT event_id, event_type FROM events
            ORDER BY event_id LIMIT 50 OFFSET 100
        """,
        "discovery_parse": """
            SELECT 'https://' || source || '.example.com/sitemap.xml' AS feed_url,
                   0 AS link_idx,
                   'https://' || source || '.example.com/p/' || doc_id AS url
            FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT 'https://' || source || '.example.com/sitemap.xml',
                   1, 'https://' || source || '.example.com/q/' || doc_id
            FROM documents WHERE doc_id < 200
        """,
        "task_lookup": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE doc_id < 50 AND doc_id % 3 = 0
        """,
        "vector_upsert": """
            SELECT vec_id, 'new' AS source, len(embedding) AS dim
            FROM embeddings WHERE vec_id % 7 = 0
            UNION ALL
            SELECT vec_id, 'old' AS source, len(embedding) AS dim
            FROM embeddings WHERE vec_id % 7 <> 0
        """,
        # Exact twin of operators/text_analysis.py language_id: tokens =
        # split(lower(trim(text)), '\s+'); per-language stopword-hit count;
        # argmax with (hits, lang) tie-break = struct max (DuckDB struct
        # comparison is field-by-field, same as Spark greatest-of-structs).
        "language_id": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ), per AS (
              SELECT doc_id, 'en' AS lang,
                   len(list_filter(t, x -> list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for', 'on', 'with', 'as', 'was', 'at', 'by', 'an', 'be', 'this', 'are'], x))) AS hits
              FROM toks
              UNION ALL
              SELECT doc_id, 'de' AS lang,
                   len(list_filter(t, x -> list_contains(['der', 'die', 'das', 'und', 'ist', 'ein', 'eine', 'zu', 'den', 'von', 'mit', 'auf', 'für', 'im', 'nicht', 'sich', 'auch'], x))) AS hits
              FROM toks
              UNION ALL
              SELECT doc_id, 'fr' AS lang,
                   len(list_filter(t, x -> list_contains(['le', 'la', 'les', 'de', 'des', 'et', 'est', 'un', 'une', 'dans', 'que', 'pour', 'qui', 'sur', 'pas', 'au', 'plus'], x))) AS hits
              FROM toks
              UNION ALL
              SELECT doc_id, 'es' AS lang,
                   len(list_filter(t, x -> list_contains(['el', 'la', 'los', 'las', 'de', 'y', 'es', 'un', 'una', 'en', 'que', 'por', 'con', 'para', 'no', 'se', 'su'], x))) AS hits
              FROM toks
              UNION ALL
              SELECT doc_id, 'vi' AS lang,
                   len(list_filter(t, x -> list_contains(['và', 'của', 'là', 'có', 'được', 'cho', 'này', 'một', 'những', 'các', 'với', 'không', 'người', 'trong'], x))) AS hits
              FROM toks
            ), best AS (
              SELECT doc_id, max({'hits': hits, 'lang': lang}) AS b
              FROM per GROUP BY doc_id
            )
            SELECT doc_id,
                   CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS lang_pred
            FROM best
        """,
        "minhash_neardup": """
            SELECT id_a, id_b, n_match::INT AS n_match, est_jaccard
            FROM read_parquet('/root/repo/goldens/minhash_pairs_sf0.01.parquet')
        """,
        "minhash_neardup_md5": _minhash_oracle_sql(),
        "curation_pipeline": _curation_oracle_sql(),
        "line_dedup": _line_dedup_oracle_sql(),
        "dedup_clusters": _dedup_clusters_oracle_sql(),
        "host_pagerank": _host_pagerank_oracle_sql(),
        "trust_rank": _trust_rank_oracle_sql(),
        "spam_mass": _spam_mass_oracle_sql(),
        "hyperball_nf": _hyperball_nf_oracle_sql(),
        "harmonic_centrality": _harmonic_centrality_oracle_sql(),
        "host_coreness": _host_coreness_oracle_sql(),
        "distance_distribution": _distance_distribution_oracle_sql(),
        "bm25_rank": _bm25_rank_oracle_sql(),
        "rendezvous_shards": _rendezvous_shards_oracle_sql(),
        "latency_quantiles": _latency_quantiles_oracle_sql(),
        "waterfill_budgets": _waterfill_budgets_oracle_sql(),
        "mercator_schedule": _mercator_schedule_oracle_sql(),
        "change_rate": _change_rate_oracle_sql(),
        "url_entropy": _url_entropy_oracle_sql(),
        "focused_relevance": _focused_relevance_oracle_sql(),
        "dust_rewrite": _dust_rewrite_oracle_sql(),
        "incremental_dedup": _incremental_dedup_oracle_sql(),
        "mirror_hosts": _mirror_hosts_oracle_sql(),
        "domain_cap": _domain_cap_oracle_sql(),
        "budget_select": _budget_select_oracle_sql(),
        "leakage_split": _leakage_split_oracle_sql(),
        "pld_rollup": _pld_rollup_oracle_sql(),
        "degree_powerlaw": _degree_powerlaw_oracle_sql(),
        "reciprocity": _reciprocity_oracle_sql(),
        "wilson_success": _wilson_success_oracle_sql(),
        "containment_pairs": _containment_pairs_oracle_sql(),
        "robots_wildcards": _robots_wildcards_oracle_sql(),
        "triangle_stats": _triangle_stats_oracle_sql(),
        "assortativity": _assortativity_oracle_sql(),
        "canonical_election": _canonical_election_oracle_sql(),
        "cdc_dedup": _cdc_dedup_oracle_sql(),
        "cache_policy": _cache_policy_oracle_sql(),
        "zipf_terms": _zipf_terms_oracle_sql(),
        "host_hits": _host_hits_oracle_sql(),
        "opic_scores": _opic_scores_oracle_sql(),
        "dust_rules": _dust_rules_oracle_sql(),
        "ewma_delay": _ewma_delay_oracle_sql(),
        "host_communities": _host_communities_oracle_sql(),
        "salsa_scores": _salsa_oracle_sql(),
        "cocitation": _cocitation_oracle_sql(),
        "redirect_resolve": _redirect_resolve_oracle_sql(),
        "zorder_layout": _zorder_layout_oracle_sql(),
        "span_integrity": _span_integrity_oracle_sql(),
        "ucb_schedule": _ucb_schedule_oracle_sql(),
        "c4_filters": _c4_filters_oracle_sql(),
        "crawl_value": _crawl_value_oracle_sql(),
        "bowtie": _bowtie_oracle_sql(),
        "media_text_align": _media_text_align_oracle_sql(),
        "crawl_media_align": _crawl_media_align_oracle_sql(),
        "embedding_pca": _embedding_pca_oracle_sql(),
        "pack_efficiency": _pack_efficiency_oracle_sql(),
        "stream_sessions": _stream_sessions_oracle_sql(),
        "dot_segments": _dot_segments_oracle_sql(),
        "fairness": _fairness_oracle_sql(),
        "deepwalk": _deepwalk_oracle_sql(),
        "skipgram": _skipgram_oracle_sql(),
        "ring_shards": _ring_shards_oracle_sql(),
        "ppmi": _ppmi_oracle_sql(),
        "modularity": _modularity_oracle_sql(),
        "pct_encoding": _pct_encoding_oracle_sql(),
        "layout_pruned_read": _layout_pruned_read_oracle_sql(),
        "bucketed_join": _bucketed_join_oracle_sql(),
        "compaction_plan": _compaction_plan_oracle_sql(),
        "hard_negatives": _hard_negatives_oracle_sql(),
        "compaction_exec": _compaction_exec_oracle_sql(),
        "stream_crawl": _stream_crawl_oracle_sql(),
        "bpe_merges": _bpe_merges_oracle_sql(),
        "authority_budgets": _authority_budgets_oracle_sql(),
        "robots_gating": _robots_gating_oracle_sql(),
        "interleave_pack": _interleave_pack_oracle_sql(),
        "recrawl_schedule": _recrawl_oracle_sql(),
        "stratified_sample": _stratified_sample_oracle_sql(),
        "asof_join": _asof_oracle_sql(),
        "tfidf_terms": _tfidf_oracle_sql(),
        "pack_sequences": _pack_oracle_sql(),
        "ngram_contamination": _contamination_oracle_sql(),
        "pii_redact": _pii_oracle_sql(),
        "simhash": _simhash_oracle_sql(),
        # golden-backed oracles: DuckDB recomputes from committed parquet
        # reference points (goldens/ — see jobs/make_goldens.py for the
        # validity chain of each golden)
        "spans_documents": """
            SELECT doc_id,
                   count(*)::INT AS n_spans,
                   sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END)::INT AS n_text_spans,
                   sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)::INT AS n_media_spans,
                   md5(string_agg(
                       kind || '|' || md5(coalesce(text, '')) || '|' ||
                       coalesce(media_ref, '') || '|' || "offset"::VARCHAR,
                       ';' ORDER BY "offset")) AS span_digest
            FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
            GROUP BY doc_id
        """,
        "rag_documents": """
            WITH t AS (
              SELECT doc_id, text, "offset",
                     row_number() OVER (PARTITION BY doc_id ORDER BY "offset") - 1
                       AS chunk_index
              FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
              WHERE kind = 'text'
            )
            SELECT doc_id || '-chunk-' || chunk_index::VARCHAR AS id,
                   doc_id, chunk_index::INT AS chunk_index,
                   length(text)::INT AS n_chars, md5(text) AS text_md5
            FROM t
        """,
        "ann_topk": """
            WITH c AS (SELECT vec_id
                       FROM read_parquet('/root/repo/goldens/ann_candidates_sf0.01.parquet')),
                 q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
            FROM embeddings e JOIN c USING (vec_id), q
            ORDER BY cos_sim DESC, e.vec_id
            LIMIT 5
        """,
        # ann_topk_md5: NO goldens — the oracle rebuilds the md5-Rademacher
        # sign matrix, the 2^20 fixed-point projections, the 6-bit buckets,
        # the radius-1 multi-probe candidate set, and the exact rerank from
        # the corpus parquet alone (integer projections are summation-order
        # independent, so Spark codegen and DuckDB GROUP BY agree bit-for-bit).
        "ann_topk_md5": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
                 dims AS (SELECT unnest(range(64)) AS d),
                 ps AS (SELECT unnest(range(6)) AS p),
                 signs AS (
                   SELECT p, d,
                          CASE WHEN ('0x' || substring(md5('hp:42:' || p || ':' || d), 1, 15))::BIGINT % 2 = 0
                               THEN 1 ELSE -1 END AS s
                   FROM ps CROSS JOIN dims),
                 qproj AS (
                   SELECT s.p, sum(s.s * floor(q.qv[s.d + 1] * 1048576)::BIGINT)::BIGINT AS proj
                   FROM signs s CROSS JOIN q GROUP BY s.p),
                 qbucket AS (SELECT sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END)::BIGINT AS qb
                             FROM qproj),
                 eproj AS (
                   SELECT e.vec_id, s.p,
                          sum(s.s * floor(e.embedding[s.d + 1]::DOUBLE * 1048576)::BIGINT)::BIGINT AS proj
                   FROM embeddings e CROSS JOIN signs s WHERE e.vec_id <> 0
                   GROUP BY e.vec_id, s.p),
                 ebucket AS (
                   SELECT vec_id, sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END)::BIGINT AS b
                   FROM eproj GROUP BY vec_id),
                 cand AS (SELECT vec_id FROM ebucket, qbucket
                          WHERE bit_count(xor(b, qb)) <= 1)
            SELECT e.vec_id,
                   round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
                         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                          sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
            FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
            ORDER BY cos_sim DESC, e.vec_id
            LIMIT 5
        """,
        "multimodal_features": """
            WITH m AS (
              SELECT doc_id, media_ref, "offset"
              FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
              WHERE kind = 'media'
            ), d AS (
              SELECT doc_id || '#' || "offset"::VARCHAR AS asset_id, doc_id, media_ref,
                     CASE (('0x' || substring(md5(media_ref), 5, 2))::INT % 3)
                       WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'image/gif' END AS mime,
                     (16 + ('0x' || substring(md5(media_ref), 1, 2))::INT)::INT AS width,
                     (16 + ('0x' || substring(md5(media_ref), 3, 2))::INT)::INT AS height
              FROM m
            )
            SELECT asset_id, doc_id, media_ref, mime, width, height,
                   true AS decoded_ok, 64::INT AS feature_dim,
                   round((('0x' || substring(md5(media_ref), 7, 2))::INT) / 255.0, 6)
                     AS pix_mean_r,
                   round((('0x' || substring(md5(media_ref), 9, 2))::INT) / 255.0, 6)
                     AS pix_mean_g,
                   round((('0x' || substring(md5(media_ref), 11, 2))::INT) / 255.0, 6)
                     AS pix_mean_b,
                   1.0 AS pix_hist_max,
                   f.i::INT AS frame_idx, (4096 * f.i // 2)::BIGINT AS frame_offset
            FROM d CROSS JOIN (SELECT unnest([0, 1]) AS i) f
        """,
        # audio_features: closed-form recomputation of every DECODED value
        # (multimodal.audio_params_of contract: A = 1 + hex[0:4] % 32767,
        # n = 512 + hex[6:8]*2, half-period p = 2 + hex[8:10] % 14; the
        # Spark side derives these from the actually-decoded PCM samples)
        "audio_features": """
            WITH m AS (
              SELECT doc_id, media_ref, "offset"
              FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
              WHERE kind = 'media'
            ), d AS (
              SELECT doc_id || '#' || "offset"::VARCHAR AS asset_id, doc_id,
                     media_ref,
                     1 + ('0x' || substring(md5(media_ref), 1, 4))::INT % 32767
                       AS amp,
                     512 + ('0x' || substring(md5(media_ref), 7, 2))::INT * 2
                       AS n,
                     2 + ('0x' || substring(md5(media_ref), 9, 2))::INT % 14
                       AS p
              FROM m
            )
            SELECT asset_id, doc_id, media_ref, 'audio/wav' AS mime,
                   8000::INT AS sample_rate, n::INT AS n_samples,
                   ((n * 1000) // 8000)::INT AS duration_ms,
                   round(amp / 32768.0, 6) AS rms_norm,
                   round(((n - 1) // p) / (n - 1.0), 6) AS zcr,
                   ((n - 1) // p)::INT AS n_flips,
                   true AS decoded_ok
            FROM d
        """,
        # video_frames: closed-form recomputation of the animated-GIF
        # demux (multimodal contract: dims from asset_dims_of, n_frames =
        # 2 + hex[12:14] % 3, delay = 4 + hex[14:16] % 96, frame-k color
        # = png_rgb_of stepped by (17,23,29)k mod 256)
        "video_frames": """
            WITH m AS (
              SELECT doc_id, media_ref, "offset"
              FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
              WHERE kind = 'media'
            ), d AS (
              SELECT doc_id || '#' || "offset"::VARCHAR AS asset_id, doc_id,
                     media_ref,
                     (16 + ('0x' || substring(md5(media_ref), 1, 2))::INT)::INT
                       AS width,
                     (16 + ('0x' || substring(md5(media_ref), 3, 2))::INT)::INT
                       AS height,
                     ('0x' || substring(md5(media_ref), 7, 2))::INT AS r0,
                     ('0x' || substring(md5(media_ref), 9, 2))::INT AS g0,
                     ('0x' || substring(md5(media_ref), 11, 2))::INT AS b0,
                     2 + ('0x' || substring(md5(media_ref), 13, 2))::INT % 3
                       AS n_frames,
                     4 + ('0x' || substring(md5(media_ref), 15, 2))::INT % 96
                       AS delay_cs
              FROM m
            )
            SELECT asset_id, doc_id, media_ref, 'video/gif' AS mime,
                   n_frames::INT AS n_frames, f.k::INT AS frame_idx,
                   delay_cs::INT AS delay_cs, width, height,
                   round(((r0 + 17 * f.k) % 256) / 255.0, 6) AS mean_r,
                   round(((g0 + 23 * f.k) % 256) / 255.0, 6) AS mean_g,
                   round(((b0 + 29 * f.k) % 256) / 255.0, 6) AS mean_b
            FROM d CROSS JOIN (SELECT unnest(range(4)) AS k) f
            WHERE f.k < n_frames
        """,
        # image_resize: NN-resize of a constant-color image is the same
        # constant, so resized means equal the md5-derived color exactly;
        # src dims are the header dims (asset_dims_of)
        "image_resize": """
            WITH m AS (
              SELECT doc_id, media_ref, "offset"
              FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
              WHERE kind = 'media'
            )
            SELECT doc_id || '#' || "offset"::VARCHAR AS asset_id, doc_id,
                   media_ref,
                   CASE (('0x' || substring(md5(media_ref), 5, 2))::INT % 3)
                     WHEN 0 THEN 'image/png'
                     WHEN 1 THEN 'image/jpeg'
                     ELSE 'image/gif' END AS mime,
                   (16 + ('0x' || substring(md5(media_ref), 1, 2))::INT)::INT
                     AS src_width,
                   (16 + ('0x' || substring(md5(media_ref), 3, 2))::INT)::INT
                     AS src_height,
                   32::INT AS out_width, 32::INT AS out_height,
                   round((('0x' || substring(md5(media_ref), 7, 2))::INT)
                         / 255.0, 6) AS mean_r,
                   round((('0x' || substring(md5(media_ref), 9, 2))::INT)
                         / 255.0, 6) AS mean_g,
                   round((('0x' || substring(md5(media_ref), 11, 2))::INT)
                         / 255.0, 6) AS mean_b,
                   true AS decoded_ok
            FROM m
        """,
        "crawl_schedule_log": """
            SELECT wave::INT AS wave, seq::BIGINT AS seq, url
            FROM read_parquet('/root/repo/goldens/crawl_schedule_log.parquet')
        """,
        # bucket assignment from the committed golden (numpy-seeded, no SQL
        # twin — pinned by tests/test_goldens); the join/cosine/top-k below
        # is a full independent DuckDB recomputation
        "knn_join": """
            WITH b AS (
              SELECT vec_id, bucket
              FROM read_parquet('/root/repo/goldens/knn_buckets_sf0.01.parquet')
            ), e AS (
              SELECT emb.vec_id, emb.embedding::DOUBLE[] AS v, b.bucket
              FROM embeddings emb JOIN b USING (vec_id)
            ), prs AS (
              SELECT l.vec_id AS lid, r.vec_id AS rid,
                     list_dot_product(l.v, r.v) /
                       (sqrt(list_dot_product(l.v, l.v)) *
                        sqrt(list_dot_product(r.v, r.v))) AS cos
              FROM e l JOIN e r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
            ), ranked AS (
              SELECT lid, rid, cos,
                     row_number() OVER (
                       PARTITION BY lid ORDER BY cos DESC, rid) AS rank
              FROM prs
            )
            SELECT lid, rid, round(cos, 6) AS cos_sim, rank::INT AS rank
            FROM ranked WHERE rank <= 3 ORDER BY lid, rank
        """,
        # knn_join_md5: NO goldens — buckets, join, cosine, and ranking all
        # rebuilt from the corpus parquet (see ann_topk_md5 for the
        # md5-Rademacher + 2^20 fixed-point construction).
        "knn_join_md5": """
            WITH dims AS (SELECT unnest(range(64)) AS d),
                 ps AS (SELECT unnest(range(6)) AS p),
                 signs AS (
                   SELECT p, d,
                          CASE WHEN ('0x' || substring(md5('hp:42:' || p || ':' || d), 1, 15))::BIGINT % 2 = 0
                               THEN 1 ELSE -1 END AS s
                   FROM ps CROSS JOIN dims),
                 eproj AS (
                   SELECT e.vec_id, s.p,
                          sum(s.s * floor(e.embedding[s.d + 1]::DOUBLE * 1048576)::BIGINT)::BIGINT AS proj
                   FROM embeddings e CROSS JOIN signs s
                   GROUP BY e.vec_id, s.p),
                 ebucket AS (
                   SELECT vec_id, sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END)::BIGINT AS b
                   FROM eproj GROUP BY vec_id),
                 e AS (
                   SELECT emb.vec_id, emb.embedding::DOUBLE[] AS v, eb.b AS bucket
                   FROM embeddings emb JOIN ebucket eb USING (vec_id)),
                 prs AS (
                   SELECT l.vec_id AS lid, r.vec_id AS rid,
                          list_dot_product(l.v, r.v) /
                            (sqrt(list_dot_product(l.v, l.v)) *
                             sqrt(list_dot_product(r.v, r.v))) AS cos
                   FROM e l JOIN e r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id),
                 ranked AS (
                   SELECT lid, rid, cos,
                          row_number() OVER (
                            PARTITION BY lid ORDER BY cos DESC, rid) AS rank
                   FROM prs)
            SELECT lid, rid, round(cos, 6) AS cos_sim, rank::INT AS rank
            FROM ranked WHERE rank <= 3 ORDER BY lid, rank
        """,
        # embedding_neardup_md5: NO goldens — same md5-Rademacher chain as
        # knn_join_md5, ending in a pair threshold instead of a top-k window.
        "embedding_neardup_md5": """
            WITH dims AS (SELECT unnest(range(64)) AS d),
                 ps AS (SELECT unnest(range(6)) AS p),
                 signs AS (
                   SELECT p, d,
                          CASE WHEN ('0x' || substring(md5('hp:42:' || p || ':' || d), 1, 15))::BIGINT % 2 = 0
                               THEN 1 ELSE -1 END AS s
                   FROM ps CROSS JOIN dims),
                 eproj AS (
                   SELECT e.vec_id, s.p,
                          sum(s.s * floor(e.embedding[s.d + 1]::DOUBLE * 1048576)::BIGINT)::BIGINT AS proj
                   FROM embeddings e CROSS JOIN signs s
                   GROUP BY e.vec_id, s.p),
                 ebucket AS (
                   SELECT vec_id, sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END)::BIGINT AS b
                   FROM eproj GROUP BY vec_id),
                 e AS (
                   SELECT emb.vec_id, emb.embedding::DOUBLE[] AS v, eb.b AS bucket
                   FROM embeddings emb JOIN ebucket eb USING (vec_id)),
                 prs AS (
                   SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                          list_dot_product(l.v, r.v) /
                            (sqrt(list_dot_product(l.v, l.v)) *
                             sqrt(list_dot_product(r.v, r.v))) AS cos
                   FROM e l JOIN e r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
            SELECT id_a, id_b, round(cos, 6) AS cos_sim
            FROM prs WHERE cos >= 0.30 ORDER BY id_a, id_b
        """,
        "ngram_jaccard": _ngram_jaccard_oracle_sql(),
        "rss_head_links": """
            WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 200)
            SELECT doc_id, i.link_idx::INT AS link_idx,
                   CASE i.link_idx
                     WHEN 0 THEN 'https://' || source || '.example.com/feeds/'
                                 || doc_id || '.xml'
                     ELSE 'https://cdn.' || source || '.example.com/atom.xml'
                   END AS feed_url
            FROM d CROSS JOIN (SELECT unnest([0, 1]) AS link_idx) i
            ORDER BY doc_id, link_idx
        """,
        "discovery_orchestration": """
            WITH h AS (
              SELECT DISTINCT source || '.example.com' AS host FROM documents
            )
            SELECT host, url FROM (
              SELECT host, 'https://' || host || '/p/a' AS url FROM h
              UNION ALL SELECT host, 'https://' || host || '/p/b' FROM h
              UNION ALL SELECT host, 'https://' || host || '/r/1' FROM h
            ) ORDER BY host, url
        """,
        "stream_host_budget": """
            SELECT host, url, seq FROM (
              SELECT source AS host,
                     'https://' || source || '.example.com/' || doc_id AS url,
                     doc_id AS seq,
                     row_number() OVER (
                       PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn <= 12 ORDER BY host, seq
        """,
        # result_sink_ttl: the Spark side round-trips through the real
        # CrawlState sink (write -> ledger commit -> TTL expire -> snapshot
        # read); with wave = doc_id % 5 and keep_last_n_waves=2 the
        # survivors are a pure function of doc_id.
        "result_sink_ttl": """
            SELECT doc_id, doc_id % 5 AS wave_part
            FROM documents WHERE doc_id % 5 >= 3 ORDER BY doc_id
        """,
        # topic_dedupe_cap: first-occurrence order recomputed independently
        # (min(pos) per token + row_number) — DuckDB's list_distinct does
        # not guarantee order, so this is NOT a transliteration of
        # array_distinct.
        "topic_dedupe_cap": """
            WITH arrs AS (
              SELECT doc_id, string_split(text, ' ')[1:12] AS arr
              FROM documents
            ), toks AS (
              SELECT doc_id, unnest(arr) AS w,
                     generate_subscripts(arr, 1) AS pos
              FROM arrs
            ), firsts AS (
              SELECT doc_id, w, min(pos) AS p FROM toks GROUP BY doc_id, w
            ), ranked AS (
              SELECT doc_id, w,
                     row_number() OVER (PARTITION BY doc_id ORDER BY p) AS r
              FROM firsts
            )
            SELECT doc_id, string_agg(w, '|' ORDER BY r) AS topics
            FROM ranked WHERE r <= 5 GROUP BY doc_id ORDER BY doc_id
        """,
        "url_hygiene": _url_hygiene_oracle_sql(),
        # sitemap_priority_frontier: the oracle never parses XML — every
        # field is a closed form of doc_id, and the priority window is
        # replayed directly.
        "sitemap_priority_frontier": """
            WITH e AS (
              SELECT source || '.example.com' AS host,
                     'https://' || source || '.example.com/p/' || doc_id
                       AS url,
                     CASE WHEN doc_id % 3 = 0 THEN NULL
                          ELSE '2026-01-' ||
                               lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                     END AS lastmod,
                     ['daily','weekly','monthly','yearly']
                       [CAST(doc_id % 4 AS INT) + 1] AS changefreq,
                     CASE WHEN doc_id % 5 = 0 THEN 0.5
                          ELSE ((doc_id * 37) % 10) / 10.0 END AS priority,
                     doc_id AS seq
              FROM documents
            ), r AS (
              SELECT *, row_number() OVER (
                       PARTITION BY host
                       ORDER BY priority DESC, seq ASC) AS sched_rank
              FROM e
            )
            SELECT host, url, lastmod, changefreq,
                   round(priority, 6) AS priority, seq,
                   CAST(sched_rank AS INT) AS sched_rank
            FROM r WHERE sched_rank <= 3 ORDER BY host, sched_rank
        """,
        # crawl_diff: full independent recompute — both snapshots are
        # closed forms of event_id, the diff is DuckDB's own FULL OUTER
        # JOIN + CASE.
        "crawl_diff": """
            WITH ids AS (SELECT DISTINCT event_id FROM events),
            p AS (
              SELECT 'u' || event_id::VARCHAR AS url,
                     (('0x' || substring(md5(event_id::VARCHAR || ':pa'),
                                         1, 15))::BIGINT % 5)::VARCHAR
                       AS prev_fingerprint
              FROM ids WHERE event_id % 7 <> 0
            ),
            c AS (
              SELECT 'u' || event_id::VARCHAR AS url,
                     CASE WHEN event_id % 3 = 0 THEN
                       (('0x' || substring(md5(event_id::VARCHAR || ':pa'),
                                           1, 15))::BIGINT % 5)::VARCHAR
                     ELSE
                       (('0x' || substring(md5(event_id::VARCHAR || ':pb'),
                                           1, 15))::BIGINT % 5)::VARCHAR
                     END AS curr_fingerprint
              FROM ids WHERE event_id % 5 <> 0
            )
            SELECT COALESCE(p.url, c.url) AS url,
                   prev_fingerprint, curr_fingerprint,
                   CASE WHEN prev_fingerprint IS NULL THEN 'new'
                        WHEN curr_fingerprint IS NULL THEN 'vanished'
                        WHEN prev_fingerprint = curr_fingerprint
                          THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM p FULL OUTER JOIN c ON p.url = c.url
            ORDER BY url
        """,
        # anchor_terms: anchors rebuilt closed-form, then DuckDB's own
        # string_split/unnest/count/row_number replay the rollup.
        "anchor_terms": """
            WITH e AS (
              SELECT 'h' || (('0x' || substring(md5(event_id::VARCHAR
                       || ':ad'), 1, 15))::BIGINT % 25)::VARCHAR AS dst,
                     'w' || (('0x' || substring(md5(event_id::VARCHAR
                       || ':a0'), 1, 15))::BIGINT % 8)::VARCHAR || ' ' ||
                     'w' || (('0x' || substring(md5(event_id::VARCHAR
                       || ':a1'), 1, 15))::BIGINT % 8)::VARCHAR || ' ' ||
                     'w' || (('0x' || substring(md5(event_id::VARCHAR
                       || ':a2'), 1, 15))::BIGINT % 8)::VARCHAR AS anchor
              FROM events
            ), t AS (
              SELECT dst, unnest(string_split(anchor, ' ')) AS term FROM e
            ), cnt AS (
              SELECT dst, term, COUNT(*) AS n FROM t
              WHERE term <> '' GROUP BY dst, term
            ), r AS (
              SELECT dst, term, n,
                     CAST(row_number() OVER (
                       PARTITION BY dst ORDER BY n DESC, term) AS INT)
                       AS term_rank
              FROM cnt
            )
            SELECT dst, term, n, term_rank FROM r
            WHERE term_rank <= 3 ORDER BY dst, term_rank
        """,
        # stream_windowed_counts: the watermarked streaming emission must
        # equal the plain batch GROUP BY — window_start recomputed
        # closed-form (epoch seconds), no timestamps in the compare.
        "stream_windowed_counts": """
            SELECT 1700000000 + ((doc_id % 97) // 10) * 10 AS window_start,
                   source AS host, COUNT(*) AS n_events
            FROM documents
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # dedup_representatives: the full closure chain recomputed
        # recursively + the same quality/tiebreak arg-max via row_number.
        "dedup_representatives": _dedup_representatives_oracle_sql(),
        # warc_roundtrip: the synthesized corpus's closed forms recomputed
        # directly — uri/status/ctype plus body length and md5. The Spark
        # side only matches if serialize -> gzip -> shard -> parse is
        # byte-faithful end-to-end.
        "warc_roundtrip": """
            WITH ids AS (SELECT DISTINCT event_id FROM events),
            r AS (
              SELECT 'http://h' || (event_id % 40)::VARCHAR || '.example/p'
                       || event_id::VARCHAR AS target_uri,
                     CASE WHEN event_id % 17 = 0 THEN 404 ELSE 200 END
                       AS http_status,
                     CASE WHEN event_id % 2 = 0 THEN 'text/html'
                          ELSE 'text/plain' END AS content_type,
                     repeat(md5(event_id::VARCHAR || ':wb'),
                            (event_id % 3 + 1)::INT) AS body
              FROM ids
            )
            SELECT target_uri, CAST(http_status AS INT) AS http_status,
                   content_type, CAST(length(body) AS BIGINT) AS payload_len,
                   md5(body) AS payload_md5
            FROM r ORDER BY target_uri
        """,
        # warc_cdx_fetch: the 404-selected subset of the same closed-form
        # corpus — selective CDX access must return exactly these rows,
        # byte-faithfully (payload md5).
        "warc_cdx_fetch": """
            WITH ids AS (SELECT DISTINCT event_id FROM events),
            r AS (
              SELECT 'http://h' || (event_id % 40)::VARCHAR || '.example/p'
                       || event_id::VARCHAR AS target_uri,
                     CASE WHEN event_id % 2 = 0 THEN 'text/html'
                          ELSE 'text/plain' END AS content_type,
                     repeat(md5(event_id::VARCHAR || ':wb'),
                            (event_id % 3 + 1)::INT) AS body
              FROM ids WHERE event_id % 17 = 0
            )
            SELECT target_uri, CAST(404 AS INT) AS http_status,
                   content_type, CAST(length(body) AS BIGINT) AS payload_len,
                   md5(body) AS payload_md5
            FROM r ORDER BY target_uri
        """,
        # surt_keys: the identical closed-form URL corpus and the identical
        # lower/regexp/split/reverse/join SURT chain replayed in DuckDB.
        "surt_keys": """
            WITH ids AS (SELECT DISTINCT event_id FROM events),
            u AS (
              SELECT (CASE WHEN event_id % 3 = 0 THEN 'http://www.'
                           ELSE 'http://' END)
                     || 'h' || (event_id % 40)::VARCHAR
                     || (CASE WHEN event_id % 2 = 0 THEN '.example.com'
                              ELSE '.example.org' END)
                     || '/p' || event_id::VARCHAR
                     || (CASE WHEN event_id % 5 = 0
                              THEN '?q=' || (event_id % 7)::VARCHAR
                              ELSE '' END) AS url
              FROM ids
            ), parts AS (
              SELECT url,
                     regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
                     regexp_extract(lower(url),
                       '^[a-z][a-z0-9+.-]*://[^/?#]+(.*)$', 1) AS tail
              FROM u
            )
            SELECT url,
                   array_to_string(list_reverse(string_split(
                     regexp_replace(host, '^www\\.', ''), '.')), ',')
                     || ')' || tail AS surt
            FROM parts ORDER BY url
        """,
        # winnow_fingerprints: the identical gram-hash / window-min /
        # distinct chain replayed with DuckDB list functions (k=3, w=4,
        # md5 hex lexicographic min — both engines compare ASCII hex).
        "winnow_fingerprints": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            ), g AS (
              SELECT doc_id,
                     list_transform(range(1, len(toks) - 1), i ->
                       md5(array_to_string(toks[i:i+2], ' '))) AS grams
              FROM t
            ), f AS (
              SELECT doc_id,
                     CASE WHEN len(grams) >= 4 THEN
                       list_distinct(list_transform(
                         range(1, len(grams) - 2), j ->
                           list_aggregate(grams[j:j+3], 'min')))
                     WHEN len(grams) >= 1 THEN
                       [list_aggregate(grams, 'min')]
                     ELSE [] END AS fps
              FROM g
            )
            SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f
            ORDER BY doc_id, fp
        """,
        # trap_patterns: same URL closed forms, digit-normalization with
        # the 'g' flag (DuckDB regexp_replace is first-match by default;
        # Spark's is global), same distinct/count/threshold.
        "trap_patterns": """
            WITH ids AS (SELECT DISTINCT event_id FROM events),
            u AS (
              SELECT 'http://h' || (event_id % 12)::VARCHAR || '.example'
                || CASE WHEN event_id % 4 = 0 THEN
                     '/cal/' || (event_id % 17)::VARCHAR || '/'
                       || (event_id % 29)::VARCHAR
                   ELSE
                     '/doc-' || translate(
                       substring(md5(event_id::VARCHAR), 1, 8),
                       '0123456789', 'ghijklmnop')
                   END AS url
              FROM ids
            ), norm AS (
              SELECT DISTINCT
                     regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
                     regexp_replace(
                       regexp_extract(url, '^[a-z]+://[^/?#]+(.*)$', 1),
                       '[0-9]+', 'N', 'g') AS pattern,
                     url
              FROM u
            )
            SELECT host, pattern, COUNT(*) AS n_urls
            FROM norm GROUP BY host, pattern
            HAVING COUNT(*) >= 10
            ORDER BY host, pattern
        """,
        # mime_sniff: the id->family closed form maps straight to the
        # expected label; the Spark side must RE-DERIVE it from payload
        # bytes via the magic-number sniffer.
        "mime_sniff": """
            WITH ids AS (SELECT DISTINCT event_id FROM events)
            SELECT event_id,
                   CASE event_id % 9
                     WHEN 0 THEN 'image/png'
                     WHEN 1 THEN 'image/gif'
                     WHEN 2 THEN 'image/jpeg'
                     WHEN 3 THEN 'application/pdf'
                     WHEN 4 THEN 'application/gzip'
                     WHEN 5 THEN 'application/zip'
                     WHEN 6 THEN 'audio/wav'
                     WHEN 7 THEN 'application/warc'
                     ELSE 'text/html' END AS mime
            FROM ids ORDER BY event_id
        """,
        # domain_rollup: the oracle knows each host's registrable domain
        # from the generator closed form (ground truth); Spark re-derives
        # it from the host string via the PSL decision.
        "domain_rollup": """
            WITH ids AS (SELECT DISTINCT event_id FROM events),
            h AS (
              SELECT 'sub' || (event_id % 5)::VARCHAR || '.'
                       || 'site' || (event_id % 23)::VARCHAR
                       || CASE event_id % 3 WHEN 0 THEN '.com'
                            WHEN 1 THEN '.co.uk' ELSE '.com.au' END AS host,
                     'site' || (event_id % 23)::VARCHAR
                       || CASE event_id % 3 WHEN 0 THEN '.com'
                            WHEN 1 THEN '.co.uk' ELSE '.com.au' END AS domain
              FROM ids
            )
            SELECT domain, COUNT(DISTINCT host) AS n_hosts,
                   COUNT(*) AS n_urls
            FROM h GROUP BY domain ORDER BY domain
        """,
        # temperature_sample: exact-membership recompute — fixed-point
        # integer weights survive libm pow spread, the normalizing sum is
        # integer, the rate is one IEEE division+multiply, and the uniform
        # is the shared md5 60-bit family.
        "temperature_sample": """
            WITH c AS (
              SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
            ), w AS (
              SELECT source, n_docs,
                     CAST(floor(pow(n_docs, 0.5) * 1000000.0) AS BIGINT) AS w
              FROM c
            ), t AS (
              SELECT SUM(w) AS tw, SUM(n_docs) AS tn FROM w
            ), r AS (
              SELECT source, n_docs, w,
                     least(1.0, 3.0 * (w::DOUBLE / tw) * (tn::DOUBLE / n_docs))
                       AS rate
              FROM w, t
            )
            SELECT d.doc_id, d.source, r.rate
            FROM documents d JOIN r USING (source)
            WHERE (('0x' || substring(md5(d.doc_id::VARCHAR || '#temp'),
                                      1, 15))::BIGINT
                   / 1152921504606846976.0) < r.rate
            ORDER BY d.doc_id
        """,
        # winnow_pairs: fingerprinting AND the capped pair join replayed —
        # group-suffixed corpus, k=3 w=4 md5, cap 200, min_shared 1.
        "winnow_pairs": """
            WITH t AS (
              SELECT doc_id,
                     text
                       || ' q' || (doc_id % 97)::VARCHAR
                       || ' w' || (doc_id % 97)::VARCHAR
                       || ' e' || (doc_id % 97)::VARCHAR
                       || ' r' || (doc_id % 97)::VARCHAR
                       || ' t' || (doc_id % 97)::VARCHAR
                       || ' y' || (doc_id % 97)::VARCHAR AS text
              FROM documents
            ), tok AS (
              SELECT doc_id, string_split(text, ' ') AS toks FROM t
            ), g AS (
              SELECT doc_id,
                     list_transform(range(1, len(toks) - 1), i ->
                       md5(array_to_string(toks[i:i+2], ' '))) AS grams
              FROM tok
            ), f AS (
              SELECT doc_id,
                     CASE WHEN len(grams) >= 4 THEN
                       list_distinct(list_transform(
                         range(1, len(grams) - 2), j ->
                           list_aggregate(grams[j:j+3], 'min')))
                     WHEN len(grams) >= 1 THEN
                       [list_aggregate(grams, 'min')]
                     ELSE [] END AS fps
              FROM g
            ), fp AS (
              SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f
            ), ok AS (
              SELECT fp FROM fp GROUP BY fp
              HAVING COUNT(*) >= 2 AND COUNT(*) <= 200
            ), slim AS (
              SELECT fp.fp, fp.doc_id FROM fp JOIN ok USING (fp)
            )
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_shared
            FROM slim a JOIN slim b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 1
            ORDER BY a, b
        """,
        "substring_dedup": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ), grams0 AS (
              SELECT doc_id,
                     unnest(list_transform(range(len(t) - 5 + 1),
                            i -> {'pos': i,
                                  'gram': array_to_string(t[i+1:i+5], ' ')}))
                       AS g
              FROM toks WHERE len(t) >= 5
            ), hashed AS (
              SELECT doc_id, g.pos AS pos,
                     ('0x' || substring(md5(g.gram), 1, 15))::BIGINT AS h
              FROM grams0
            ), dup AS (
              SELECT h FROM hashed GROUP BY h
              HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
              SELECT doc_id, pos FROM hashed JOIN dup USING (h)
            ), flag AS (
              SELECT doc_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL
                            OR pos > lag(pos) OVER w + 5
                          THEN 1 ELSE 0 END AS is_new
              FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), grp AS (
              SELECT doc_id, pos,
                     sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS g
              FROM flag
            )
            SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 5 AS BIGINT) AS span_end,
                   count(*) AS n_windows
            FROM grp GROUP BY doc_id, g
            ORDER BY doc_id, span_start
        """,
        "hll_distinct": """
            WITH h AS (
              SELECT event_type,
                     ('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT
                       AS hv
              FROM events
            ), parts AS (
              SELECT event_type,
                     hv // 4503599627370496 AS register,      -- 2^52
                     hv % 4503599627370496 AS w
              FROM h
            ), rho AS (
              SELECT event_type, register,
                     CASE WHEN w = 0 THEN 53
                          ELSE 53 - length(bin(w)) END AS rho
              FROM parts
            ), regs AS (
              SELECT event_type, register, max(rho) AS max_rho
              FROM rho GROUP BY event_type, register
            ), agg AS (
              SELECT event_type, count(*) AS n_registers,
                     sum((1::BIGINT << (53 - max_rho))) AS ssum
              FROM regs GROUP BY event_type
            ), est AS (
              SELECT event_type, n_registers, 256 - n_registers AS v,
                     (ssum + (256 - n_registers)
                             * (1::BIGINT << 53))::DOUBLE AS s_scaled
              FROM agg
            ), ex AS (
              SELECT event_type, count(DISTINCT event_id) AS n_exact
              FROM events GROUP BY event_type
            )
            SELECT est.event_type, ex.n_exact, est.n_registers,
                   round(CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                                   * 9007199254740992.0 / s_scaled
                                <= 2.5 * 256 AND v > 0
                         THEN 256.0 * ln(256.0 / v)
                         ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                              * 9007199254740992.0 / s_scaled END,
                         4) AS hll_estimate
            FROM est JOIN ex USING (event_type)
            ORDER BY est.event_type
        """,
        "lm_score": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ), bi0 AS (
              SELECT doc_id, unnest(list_transform(range(len(t) - 1),
                     i -> {'w0': t[i+1], 'w1': t[i+2]})) AS g
              FROM toks WHERE len(t) >= 2
            ), bi AS (
              SELECT doc_id, g.w0 AS w0, g.w1 AS w1 FROM bi0
            ), b AS (
              SELECT doc_id,
                     ('0x' || substring(md5(w0 || ' ' || w1), 1, 15))::BIGINT
                       % 65536 AS b2,
                     ('0x' || substring(md5(w0), 1, 15))::BIGINT
                       % 65536 AS b1
              FROM bi
            ), c2 AS (SELECT b2, count(*) AS c2 FROM b GROUP BY b2),
            c1 AS (SELECT b1, count(*) AS c1 FROM b GROUP BY b1),
            terms AS (
              SELECT doc_id,
                     CAST(floor(10000 * ln((c2.c2 + 1)::DOUBLE
                                           / (c1.c1 + 65536))) AS BIGINT)
                       AS ll
              FROM b JOIN c2 USING (b2) JOIN c1 USING (b1)
            ), per AS (
              SELECT doc_id, sum(ll) AS ll_fp, count(*) AS n_bigrams
              FROM terms GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
                   coalesce(ll_fp, 0) AS ll_fp,
                   round(ll_fp / (10000.0 * n_bigrams), 6) AS avg_logprob
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY d.doc_id
        """,
        "dsir_resample": r"""
            WITH toks AS (
              SELECT doc_id, source,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS w
              FROM documents
            ), bt AS (
              SELECT doc_id, source,
                     ('0x' || substring(md5(w), 1, 15))::BIGINT % 16384
                       AS bucket
              FROM toks
            ), q AS (SELECT bucket, count(*) AS q_cnt FROM bt GROUP BY bucket),
            p AS (
              SELECT bucket, count(*) AS p_cnt FROM bt
              WHERE source IN ('src0', 'src1') GROUP BY bucket
            ), tots AS (
              SELECT (SELECT sum(p_cnt) FROM p) AS pt,
                     (SELECT sum(q_cnt) FROM q) AS qt
            ), wts AS (
              SELECT q.bucket,
                     CAST(floor(10000 * ln(
                       ((coalesce(p_cnt, 0) + 1) * (qt + 16384))::DOUBLE
                       / ((q_cnt + 1) * (pt + 16384))::DOUBLE)) AS BIGINT)
                       AS w_fp
              FROM q LEFT JOIN p USING (bucket), tots
            ), per AS (
              SELECT doc_id, sum(coalesce(w_fp, 0)) AS score_fp,
                     count(*) AS n_tokens
              FROM bt LEFT JOIN wts USING (bucket) GROUP BY doc_id
            ), keyed AS (
              SELECT doc_id, n_tokens, score_fp,
                     round(score_fp / (10000.0 * n_tokens), 6)
                       AS avg_log_ratio,
                     CAST(floor(score_fp::DOUBLE / n_tokens::DOUBLE / 1.0
                          + 10000 * (-ln(-ln(
                            ('0x' || substring(md5(doc_id::VARCHAR || '#'
                                                   || 'dsir'), 1, 15))::BIGINT
                            / 1152921504606846976.0)))) AS BIGINT)
                       AS gumbel_key_fp
              FROM per
            )
            SELECT doc_id, n_tokens, score_fp, avg_log_ratio, gumbel_key_fp
            FROM keyed ORDER BY gumbel_key_fp DESC, doc_id LIMIT 50
        """,
        "weighted_sample": """
            SELECT doc_id, n_chars,
                   CAST(floor(1000000.0 * (-ln(
                     ('0x' || substring(md5(doc_id::VARCHAR || '#' || 'wrs'),
                                        1, 15))::BIGINT
                     / 1152921504606846976.0)) / n_chars::DOUBLE) AS BIGINT)
                     AS aes_key_fp
            FROM documents WHERE n_chars > 0
            ORDER BY aes_key_fp, doc_id LIMIT 50
        """,
        "semantic_dedup": """
            WITH RECURSIVE dims AS (SELECT unnest(range(64)) AS d),
            ps AS (SELECT unnest(range(6)) AS p),
            signs AS (
              SELECT p, d,
                     CASE WHEN ('0x' || substring(md5('hp:42:' || p || ':'
                                                      || d), 1, 15))::BIGINT
                               % 2 = 0
                          THEN 1 ELSE -1 END AS s
              FROM ps CROSS JOIN dims),
            eproj AS (
              SELECT e.vec_id, s.p,
                     sum(s.s * floor(e.embedding[s.d + 1]::DOUBLE
                                     * 1048576)::BIGINT)::BIGINT AS proj
              FROM embeddings e CROSS JOIN signs s
              GROUP BY e.vec_id, s.p),
            ebucket AS (
              SELECT vec_id,
                     sum(CASE WHEN proj > 0 THEN 1 << p ELSE 0 END)::BIGINT
                       AS b
              FROM eproj GROUP BY vec_id),
            e AS (
              SELECT emb.vec_id, emb.embedding::DOUBLE[] AS v, eb.b AS bucket
              FROM embeddings emb JOIN ebucket eb USING (vec_id)),
            prs AS (
              SELECT l.vec_id AS u, r.vec_id AS v
              FROM e l JOIN e r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
              WHERE list_dot_product(l.v, r.v) /
                      (sqrt(list_dot_product(l.v, l.v)) *
                       sqrt(list_dot_product(r.v, r.v))) >= 0.30),
            edges AS (
              SELECT u, v FROM prs UNION SELECT v AS u, u AS v FROM prs
            ), reach(node, lab) AS (
              SELECT u AS node, u AS lab FROM edges
              UNION
              SELECT e2.u AS node, r.lab FROM edges e2
              JOIN reach r ON r.node = e2.v
            ), cc AS (
              SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node
            ), lab AS (
              SELECT emb.vec_id,
                     coalesce(cc.cluster_id, emb.vec_id) AS cluster_id
              FROM embeddings emb LEFT JOIN cc ON cc.node = emb.vec_id
            ), sz AS (
              SELECT cluster_id, count(*) AS cluster_size FROM lab
              GROUP BY cluster_id
            )
            SELECT lab.vec_id, lab.cluster_id, sz.cluster_size,
                   lab.vec_id = lab.cluster_id AS keep
            FROM lab JOIN sz USING (cluster_id)
            ORDER BY lab.vec_id
        """,
        "cms_heavy_hitters": """
            WITH ds AS (SELECT unnest(range(4)) AS d),
            cms AS (
              SELECT d,
                     ('0x' || substring(md5(user_id::VARCHAR || '#cms' || d),
                                        1, 15))::BIGINT % 256 AS bucket,
                     count(*) AS cnt
              FROM events, ds GROUP BY d, bucket
            ), uk AS (SELECT DISTINCT user_id FROM events),
            probe AS (
              SELECT uk.user_id, ds.d,
                     ('0x' || substring(md5(uk.user_id::VARCHAR || '#cms'
                                            || ds.d), 1, 15))::BIGINT % 256
                       AS bucket
              FROM uk, ds
            ), est AS (
              SELECT user_id, min(coalesce(cnt, 0)) AS cms_estimate
              FROM probe LEFT JOIN cms USING (d, bucket) GROUP BY user_id
            ), ex AS (
              SELECT user_id, count(*) AS n_exact FROM events
              GROUP BY user_id
            )
            SELECT user_id, n_exact, cms_estimate
            FROM ex JOIN est USING (user_id) ORDER BY user_id
        """,
        "stream_url_dedup": f"""
            SELECT DISTINCT
                   {STREAM_WIN_BASE} + (doc_id % 120) AS ts_sec,
                   'http://h' || (doc_id % 120)::VARCHAR
                     || '.example.com/p' AS url
            FROM documents ORDER BY url
        """,
        "kmv_distinct": """
            WITH h AS (
              SELECT DISTINCT event_type,
                     ('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT
                       AS h
              FROM events
            ), rk AS (
              SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type ORDER BY h)
                       AS rnk
              FROM h QUALIFY rnk <= 64
            ), agg AS (
              SELECT event_type, count(*) AS n_kept, max(h) AS hk
              FROM rk GROUP BY event_type
            ), ex AS (
              SELECT event_type, count(DISTINCT event_id) AS n_exact
              FROM events GROUP BY event_type
            )
            SELECT agg.event_type, n_kept,
                   round(CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
                         ELSE 63.0 * 1152921504606846976.0 / hk::DOUBLE END,
                         4) AS kmv_estimate,
                   n_exact
            FROM agg JOIN ex USING (event_type) ORDER BY agg.event_type
        """,
        "mixture_build": r"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ), bi0 AS (
              SELECT doc_id, unnest(list_transform(range(len(t) - 1),
                     i -> {'w0': t[i+1], 'w1': t[i+2]})) AS g
              FROM toks WHERE len(t) >= 2
            ), bi AS (
              SELECT doc_id, g.w0 AS w0, g.w1 AS w1 FROM bi0
            ), b AS (
              SELECT doc_id,
                     ('0x' || substring(md5(w0 || ' ' || w1), 1, 15))::BIGINT
                       % 65536 AS b2,
                     ('0x' || substring(md5(w0), 1, 15))::BIGINT
                       % 65536 AS b1
              FROM bi
            ), c2 AS (SELECT b2, count(*) AS c2 FROM b GROUP BY b2),
            c1 AS (SELECT b1, count(*) AS c1 FROM b GROUP BY b1),
            lterms AS (
              SELECT doc_id,
                     CAST(floor(10000 * ln((c2.c2 + 1)::DOUBLE
                                           / (c1.c1 + 65536))) AS BIGINT)
                       AS ll
              FROM b JOIN c2 USING (b2) JOIN c1 USING (b1)
            ), lmper AS (
              SELECT doc_id, sum(ll) AS ll_fp, count(*) AS n_bigrams
              FROM lterms GROUP BY doc_id
            ), grams0 AS (
              SELECT doc_id, unnest(list_transform(range(len(t) - 5 + 1),
                     i -> array_to_string(t[i+1:i+5], ' '))) AS gram
              FROM toks WHERE len(t) >= 5
            ), ghashed AS (
              SELECT doc_id,
                     ('0x' || substring(md5(gram), 1, 15))::BIGINT AS h
              FROM grams0
            ), gdup AS (
              SELECT h FROM ghashed GROUP BY h
              HAVING count(DISTINCT doc_id) >= 2
            ), dupper AS (
              SELECT doc_id, count(*) AS n_grams,
                     sum(CASE WHEN h IN (SELECT h FROM gdup)
                         THEN 1 ELSE 0 END) AS n_dup
              FROM ghashed GROUP BY doc_id
            ), kept AS (
              SELECT d.doc_id, d.source, lmper.n_bigrams, lmper.ll_fp,
                     dupper.n_grams, dupper.n_dup
              FROM documents d
              JOIN lmper USING (doc_id) JOIN dupper USING (doc_id)
              WHERE ll_fp >= -77000 * n_bigrams AND 2 * n_dup <= n_grams
            ), ut AS (
              SELECT doc_id, source,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS w
              FROM documents
            ), bt AS (
              SELECT doc_id, source,
                     ('0x' || substring(md5(w), 1, 15))::BIGINT % 16384
                       AS bucket
              FROM ut
            ), q AS (SELECT bucket, count(*) AS q_cnt FROM bt GROUP BY bucket),
            p AS (
              SELECT bucket, count(*) AS p_cnt FROM bt
              WHERE source IN ('src0', 'src1') GROUP BY bucket
            ), tots AS (
              SELECT (SELECT sum(p_cnt) FROM p) AS pt,
                     (SELECT sum(q_cnt) FROM q) AS qt
            ), wts AS (
              SELECT q.bucket,
                     CAST(floor(10000 * ln(
                       ((coalesce(p_cnt, 0) + 1) * (qt + 16384))::DOUBLE
                       / ((q_cnt + 1) * (pt + 16384))::DOUBLE)) AS BIGINT)
                       AS w_fp
              FROM q LEFT JOIN p USING (bucket), tots
            ), per AS (
              SELECT bt.doc_id, sum(coalesce(w_fp, 0)) AS score_fp,
                     count(*) AS n_tokens
              FROM bt JOIN kept USING (doc_id) LEFT JOIN wts USING (bucket)
              GROUP BY bt.doc_id
            ), keyed AS (
              SELECT doc_id, score_fp,
                     CAST(floor(score_fp::DOUBLE / n_tokens::DOUBLE / 1.0
                          + 10000 * (-ln(-ln(
                            ('0x' || substring(md5(doc_id::VARCHAR || '#'
                                                   || 'mix'), 1, 15))::BIGINT
                            / 1152921504606846976.0)))) AS BIGINT)
                       AS gumbel_key_fp
              FROM per
            )
            SELECT k.doc_id, kept.source, kept.n_bigrams, kept.ll_fp,
                   kept.n_grams, kept.n_dup, k.score_fp, k.gumbel_key_fp
            FROM (SELECT * FROM keyed
                  ORDER BY gumbel_key_fp DESC, doc_id LIMIT 100) k
            JOIN kept USING (doc_id)
            ORDER BY k.gumbel_key_fp DESC, k.doc_id
        """,
        "aimd_budgets": """
            WITH RECURSIVE hist AS (
              SELECT source AS host, doc_id % 6 AS wave,
                     count(*) AS att,
                     sum(CASE WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END) AS fail
              FROM documents GROUP BY host, wave
            ), idx AS (
              SELECT host, wave, att, fail,
                     row_number() OVER (PARTITION BY host ORDER BY wave)
                       AS i
              FROM hist
            ), rec AS (
              SELECT host, wave, att, fail, i, 8::BIGINT AS budget
              FROM idx WHERE i = 1
              UNION ALL
              SELECT idx.host, idx.wave, idx.att, idx.fail, idx.i,
                     CASE WHEN 2 * rec.fail >= rec.att
                          THEN greatest(1, rec.budget // 2)
                          ELSE least(64, rec.budget + 1) END
              FROM idx JOIN rec
                ON idx.host = rec.host AND idx.i = rec.i + 1
            )
            SELECT host, wave, budget FROM rec ORDER BY host, wave
        """,
        "media_content_dedup": r"""
            WITH m AS (
              SELECT doc_id, media_ref, "offset"
              FROM read_parquet('/root/repo/goldens/spans_sf0.01.parquet')
              WHERE kind = 'media'
            ), a AS (
              SELECT doc_id || '#' || "offset"::VARCHAR AS asset_id,
                     'https://cdn.example.com/img/' ||
                       (regexp_extract(media_ref, '(\d+)', 1)::BIGINT % 300)
                         ::VARCHAR || '.jpg' AS media_ref
              FROM m
            ), d AS (
              SELECT asset_id, media_ref,
                     CASE (('0x' || substring(md5(media_ref), 5, 2))::INT % 3)
                       WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'image/jpeg'
                       ELSE 'image/gif' END AS mime,
                     (16 + ('0x' || substring(md5(media_ref), 1, 2))::INT)
                       ::INT AS width,
                     (16 + ('0x' || substring(md5(media_ref), 3, 2))::INT)
                       ::INT AS height,
                     ('0x' || substring(md5(media_ref), 7, 2))::INT AS r,
                     ('0x' || substring(md5(media_ref), 9, 2))::INT AS g,
                     ('0x' || substring(md5(media_ref), 11, 2))::INT AS b
              FROM a
            )
            SELECT asset_id, media_ref, mime, width, height, r, g, b,
                   true AS uniform,
                   asset_id = min(asset_id) OVER
                     (PARTITION BY width, height, r, g, b) AS keep
            FROM d ORDER BY asset_id
        """,
        "inverted_index": r"""
            WITH toks0 AS (
              SELECT doc_id AS doc,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
            ), toks AS (
              SELECT doc, g.pos AS pos, g.term AS term
              FROM (
                SELECT doc, unnest(list_transform(range(len(t)),
                       i -> {'pos': i, 'term': t[i+1]})) AS g
                FROM toks0
              )
              WHERE length(g.term) >= 1
            ), capped AS (
              SELECT doc, pos, term,
                     row_number() OVER (PARTITION BY term
                                        ORDER BY doc, pos) AS rnk
              FROM toks QUALIFY rnk <= 1000
            ), per AS (
              SELECT term,
                     list(struct_pack(doc := doc, pos := pos)
                          ORDER BY doc, pos) AS ps
              FROM capped GROUP BY term
            ), ex AS (
              SELECT term, count(DISTINCT doc) AS doc_freq,
                     count(*) AS total_occurrences
              FROM toks GROUP BY term
            )
            SELECT per.term, ex.doc_freq, ex.total_occurrences,
                   len(ps) AS n_postings,
                   array_to_string(
                     list_transform(ps, (x, i) ->
                       (CASE WHEN i = 1 THEN x.doc
                             ELSE x.doc - ps[i - 1].doc END)::VARCHAR
                       || ':' || x.pos::VARCHAR),
                     ',') AS postings_str
            FROM per JOIN ex USING (term)
            ORDER BY per.term
        """,
    }


if __name__ == "__main__":
    from llm_scraper_spark.session import get_spark

    s = get_spark(app_name="entry_smoke", master="local[8]")
    entry(s).show(truncate=False)
    for name, fn in queries().items():
        df = fn(s, "/root/testdata/sf0.001")
        print(name, df.count())
