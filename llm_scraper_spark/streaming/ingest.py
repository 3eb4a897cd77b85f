"""Structured Streaming surfaces (SURVEY.md §2.10).

The reference has no true streams — Celery beat crontabs approximate
micro-batch triggers (worker.py:651-718) and the crawl frontier is a
batch-iterative BFS (crawl/waves.py), not a stream. These streaming
operators cover the continuous-ingest side a production deployment adds
around the wave loop:

- ``stream_chunk_documents``  — continuously chunk newly landed raw docs
  into the interleaved spans table (readStream -> mapInPandas -> sink)
- ``stream_discovery_counts`` — watermarked windowed fetch/discovery
  metrics (late data tolerated; reference analogue: per-task counters,
  worker.py:110-219)
- ``stream_frontier_append``  — foreachBatch exactly-once-style append of
  discovered URLs into the frontier state (dedup inside the batch against
  the live seen table; micro-batch twin of CrawlRun.run_wave discovery)
- ``stream_host_budget``      — applyInPandasWithState custom stateful
  operator: per-host lifetime fetch budget across micro-batches (the
  cross-trigger politeness cap no windowed agg can express)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

RAW_DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_chunk_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a landing dir of raw documents -> spans."""
    from ..operators.chunker import doc_ids_and_spans
    from ..schemas import SPAN_DDL

    raw = (
        spark.readStream.schema(RAW_DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    url = F.concat(F.lit("https://docs.example.com/"), F.col("doc_id").cast("string"))

    def gen(batches):
        for pdf in batches:  # raw docs carry no media refs
            pdf["doc_id"], pdf["spans"] = doc_ids_and_spans(
                pdf["url"], pdf["text"], [None] * len(pdf))
            yield pdf[["doc_id", "spans"]]

    return raw.select(url.alias("url"), "text").mapInPandas(
        gen, schema=f"doc_id string, spans {SPAN_DDL}")


def stream_discovery_counts(spark: SparkSession, input_dir: str,
                            window: str = "5 minutes",
                            watermark: str = "10 minutes") -> DataFrame:
    """Windowed per-type counts with a watermark for late arrivals."""
    events = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )


def stream_frontier_append(spark: SparkSession, input_dir: str,
                           state_dir: str):
    """foreachBatch sink: canonicalize + hash each micro-batch of discovered
    URLs, anti-join the persistent seen table, append both tables.

    Exactly-once by idempotent wave-style commit per batchId (re-delivered
    batches overwrite their own delta dir, never double-append).
    """
    import os

    from ..functions.urls import with_canonical
    from ..operators.seen import first_occurrence_dedup

    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("seq", T.LongType())]
    )
    urls = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        canon = with_canonical(batch_df)
        deduped = first_occurrence_dedup(canon, "url_hash", "seq")
        seen_dir = os.path.join(state_dir, "seen_delta")
        existing = None
        if os.path.exists(seen_dir) and any(
            e.startswith("batch=") for e in os.listdir(seen_dir)
        ):
            # STRICTLY EARLIER batches only: on redelivery this batch's
            # own delta dir already exists, and including it would
            # anti-join the batch against itself — every row "seen",
            # the delta overwritten EMPTY, rows lost. Partition-pruned
            # via the batch dir column.
            existing = (
                spark.read.option("basePath", seen_dir).parquet(seen_dir)
                .where(F.col("batch") < int(batch_id))
            )
        if existing is not None:
            deduped = deduped.join(
                existing.select("url_hash").distinct(), on="url_hash",
                how="left_anti",
            )
        # idempotent per-batch delta (overwrite on redelivery)
        deduped.select("url", "canonical_url", "host", "url_hash", "seq").write.mode(
            "overwrite"
        ).parquet(os.path.join(seen_dir, f"batch={batch_id}"))

    return urls.writeStream.foreachBatch(process_batch)

def stream_host_budget(spark: SparkSession, input_dir: str,
                       budget: int = 8) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-host LIFETIME fetch budget enforced across micro-batches.

    The batch engine's politeness cap (`frontier.schedule_wave`) is a
    per-wave window — it resets every wave. A continuous deployment also
    wants a cross-trigger cap ("never fetch more than N URLs from host H
    over the stream's life") which no windowed aggregation can express:
    it needs per-key mutable state that survives triggers. State here is
    one long per host (URLs admitted so far); each micro-batch admits
    rows in seq order until the remaining budget is exhausted, then
    drops. At scale the state store shards by host hash across
    executors — the same key distribution the politeness shuffle already
    uses, so no new skew surface.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    out_schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("used", T.LongType())])

    def admit(key, pdfs, state):
        import pandas as pd

        used = state.get[0] if state.exists else 0
        # concat the host's Arrow chunks BEFORE sorting: admission is in
        # global seq order within the micro-batch, and a per-chunk sort
        # would admit by arrival order whenever one host spans chunks
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values("seq")
        out = batch.head(max(budget - used, 0))
        used += len(out)
        if len(out):
            yield out[["host", "url", "seq"]]
        state.update((used,))

    urls = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return urls.groupBy("host").applyInPandasWithState(
        admit, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def stream_crawl(spark: SparkSession, input_dir: str, state_dir: str,
                 default_budget: int = 4, n_salts: int = 2):
    """End-to-end CONTINUOUS crawl (VERDICT r3 #7): one micro-batch ==
    one wave. Composes the pieces the standalone streaming ops cover —
    ``stream_frontier_append``'s idempotent per-batch delta commit,
    ``stream_url_dedup``'s cross-batch URL dedup (here exact, against
    the stream's own cumulative seen table rather than a watermarked
    store), and per-host politeness admission — into a single
    foreachBatch pipeline over a landing directory of discovered URLs
    ``(url, seq)``:

        canonicalize (Arrow batch UDF) -> in-batch first-occurrence
        dedup -> anti-join cumulative seen -> per-host politeness window
        (budget per BATCH, the wave-loop semantics) -> commit
        schedule_log/batch=K + seen_delta/batch=K + host_used/batch=K

    Same operators the batch wave loop runs (functions.urls /
    operators.seen / operators.frontier), so stream-vs-batch schedule
    equality is a property to TEST, not hope for —
    tests/test_streaming.py::test_stream_crawl_matches_batch_wave_replay
    asserts it against an independent single-node Python replay over
    >= 3 micro-batches.

    Semantics notes (mirrored in the oracle): seen marks at SCHEDULE
    (an over-budget candidate is droppable and may be re-delivered by a
    later batch — the landing dir is the pending set's upstream); every
    commit is an idempotent overwrite keyed by batchId, and the seen
    read excludes the CURRENT batch's own delta, so Structured
    Streaming's redelivery-after-failure reproduces the identical
    schedule byte-for-byte (exactly-once effect, the same contract as
    the wave ledger; redelivery-pinned by
    tests/test_streaming.py::test_stream_crawl_redelivery_idempotent)."""
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.LongType()),
    ])
    urls = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return urls.writeStream.foreachBatch(
        crawl_batch_processor(spark, state_dir, default_budget, n_salts))


def crawl_batch_processor(spark: SparkSession, state_dir: str,
                          default_budget: int = 4, n_salts: int = 2):
    """The per-micro-batch crawl step of :func:`stream_crawl`, exposed
    so redelivery semantics are directly testable (call it twice with
    the same batch_id)."""
    import os

    from ..functions.urls import with_canonical
    from ..operators.frontier import schedule_wave, with_salt
    from ..operators.seen import filter_unseen, first_occurrence_dedup

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        canon = with_canonical(batch_df, key_hex=False)
        deduped = first_occurrence_dedup(canon, "url_hash", "seq")
        seen_dir = os.path.join(state_dir, "seen_delta")
        seen = None
        if os.path.isdir(seen_dir) and any(
                e.startswith("batch=") for e in os.listdir(seen_dir)):
            # strictly earlier batches: a redelivered batch must not
            # anti-join against its OWN previously-committed delta (it
            # would schedule nothing and overwrite the delta empty)
            seen = (
                spark.read.option("basePath", seen_dir).parquet(seen_dir)
                .where(F.col("batch") < int(batch_id))
            )
        new = filter_unseen(deduped, seen)
        scheduled = schedule_wave(
            with_salt(new.withColumn("priority", F.lit(1.0)), n_salts),
            default_budget=default_budget,
        ).localCheckpoint(eager=True)  # consumed by three writes below
        out = scheduled.select("url", "canonical_url", "host", "url_hash",
                               "seq", "sched_rank")
        out.write.mode("overwrite").parquet(
            os.path.join(state_dir, "schedule_log", f"batch={batch_id}"))
        out.select("url_hash").write.mode("overwrite").parquet(
            os.path.join(seen_dir, f"batch={batch_id}"))
        (out.groupBy("host").agg(F.count(F.lit(1)).alias("n_fetched"))
         .write.mode("overwrite").parquet(
             os.path.join(state_dir, "host_used", f"batch={batch_id}")))

    return process_batch


def stream_windowed_counts(spark: SparkSession, input_dir: str,
                           window: str = "10 seconds",
                           watermark: str = "5 seconds") -> DataFrame:
    """Event-time tumbling-window counts with a watermark: per
    ``(window_start, host)`` event counts over a landing feed
    ``(ts timestamp, host string)``.

    The reference has no event-time semantics at all (SURVEY §2.10 — its
    triggers are wall-clock Celery crontabs, worker.py:651-718); a
    continuous crawl deployment needs late-tolerant per-host fetch-rate
    windows to drive politeness and alerting. Watermarking bounds the
    state store: windows older than the watermark are finalized, emitted
    (append mode) and evicted, so state is O(active windows x hosts) no
    matter how long the stream runs — the property that makes this safe
    on an unbounded 100 TB-scale feed where an unwatermarked groupBy
    would accumulate state forever.
    """
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("host", T.StringType()),
    ])
    src = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "host")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "host", "n_events")
    )


def stream_url_dedup(spark: SparkSession, input_dir: str,
                     watermark: str = "3600 seconds") -> DataFrame:
    """Streaming first-occurrence URL dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` over a landing feed
    ``(ts timestamp, url string)`` — the continuous-ingest twin of the
    batch seen-set anti-join (operators/seen.py). Each URL is emitted the
    first time it arrives; re-arrivals inside the watermark horizon are
    dropped, and state for URLs older than the watermark is EVICTED —
    the property that keeps a perpetual discovery feed's dedup state
    O(horizon traffic), not O(all URLs ever) (the batch loop's exact
    anti-join against the seen table covers the beyond-horizon tail).
    Rows emit in the trigger they arrive (dedup does not wait for the
    watermark; the watermark only bounds state retention)."""
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("url", T.StringType()),
    ])
    src = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return src.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["url"])


def stream_sessions(spark: SparkSession, input_dir: str,
                    gap: str = "15 seconds",
                    watermark: str = "5 seconds") -> DataFrame:
    """Event-time SESSION windows with a watermark: per-host activity
    sessions over a landing feed ``(ts timestamp, host string)`` —
    events closer than ``gap`` merge into one session, a quiet gap
    closes it. This is the native Structured Streaming
    ``session_window`` (dynamic-length, state-merging windows — the one
    windowing mode tumbling counts can't express), and the natural
    model for crawl burst detection: a session is one fetch burst
    against a host, and its length/event-count feeds the politeness
    tier.

    Watermarking makes it safe unbounded: a session's state merges
    while new events can still arrive (watermark < session end + gap)
    and is finalized + EVICTED once the watermark passes, so state is
    O(open sessions), not O(stream history). Emission (append mode) is
    exactly once per closed session — the cumulative output equals the
    batch gap-sessionization of the same rows, which is what the
    driver's oracle recomputes closed-form.
    """
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("host", T.StringType()),
    ])
    src = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "host")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("sess.start").alias("session_start"),
                F.col("sess.end").alias("session_end"),
                "host", "n_events")
    )
