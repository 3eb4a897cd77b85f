"""Engine table schemas (Spark SQL types).

The authoritative input shape (BASELINE.json ``input_hint``) is the
interleaved text+media ``documents`` table::

    documents(doc_id string,
              spans array<struct<kind:string, text:string,
                                 media_ref:string, offset:int>>)

State tables (frontier / robots / metrics; the frontier's per-wave deltas
are also the seen set) follow FIXTURES.md §5-6, mapping the reference's
diskcache structures
(/root/reference/cache.py:71-76) to partitioned columnar tables.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- the north-rule interleaved documents table ------------------------------
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # 'text' | 'media'
        T.StructField("text", T.StringType(), True),        # chunk text ('' for media)
        T.StructField("media_ref", T.StringType(), True),   # media URL ('' for text)
        T.StructField("offset", T.IntegerType(), False),    # 0-based span order
    ]
)
# the same type as a DDL string, for mapInPandas output schemas
SPAN_DDL = T.ArrayType(SPAN_STRUCT).simpleString()

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# --- raw fetched pages (reference fixture shape: {url, domain, raw_html}) ----
DOCUMENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("domain", T.StringType(), False),
        T.StructField("raw_html", T.StringType(), True),
    ]
)

# --- crawl state --------------------------------------------------------------
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("wave", T.IntegerType(), False),      # wave discovered
        T.StructField("seq", T.LongType(), False),          # global FIFO order
    ]
)

# fetch tombstones: the url_hash of every URL a wave scheduled
FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
    ]
)

SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_at", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("allow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("sitemaps", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
        T.StructField("budget", T.IntegerType(), True),     # per-wave politeness budget
    ]
)

FEEDS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("feed_url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # sitemap|sitemapindex|rss|atom|robots
        T.StructField("body", T.BinaryType(), True),
    ]
)

WAVE_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("fetch_failed", T.LongType(), False),
        T.StructField("discovered", T.LongType(), False),
        T.StructField("deduped_new", T.LongType(), False),
    ]
)

# --- multimodal assets ---------------------------------------------------------
ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),   # opaque bytes
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
