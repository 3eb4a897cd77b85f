"""Engine table schemas (Spark SQL types).

The authoritative input shape (BASELINE.json ``input_hint``) is the
interleaved text+media ``documents`` table::

    documents(doc_id string,
              spans array<struct<kind:string, text:string,
                                 media_ref:string, offset:int>>)

The crawl state is two append-only logs with pinned schemas (read by
crawl/state.py without footer inference), mapping the reference's two
diskcache structures, a FIFO deque and a seen index (cache.py:71-72):
the enqueue log ``frontier_delta`` (FRONTIER_SCHEMA, also the seen set)
and the fetch log ``schedule_log`` (SCHEDULE_LOG_SCHEMA).
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

# the fetch log: every URL a wave scheduled, in fetch order (wave, seq)
SCHEDULE_LOG_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("url_hash", T.LongType(), False),
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
