"""Chunking: the span generator (SURVEY.md §2.9, C1/C2/C3).

Re-implements, semantics-exact, the reference chunkers:

- ``chunk_by_token_estimate`` — the Article-method variant the production
  worker calls with (max_tokens=512, overlap_tokens=50)
  (/root/reference/src/llm_scraper/articles.py:240-297,
   /root/reference/worker.py:396-397). No oversized-sentence path.
- ``chunk_text_by_token_estimate`` — the standalone variant, which adds a
  char-proportional split for items whose own token estimate exceeds
  max_tokens (/root/reference/src/llm_scraper/chunking.py:97-192).
- ``chunk_by_char`` — sliding char window with optional headline strip
  (/root/reference/src/llm_scraper/articles.py:204-238) and the standalone
  ``chunk_text_by_char`` (/root/reference/src/llm_scraper/chunking.py:52-94).

Word/token heuristics follow /root/reference/src/llm_scraper/utils/text.py:
``WORD_RE = \\w+`` (unicode), ``tokens = ceil(words * 1.33)``.

The Spark surface is ONE pandas UDF family: ``make_spans_udf`` maps a text
column (plus optional title and media refs) to the interleaved
``spans array<struct<kind,text,media_ref,offset>>`` column of the
north-rule ``documents`` table. Per-row invariant vs the reference: the
subsequence of kind='text' spans equals the reference chunker output on
``(text, order)`` exactly.

Media interleaving policy (engine-defined; the reference carries media only
as document-level metadata, models/meta.py:211-223): media ref ``i`` of
``m`` is inserted after text chunk ``ceil((i+1)*n_text/(m+1))``, giving an
even deterministic interleave that degenerates to append when n_text==0.
"""

from __future__ import annotations

import math
import re
import uuid
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SPAN_STRUCT

# /root/reference/src/llm_scraper/utils/text.py:22
WORD_RE = re.compile(r"\w+", re.UNICODE)
# /root/reference/src/llm_scraper/articles.py:256 (identical at chunking.py:124)
SENT_SPLIT_RE = re.compile(r"(?<=[.?!])\s+(?=[A-Z0-9\"'“‘])")

PROD_MAX_TOKENS = 512   # /root/reference/worker.py:396
PROD_OVERLAP_TOKENS = 50  # /root/reference/worker.py:397


def count_words(text: str) -> int:
    if not text:
        return 0
    return len(WORD_RE.findall(text))


def estimate_tokens(text: str, avg_token_per_word: float = 1.33) -> int:
    if not text:
        return 0
    return int(math.ceil(len(WORD_RE.findall(text)) * avg_token_per_word))


def chunk_by_token_estimate(
    text: str,
    max_tokens: int = PROD_MAX_TOKENS,
    overlap_tokens: int = PROD_OVERLAP_TOKENS,
    sentence_split: bool = True,
) -> list[str]:
    """Article-method chunker (articles.py:240-297) — the production path."""
    text = (text or "").strip()
    if not text:
        return []
    sents = SENT_SPLIT_RE.split(text) if sentence_split else text.split()
    # Words are counted ONCE. The flush loop needs per-sentence counts;
    # their sum is the whole text's (no \w+ match spans the whitespace
    # the split removes). A text short enough to be one chunk is counted
    # in one findall instead, because per-sentence calls cost ~10% more
    # there; past ~8 chars per token of budget (prose averages ~6 chars
    # a word, and a chunk holds max_tokens/1.33 words) a text is almost
    # never one chunk. The length test picks only the cheaper order.
    counts = None
    if len(text) <= 8 * max_tokens:
        n_words = count_words(text)
    else:
        counts = [len(WORD_RE.findall(s)) for s in sents]
        n_words = sum(counts)

    # Single-chunk fast path, provably output-identical: the loop below
    # flushes only when the RUNNING SUM of per-sentence ceil(w_i * 1.33)
    # estimates would exceed max_tokens. Each ceil(x_i) <= x_i + 1, so
    # sum_i ceil(1.33 * w_i) <= floor(1.33 * W) + n_sents (W = total
    # words, integer left side). When that bound fits the budget the
    # loop can never flush and returns exactly " ".join(sents).strip() --
    # emitted here without the per-sentence token estimates and buffer
    # bookkeeping. This is the common case for crawl pages (a 512-token
    # budget holds ~385 words).
    if int(len(sents) + n_words * 1.33) <= max_tokens:
        single = " ".join(sents).strip()
        return [single] if single else []
    if counts is None:
        counts = [len(WORD_RE.findall(s)) for s in sents]

    overlap_words = int(overlap_tokens / 1.33)
    chunks: list[str] = []
    cur_buf: list[str] = []
    cur_tokens = 0
    for sent, n_words in zip(sents, counts):
        sent_tokens = math.ceil(n_words * 1.33)
        if cur_tokens + sent_tokens > max_tokens and cur_buf:
            chunk_text = " ".join(cur_buf).strip()
            if chunk_text:
                chunks.append(chunk_text)
            if overlap_tokens > 0:
                # str.split() ignores the edges strip() removed
                words = chunk_text.split()
                cur_buf = words[-overlap_words:] if overlap_words > 0 else []
                cur_tokens = estimate_tokens(" ".join(cur_buf))
            else:
                cur_buf = []
                cur_tokens = 0
        cur_buf.append(sent)
        cur_tokens += sent_tokens

    tail = " ".join(cur_buf).strip()
    if tail:
        chunks.append(tail)
    return chunks


def chunk_text_by_token_estimate(
    text: str,
    max_tokens: int = 800,
    overlap_tokens: int = 64,
    sentence_split: bool = True,
) -> list[str]:
    """Standalone chunker (chunking.py:97-192) — adds the oversized-item path."""
    if not text:
        return []
    items = SENT_SPLIT_RE.split(text) if sentence_split else text.split()

    chunks: list[str] = []
    cur_buf: list[str] = []
    cur_tokens = 0
    for item in items:
        item_tokens = estimate_tokens(item)
        if item_tokens > max_tokens:
            if cur_buf:
                chunk_text = " ".join(cur_buf).strip()
                if chunk_text:
                    chunks.append(chunk_text)
                cur_buf = []
                cur_tokens = 0
            # char-proportional split of the oversized item (chunking.py:154-164)
            avg_chars_per_token = len(item) / item_tokens
            sub_max = int(max_tokens * avg_chars_per_token)
            for i in range(0, len(item), sub_max):
                chunks.append(item[i : i + sub_max])
            continue
        if cur_tokens + item_tokens > max_tokens and cur_buf:
            chunk_text = " ".join(cur_buf).strip()
            if chunk_text:
                chunks.append(chunk_text)
            if overlap_tokens > 0:
                overlap_words = int(overlap_tokens / 1.33)
                words = " ".join(cur_buf).split()
                cur_buf = words[-overlap_words:] if overlap_words > 0 else []
                cur_tokens = estimate_tokens(" ".join(cur_buf))
            else:
                cur_buf = []
                cur_tokens = 0
        cur_buf.append(item)
        cur_tokens += item_tokens

    tail = " ".join(cur_buf).strip()
    if tail:
        chunks.append(tail)
    return chunks


def chunk_by_char(
    text: str,
    max_chars: int = 2000,
    overlap_chars: int = 200,
    preserve_headline: bool = True,
    title: str | None = None,
) -> list[str]:
    """Article-method char chunker (articles.py:204-238)."""
    body = (text or "").strip()
    if not body:
        return []
    if preserve_headline and title and body.startswith(title):
        body = body[len(title) :].strip()
    chunks: list[str] = []
    start = 0
    n = len(body)
    while start < n:
        end = min(n, start + max_chars)
        chunk_text = body[start:end].strip()
        if not chunk_text:
            break  # articles.py:231 breaks (standalone continues)
        chunks.append(chunk_text)
        start = end - overlap_chars if end - overlap_chars > start else end
    return chunks


def chunk_text_by_char(
    text: str, max_chars: int = 2000, overlap_chars: int = 200
) -> list[str]:
    """Standalone char chunker (chunking.py:52-94)."""
    if not text:
        return []
    chunks: list[str] = []
    start_pos = 0
    n = len(text)
    while start_pos < n:
        end_pos = min(n, start_pos + max_chars)
        chunk_text = text[start_pos:end_pos].strip()
        if chunk_text:
            chunks.append(chunk_text)
        next_start = end_pos - overlap_chars
        if next_start <= start_pos:
            next_start = end_pos
        start_pos = next_start
    return chunks


def interleave_spans(
    text_chunks: list[str], media_refs: Iterable[str] | None
) -> list[dict]:
    """Merge ordered text chunks with media refs into the spans struct list.

    Media ref i of m lands after text chunk ceil((i+1)*n/(m+1)).
    """
    media = [m for m in (media_refs or []) if m]
    n = len(text_chunks)
    m = len(media)
    out: list[dict] = []
    mi = 0
    for ti, chunk in enumerate(text_chunks):
        out.append({"kind": "text", "text": chunk, "media_ref": "", "offset": 0})
        while mi < m and math.ceil((mi + 1) * n / (m + 1)) == ti + 1:
            out.append({"kind": "media", "text": "", "media_ref": media[mi], "offset": 0})
            mi += 1
    while mi < m:
        out.append({"kind": "media", "text": "", "media_ref": media[mi], "offset": 0})
        mi += 1
    for i, span in enumerate(out):
        span["offset"] = i
    return out


def doc_id_for_url(url: str) -> str:
    """uuid5(NAMESPACE_URL, url) — /root/reference/src/llm_scraper/articles.py:190-196."""
    return str(uuid.uuid5(uuid.NAMESPACE_URL, url))


# ---------------------------------------------------------------------------
# Spark surface — Arrow-batched pandas UDFs (no per-row Python at plan level)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.ArrayType(SPAN_STRUCT))
def spans_from_text(text: pd.Series, media_refs: pd.Series) -> pd.Series:
    """(content, array<media_ref>) -> interleaved spans, production params 512/50."""
    out = []
    for t, refs in zip(text, media_refs):
        chunks = chunk_by_token_estimate(t if isinstance(t, str) else "")
        refs_list = list(refs) if refs is not None else []
        out.append(interleave_spans(chunks, refs_list))
    return pd.Series(out)


@F.pandas_udf(T.StringType())
def uuid5_url(url: pd.Series) -> pd.Series:
    ns = uuid.NAMESPACE_URL
    return url.map(lambda u: str(uuid.uuid5(ns, u)) if isinstance(u, str) else None)


def with_spans(df, text_col: str = "text", media_col=None, out_col: str = "spans"):
    """Attach the interleaved spans column to a DataFrame of documents."""
    media = F.col(media_col) if media_col else F.array().cast("array<string>")
    return df.withColumn(out_col, spans_from_text(F.col(text_col), media))


def to_rag_documents(df, doc_id_col: str = "doc_id", spans_col: str = "spans",
                     title_col: str | None = None, url_col: str | None = None,
                     domain_col: str | None = None):
    """C3 (articles.py:299-319 / worker.py:402-412): explode text spans to
    RAG chunk docs with ids ``{doc_id}-chunk-{index}`` where index is the
    chunk order among TEXT spans (media spans carry no chunk index)."""
    from pyspark.sql import Window as W

    text_spans = df.select(
        F.col(doc_id_col).alias("doc_id"),
        *([F.col(title_col).alias("title")] if title_col else []),
        *([F.col(url_col).alias("source_url")] if url_col else []),
        *([F.col(domain_col).alias("domain")] if domain_col else []),
        F.explode(F.filter(F.col(spans_col), lambda s: s.kind == F.lit("text"))).alias("sp"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("sp.offset"))
    return (
        text_spans.withColumn("chunk_index", F.row_number().over(w) - 1)
        .withColumn(
            "id",
            F.concat("doc_id", F.lit("-chunk-"), F.col("chunk_index").cast("string")),
        )
        .withColumn("text", F.col("sp.text"))
        .drop("sp")
    )


def chunk_counts(df, spans_col: str = "spans"):
    """Per-document span stats (native exprs; A5 analogue, worker.py:381-436)."""
    sc = F.col(spans_col)
    return df.select(
        "*",
        F.size(sc).alias("n_spans"),
        F.size(F.filter(sc, lambda s: s.kind == F.lit("text"))).alias("n_text_spans"),
        F.size(F.filter(sc, lambda s: s.kind == F.lit("media"))).alias("n_media_spans"),
    )
