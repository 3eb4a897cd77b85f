"""Deterministic synthetic inputs (FIXTURES.md §1,4; no external data).

Two generators:

1. ``synth_seeds`` / ``synth_page`` — a deterministic synthetic *web*: every
   URL's content, outlinks and media refs are pure functions of the URL
   string (md5-seeded). The Spark fetcher (crawl/waves.py) and the
   single-node oracle simulator (crawl/simulator.py) call the same
   functions, which is what makes crawl-ordering/seen-set equality
   testable without a network.

2. ``build_documents_interleaved`` — the north-rule input table
   ``documents(doc_id, spans)`` derived from the driver's
   ``documents.parquet`` text via the production chunker + deterministic
   media interleaving (media refs are a pure function of doc text hash).

Host population is Zipf-ish (cubic transform of a uniform hash) so skew
handling (salting, AQE) is exercised by construction.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

WORDS = (
    "spark table scan filter join merge agg window sort batch stream value "
    "key part order line customer query data column row group vector media "
    "frame crawl fetch host link page index shard salt bloom"
).split()


def _h(s: str) -> int:
    """Stable 64-bit int from a string (md5 prefix) — seeds all synth content."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def synth_host(i: int, n_hosts: int) -> str:
    return f"host{i % n_hosts}.example.com"


def synth_seed_url(i: int, n_hosts: int) -> str:
    """Seed i lands on a Zipf-ish host: cubic transform of a uniform hash
    concentrates mass on low host indices (host0 is hot)."""
    u = (_h(f"seed:{i}") % 1_000_000) / 1_000_000.0
    host_idx = int(n_hosts * u * u * u)
    return f"https://{synth_host(host_idx, n_hosts)}/seed/{i}"


def synth_page(url: str, n_hosts: int = 50, fanout: int = 4,
               n_media: int = 2, n_sentences: int = 30) -> dict:
    """Deterministic page for a URL: content text, outlinks, media refs.

    Outlinks mix same-host ('deeper path') and cross-host links; everything
    derives from md5(url) so any executor and the oracle agree byte-for-byte.
    """
    seed = _h(url)
    host_idx = seed % n_hosts
    n_words = len(WORDS)
    sentences = []
    for s in range(n_sentences):
        # ONE digest per sentence; word indices are its bytes. The previous
        # per-WORD md5 made the stand-in fetcher cost ~370 digests/page
        # (~500us) — the bench then measured the page generator, not the
        # engine. Content changed shape here is fine: schedule/seen goldens
        # depend only on outlinks, and the simulator shares this function.
        d = hashlib.md5(f"{url}#s{s}".encode("utf-8")).digest()
        n_w = 5 + d[0] % 12
        ws = [WORDS[d[(1 + w) & 15] % n_words] for w in range(n_w)]
        ws[0] = ws[0].capitalize()
        sentences.append(" ".join(ws) + ".")
    content = " ".join(sentences)

    outlinks = []
    for j in range(fanout):
        k = _h(f"{url}#l{j}")
        if k % 3 == 0:  # cross-host link
            target_host = synth_host(int(n_hosts * ((k % 997) / 997.0) ** 3), n_hosts)
        else:  # same-host link
            target_host = synth_host(host_idx, n_hosts)
        outlinks.append(f"https://{target_host}/p/{k % 100_000}")

    media = [
        f"https://cdn.example.com/img/{_h(f'{url}#m{m}') % 1_000_000}.jpg"
        for m in range(seed % (n_media + 1))
    ]
    return {"content": content, "outlinks": outlinks, "media_refs": media}


def synth_seeds(spark: SparkSession, n_seeds: int, n_hosts: int = 50) -> DataFrame:
    """Seeds table (FIXTURES.md §4) — generated distributed via spark.range,
    host skew applied with native exprs (cubic transform of xxhash64)."""
    u = (F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(1_000_000))
         .cast("double") / 1_000_000.0)
    host_idx = F.floor(F.lit(n_hosts) * u * u * u).cast("int")
    host = F.concat(F.lit("host"), F.pmod(host_idx, F.lit(n_hosts)).cast("string"),
                    F.lit(".example.com"))
    return (
        spark.range(n_seeds)
        .withColumn("host", host)
        .withColumn("url", F.concat(F.lit("https://"), F.col("host"),
                                    F.lit("/seed/"), F.col("id").cast("string")))
        .withColumn("priority", F.lit(1.0))
        .withColumn("discovered_at", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
        .withColumn("seq", F.col("id").cast("long"))
        .drop("id")
    )


def python_seed_urls(n_seeds: int, n_hosts: int = 50) -> list[str]:
    """The same seed list for the single-node oracle — MUST match synth_seeds.

    synth_seeds uses native xxhash64; this helper instead regenerates the
    list by collecting is-prohibited, so the oracle consumes the *collected*
    seeds DataFrame in tests. Kept for tiny unit cases only.
    """
    raise NotImplementedError("collect synth_seeds(spark, n) instead — one source of truth")


def build_documents_interleaved(
    spark: SparkSession, base_dir: str, max_media: int = 3
) -> DataFrame:
    """North-rule documents(doc_id, spans) from the driver's documents.parquet.

    doc_id = uuid5 of a synthetic per-row URL; media refs are a pure
    function of (doc_id, text hash) so the table is reproducible anywhere.
    """
    from ..operators.chunker import doc_ids_and_spans
    from ..schemas import SPAN_DDL

    raw = spark.read.parquet(f"{base_dir}/documents.parquet")
    url = F.concat(F.lit("https://docs.example.com/"), F.col("doc_id").cast("string"))
    n_media = F.pmod(F.xxhash64(F.col("text")), F.lit(max_media + 1)).cast("int")
    media = F.transform(
        F.sequence(F.lit(0), n_media - 1),
        lambda i: F.concat(
            F.lit("https://cdn.example.com/img/"),
            F.pmod(F.xxhash64(F.concat(F.col("text"), i.cast("string"))),
                   F.lit(1_000_000)).cast("string"),
            F.lit(".jpg"),
        ),
    )
    media = F.when(n_media > 0, media).otherwise(F.array().cast("array<string>"))

    def gen(batches):
        for pdf in batches:
            pdf["doc_id"], pdf["spans"] = doc_ids_and_spans(
                pdf["url"], pdf["text"], pdf["media"])
            yield pdf[["doc_id", "spans"]]

    return raw.select(url.alias("url"), "text", media.alias("media")) \
        .mapInPandas(gen, schema=f"doc_id string, spans {SPAN_DDL}")
