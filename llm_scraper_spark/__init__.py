"""llm_scraper_spark — a PySpark-native crawl/extraction analytics engine.

A brand-new engine (not a port) re-expressing the semantics of the public
``thewebscraping/llm-scraper`` reference as Spark DataFrame dataflow:

- URL frontier + fetch scheduler: priority frontier, per-host politeness
  budgets, robots gating, skew-aware salting (``crawl/``, ``operators/frontier.py``)
- URL-seen set: vectorized batch canonicalization + 64-bit hashing and an
  exact ``left_anti`` join; Bloom and cuckoo filters as standalone
  operators (``operators/seen.py``, ``operators/cuckoo.py``)
- per-document scrape -> clean -> chunk pipeline as pandas/Arrow UDFs that
  preserve span-sequence equality ``(kind, text, media_ref, order)``
  (``operators/chunker.py``, ``operators/extraction/``)
- training-data ops: dedup (exact/MinHash-LSH/SimHash/Jaccard/embedding),
  ANN similarity search, text analysis, multimodal plumbing (``operators/``)

Everything is ``pyspark.sql`` DataFrames; Python appears only inside
Arrow-batched pandas UDFs (no per-row Python in any hot path).
"""

__version__ = "0.1.0"
