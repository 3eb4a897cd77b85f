"""Run the full extraction pipeline over the reference's 7 REAL golden
fixtures with their REAL domain configs (S8 + P-family end-to-end).

The reference itself cannot run here (bs4/lxml absent), so exact golden
spans are not derivable in-sandbox; these tests assert the strong
structural invariants instead: every fixture extracts non-empty content
through its own domain config, titles come from og: meta, spans are
well-formed and ordered, and text spans reproduce our chunker exactly.
"""

import os

import pytest

from llm_scraper_spark.operators.chunker import chunk_by_token_estimate
from llm_scraper_spark.operators.extraction.pipeline import (
    config_for_domain, extract_article, load_parser_configs)
from llm_scraper_spark.sources.fixtures import REFERENCE_FIXTURES, load_fixtures

CONFIG_DIR = "/root/reference/src/llm_scraper/parsers/configs"

# The reference tree is not part of this repository. Without it this module
# skips. Span well-formedness and chunker equality through the Spark UDF
# surface stay pinned by goldens/spans_*.parquet (tests/test_goldens.py) and
# goldens/crawl_doc_spans.parquet (the crawl_media_align entry query).
_MISSING = [p for p in (REFERENCE_FIXTURES, CONFIG_DIR) if not os.path.isdir(p)]
pytestmark = pytest.mark.skipif(
    bool(_MISSING), reason=f"reference inputs absent: {', '.join(_MISSING)}")


@pytest.fixture(scope="module")
def fixtures(spark):
    df = load_fixtures(spark)
    rows = df.collect()
    assert len(rows) >= 6  # 7 fixture files; bitcoin.com.json lacks raw_html
    return rows


@pytest.fixture(scope="module")
def configs():
    return load_parser_configs(CONFIG_DIR)


def test_all_fixtures_extract_content(fixtures, configs):
    ok = 0
    for row in fixtures:
        cfg = config_for_domain(configs, row["domain"])
        rec = extract_article(row["raw_html"], row["url"], cfg)
        if rec["status"] == "ok" and len(rec["content"]) > 200:
            ok += 1
    assert ok >= 6, f"only {ok}/{len(fixtures)} fixtures extracted content"


def test_fixture_titles_and_metadata(fixtures, configs):
    titled = 0
    dated = 0
    for row in fixtures:
        cfg = config_for_domain(configs, row["domain"])
        rec = extract_article(row["raw_html"], row["url"], cfg)
        if rec.get("title") and rec["title"] != "No title found":
            titled += 1
        if rec.get("published_at"):
            dated += 1
    assert titled >= 5
    assert dated >= 4


def test_fixture_extraction_pinned(fixtures, configs):
    """Regression goldens (VERDICT #7): the pipeline's output on every real
    fixture is pinned in goldens/fixture_extraction.json — any drift in
    selectors, cleanup, normalization, or markdown rendering fails here.
    Regenerate deliberately with jobs/make_goldens.py after an intended
    behavior change."""
    import hashlib
    import json

    with open("/root/repo/goldens/fixture_extraction.json") as f:
        golden = json.load(f)
    assert len(golden) >= 6
    for row in fixtures:
        g = golden[row["url"]]
        cfg = config_for_domain(configs, row["domain"])
        rec = extract_article(row["raw_html"], row["url"], cfg)
        content = rec.get("content") or ""
        got = {
            "domain": row["domain"],
            "status": rec["status"],
            "title": rec.get("title"),
            "published_at": rec.get("published_at"),
            "authors": rec.get("authors"),
            "tags": rec.get("tags"),
            "topics": rec.get("topics"),
            "language": rec.get("language"),
            "content_len": len(content),
            "content_md5": hashlib.md5(content.encode("utf-8")).hexdigest(),
            "meta_nest": rec.get("meta_nest"),
        }
        assert got == g, f"extraction drift on {row['url']}"


def test_fixture_spans_pipeline(spark, fixtures):
    """End-to-end through the Spark UDF surface: documents_raw -> extract ->
    spans; text spans equal the production chunker run on the content."""
    from pyspark.sql import functions as F

    from llm_scraper_spark.operators.extraction.pipeline import extract_documents

    df = load_fixtures(spark)
    configs = load_parser_configs(CONFIG_DIR)
    out = extract_documents(df, configs).select("url", "content", "spans").collect()
    assert len(out) >= 6
    for row in out:
        spans = row["spans"]
        offsets = [s["offset"] for s in spans]
        assert offsets == list(range(len(spans)))
        text_spans = [s["text"] for s in spans if s["kind"] == "text"]
        assert text_spans == chunk_by_token_estimate(row["content"])
