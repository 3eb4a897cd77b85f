"""Extraction-engine tests mirroring the reference suite
(/root/reference/tests/test_xpath_selector.py and tests/test_articles.py),
run through our stdlib DOM + selector engines + pipeline.

NB the reference's own test_articles.py expects a <title>-element/schema-
headline fallback that only exists in the unused models/helper.py path;
the production path (get_metadata -> ResponseMeta.from_soup ->
Meta.from_soup, parsers/base.py:393-439) reads meta tags only. This engine
mirrors the PRODUCTION path; the divergence is asserted explicitly below.
"""

import json
import os
import pathlib

import pytest

from llm_scraper_spark.operators.extraction.css import select, select_one
from llm_scraper_spark.operators.extraction.dom import parse_html
from llm_scraper_spark.operators.extraction.pipeline import (
    _extract_element,
    config_for_domain,
    extract_article,
    load_parser_configs,
    parse_with_config,
)
from llm_scraper_spark.operators.extraction.xpath import xpath

# the reference suite's shared sample (test_xpath_selector.py:19-68)
HTML_SAMPLE = """
<!DOCTYPE html>
<html>
<head>
    <meta property="og:title" content="Test Article">
    <meta property="article:published_time" content="2024-01-15T10:00:00Z">
</head>
<body>
    <article class="post" data-type="article">
        <header class="post-header">
            <h1 class="post-title">Understanding XPath and CSS Selectors</h1>
            <div class="post-meta">
                <time datetime="2024-01-15T10:00:00Z" class="published">January 15, 2024</time>
                <div class="byline">
                    <span>By:</span>
                    <a href="/author/john" class="author" rel="author">John Doe</a>
                    <a href="/author/jane" class="author" rel="author">Jane Smith</a>
                </div>
            </div>
        </header>
        <div class="post-content">
            <p>This article demonstrates both CSS and XPath selectors.</p>
            <p>XPath provides more powerful element selection capabilities.</p>
            <p class="highlight">Important: XPath can navigate the DOM tree more flexibly.</p>
        </div>
        <footer class="post-footer">
            <div class="tags">
                <a href="/tag/web-scraping" rel="tag">Web Scraping</a>
                <a href="/tag/xpath" rel="tag">XPath</a>
                <a href="/tag/css" rel="tag">CSS</a>
            </div>
            <div class="related">
                <h3>Related Articles</h3>
                <ul>
                    <li><a href="/article/css-basics">CSS Basics</a></li>
                    <li><a href="/article/xpath-guide">XPath Guide</a></li>
                </ul>
            </div>
        </footer>
    </article>
    <aside class="sidebar">
        <a href="/about">About Us</a>
        <a href="/contact">Contact</a>
    </aside>
</body>
</html>
"""


@pytest.fixture()
def root():
    return parse_html(HTML_SAMPLE)


class TestCSS:
    def test_simple_css_selector(self, root):
        result = _extract_element(root, {"selector": "div.post-content", "type": "html"}, None)
        assert result and "XPath provides more powerful" in result

    def test_css_with_attribute(self, root):
        result = _extract_element(
            root, {"selector": "time.published", "attribute": "datetime"}, None)
        assert result == "2024-01-15T10:00:00Z"

    def test_css_with_parent_scope(self, root):
        result = _extract_element(root, {
            "selector": [{"query": "a", "selector_type": "css",
                          "attribute": "href", "parent": ".byline"}],
            "all": True}, None)
        assert isinstance(result, list) and len(result) == 2
        assert "/author/john" in result and "/author/jane" in result

    def test_css_fallback_chain(self, root):
        result = _extract_element(
            root, {"selector": ["h2.title", "h1.post-title", "h1"]}, None)
        assert result == "Understanding XPath and CSS Selectors"

    def test_child_combinator_and_attr_ops(self, root):
        assert select_one(root, "div.tags > a") is not None
        assert len(select(root, "a[href^='/tag/']")) == 3
        assert len(select(root, "a[href$='guide']")) == 1
        assert len(select(root, "a[href*='author']")) == 2
        assert len(select(root, ".tags a, .related a")) == 5


class TestXPath:
    def test_simple_xpath(self, root):
        result = _extract_element(root, {"selector": "//h1[@class='post-title']"}, None)
        assert result == "Understanding XPath and CSS Selectors"

    def test_xpath_with_attribute(self, root):
        result = _extract_element(
            root, {"selector": "//time[@class='published']", "attribute": "datetime"}, None)
        assert result == "2024-01-15T10:00:00Z"

    def test_xpath_position_based(self, root):
        result = _extract_element(
            root, {"selector": "//div[@class='post-content']//p[1]"}, None)
        assert result and "demonstrates both CSS and XPath" in result

    def test_xpath_attribute_filtering(self, root):
        result = _extract_element(root, {"selector": "//a[@rel='author']", "all": True}, None)
        assert isinstance(result, list) and len(result) == 2
        assert "John Doe" in result and "Jane Smith" in result

    def test_xpath_with_parent_scope(self, root):
        result = _extract_element(root, {
            "selector": [{"query": ".//a[@rel='author']", "selector_type": "xpath",
                          "parent": "//div[@class='byline']"}],
            "all": True}, None)
        assert isinstance(result, list) and len(result) == 2

    def test_xpath_contains(self, root):
        result = _extract_element(
            root, {"selector": "//p[contains(@class, 'highlight')]"}, None)
        assert "Important:" in result and "XPath can navigate" in result

    def test_attribute_terminal_xpath_never_matches(self, root):
        """Reference quirk (parsers/base.py:145): /@attr results are
        filtered to elements -> no match, chain falls through."""
        result = _extract_element(root, {
            "selector": ["//time[@datetime]/@datetime", "h1.post-title"]}, None)
        assert result == "Understanding XPath and CSS Selectors"

    def test_positional_predicate_per_context(self):
        html = "<div><p>a1</p><p>a2</p></div><div><p>b1</p><p>b2</p></div>"
        r = parse_html(html)
        # //div/p[2] = second p of EACH div (proper XPath semantics)
        got = [n.get_text() for n in xpath(r, "//div/p[2]")]
        assert got == ["a2", "b2"]


class TestMixed:
    def test_css_then_xpath_fallback(self, root):
        result = _extract_element(root, {
            "selector": ["h2.missing-class", "//h1[@class='post-title']", "h1"]}, None)
        assert result == "Understanding XPath and CSS Selectors"

    def test_xpath_then_css_fallback(self, root):
        result = _extract_element(root, {
            "selector": ["//h2[@class='missing']", "h1.post-title"]}, None)
        assert result == "Understanding XPath and CSS Selectors"

    def test_mixed_with_configs(self, root):
        result = _extract_element(root, {"selector": [
            {"query": "time.missing", "selector_type": "css", "attribute": "datetime"},
            {"query": "//time[@class='published']", "selector_type": "xpath",
             "attribute": "datetime"},
            {"query": "meta[property='article:published_time']", "attribute": "content"},
        ]}, None)
        assert result == "2024-01-15T10:00:00Z"

    def test_break_on_first_even_with_all(self, root):
        """all=True still breaks at the first matching selector
        (parsers/base.py:297-299)."""
        result = _extract_element(root, {
            "selector": [".tags a", ".related a"], "all": True}, None)
        assert result == ["Web Scraping", "XPath", "CSS"]


class TestComplex:
    def test_extract_tags_multiple_methods(self, root):
        result = _extract_element(root, {"selector": [
            {"query": ".//a", "selector_type": "xpath", "parent": "//div[@class='tags']"},
            "a[rel='tag']", "//a[@rel='tag']"], "all": True}, None)
        assert sorted(result) == ["CSS", "Web Scraping", "XPath"]

    def test_extract_related_links_href_absolutized(self, root):
        result = _extract_element(root, {"selector": [
            {"query": ".//a", "selector_type": "xpath",
             "parent": "//div[@class='related']", "attribute": "href"},
            ".related a"], "attribute": "href", "all": True},
            "https://example.com/post")
        assert result == ["https://example.com/article/css-basics",
                          "https://example.com/article/xpath-guide"]

    def test_avoid_sidebar_links(self, root):
        """Parent scoping excludes sidebar links (reference
        tests/test_xpath_selector.py:337-369, assertions byte-exact)."""
        result_all = _extract_element(
            root, {"selector": "a", "attribute": "href", "all": True}, None)
        assert "/about" in result_all or "/contact" in result_all
        result_scoped = _extract_element(root, {"selector": [
            {"query": "a", "selector_type": "css", "attribute": "href",
             "parent": ".byline"}], "all": True}, None)
        assert "/about" not in result_scoped
        assert "/author/john" in result_scoped

    def test_full_parser_config(self, root):
        config = {
            "domain": "example.com",
            "title": {"selector": ["h1.post-title", "//h1[@class='post-title']"]},
            "content": {"selector": ["div.post-content",
                                     "//div[@class='post-content']"], "type": "html"},
            "authors": {"selector": [
                {"query": ".//a[@rel='author']", "selector_type": "xpath",
                 "parent": "//div[@class='byline']"},
                {"query": "a.author", "selector_type": "css", "parent": ".byline"}],
                "all": True},
            "date_published": {"selector": [
                {"query": "time", "selector_type": "css", "attribute": "datetime"},
                {"query": "//time[@pubdate]", "selector_type": "xpath",
                 "attribute": "datetime"}]},
            "tags": {"selector": [
                {"query": ".//a", "selector_type": "xpath",
                 "parent": "//div[@class='tags']"},
                "a[rel='tag']"], "all": True},
        }
        data = parse_with_config(parse_html(HTML_SAMPLE), config, None)
        assert data["title"] == "Understanding XPath and CSS Selectors"
        assert "XPath provides more powerful" in data["content"]
        assert data["authors"] == ["John Doe", "Jane Smith"]
        assert data["date_published"] == "2024-01-15T10:00:00Z"
        assert sorted(data["tags"]) == ["CSS", "Web Scraping", "XPath"]

    def test_global_cleanup_removes_before_extraction(self):
        html = "<div class='c'><script>x</script><p>keep</p><div class='ads'>ad</div></div>"
        config = {"domain": "t", "cleanup": ["script", ".ads"],
                  "content": {"selector": "div.c"}}
        data = parse_with_config(parse_html(html), config, None)
        assert data["content"] == "keepad".replace("ad", "") or data["content"] == "keep"

    def test_per_field_cleanup_on_css_mutates_dom(self):
        """CSS-matched per-field cleanup decomposes in the SHARED dom
        (content last ordering exists because of this)."""
        html = ("<article><div class='post'><p>body</p>"
                "<div class='related'><a>rel</a></div></div></article>")
        root = parse_html(html)
        v = _extract_element(root, {"selector": "div.post",
                                    "cleanup": [".related"]}, None)
        assert v == "body"
        # the shared DOM no longer contains .related
        assert select_one(root, ".related") is None

    def test_per_field_cleanup_on_xpath_copies(self):
        html = ("<article><div class='post'><p>body</p>"
                "<div class='related'><a>rel</a></div></div></article>")
        root = parse_html(html)
        v = _extract_element(root, {"selector": "//div[@class='post']",
                                    "cleanup": [".related"]}, None)
        assert v == "body"
        # xpath path deep-copied before cleanup -> shared DOM intact
        assert select_one(root, ".related") is not None


SAMPLE_HTML = """
<html>
<head>
    <title>Test Article Title</title>
    <meta property="og:title" content="OpenGraph Title" />
    <meta name="description" content="Meta Description" />
    <meta property="article:published_time" content="2023-01-01T12:00:00Z" />
    <script type="application/ld+json">
    {
      "@context": "https://schema.org",
      "@type": "NewsArticle",
      "headline": "Schema Headline",
      "datePublished": "2023-01-02T12:00:00Z",
      "description": "Schema Description"
    }
    </script>
</head>
<body>
    <h1>Main Heading</h1>
    <p>This is the first paragraph of the article.</p>
    <p>This is the second paragraph, with more content.</p>
</body>
</html>
"""


def test_meta_nest_full_surface():
    """P15 full nested OG/article/twitter surface (models/meta.py:282-306):
    None-dropped nests, og:image wrapped, twitter prefix-stripped."""
    from llm_scraper_spark.operators.extraction.dom import parse_html
    from llm_scraper_spark.operators.extraction.meta import response_meta

    html = """<html><head>
      <meta property="og:title" content="T"/>
      <meta property="og:image" content="https://x.com/i.png"/>
      <meta property="og:site_name" content="Site"/>
      <meta property="article:published_time" content="2024-01-15T10:00:00Z"/>
      <meta property="article:section" content="News"/>
      <meta name="twitter:card" content="summary"/>
      <meta name="twitter:title" content="TwT"/>
    </head><body></body></html>"""
    nest = response_meta(parse_html(html))["nest"]
    assert nest["open_graph"] == {
        "title": "T", "site_name": "Site", "image": {"image": "https://x.com/i.png"}}
    assert nest["article"] == {
        "published_time": "2024-01-15T10:00:00Z", "section": "News"}
    assert nest["twitter"] == {"card": "summary", "title": "TwT"}
    # absent groups are omitted entirely
    bare = response_meta(parse_html("<html><body><p>x</p></body></html>"))["nest"]
    assert bare == {}


def test_normalize_dict_twin():
    """Standalone normalize_dict matches the reference semantics
    (utils/normalization.py:82-92): dict pass-through, bytes decode,
    str json-parse, tolerant {} on failure/other types."""
    import pytest as _pytest

    from llm_scraper_spark.operators.extraction.jsonld import normalize_dict

    assert normalize_dict({"a": 1}) == {"a": 1}
    assert normalize_dict('{"a": 1}') == {"a": 1}
    assert normalize_dict(b'{"b": 2}') == {"b": 2}
    assert normalize_dict("not json") == {}
    assert normalize_dict(None) == {}
    assert normalize_dict(42) == {}
    assert normalize_dict("[1, 2]") == [1, 2]  # upstream returns the parse as-is
    with _pytest.raises(UnicodeDecodeError):  # strict decode, as upstream
        normalize_dict(b"\xff\xfe{")


class TestArticlePipeline:
    def test_from_html_successful_creation(self):
        rec = extract_article(SAMPLE_HTML, "https://example.com/test-article", None)
        assert rec["status"] == "ok"
        assert rec["title"] == "OpenGraph Title"  # og:title priority
        assert rec["description"] == "Meta Description"
        assert rec["published_at"].startswith("2023-01-01T12:00:00")
        assert "This is the first paragraph" in rec["content"]

    def test_production_path_has_no_title_element_fallback(self):
        """Production Meta.from_soup never reads <title>/headline; the
        reference test expecting 'Schema Headline' exercises an unused
        code path (models/helper.py)."""
        html = """<html><head><title>T</title>
        <script type="application/ld+json">{"@type":"NewsArticle",
        "headline":"Schema Headline","datePublished":"2023-01-02T12:00:00Z"}</script>
        </head><body><p>Content here</p></body></html>"""
        rec = extract_article(html, "https://example.com/no-meta", None)
        assert rec["title"] == "No title found"
        assert rec["published_at"].startswith("2023-01-02T12:00:00")  # jsonld date

    def test_error_paths(self):
        assert extract_article("", "u", None)["status"] == "error:empty_html"
        assert (extract_article("<html><body></body></html>", "u", None)["status"]
                == "error:no_content")

    def test_content_scoping_excludes_header_footer(self):
        html = """
        <html><head><title>Title</title></head><body>
        <header><h1>This is a header</h1></header>
        <nav><a>Home</a></nav>
        <main><article><h2>Article Title</h2>
        <p>First paragraph.</p><p>Second paragraph.</p></article></main>
        <footer><p>Copyright</p></footer>
        </body></html>"""
        rec = extract_article(html, "https://example.com/main-content", None)
        assert "First paragraph." in rec["content"]
        assert "Second paragraph." in rec["content"]
        assert "This is a header" not in rec["content"]
        assert "Copyright" not in rec["content"]

    def test_breadcrumb_topics_and_schema_sections(self):
        html = """<html><head>
        <script type="application/ld+json">
        {"@type":"BreadcrumbList","itemListElement":[
          {"@type":"ListItem","position":1,"name":"Home"},
          {"@type":"ListItem","position":2,"name":"Tech"},
          {"@type":"ListItem","position":3,"name":"AI"}]}
        </script></head>
        <body><main><p>Body content here.</p></main></body></html>"""
        rec = extract_article(html, "https://example.com/x", None)
        assert rec["topics"] == ["Tech", "AI"]  # 'Home'-position-1 skipped

    def test_markdown_output(self):
        html = """<html><body><div class='c'><h2>Head</h2>
        <p>Para <strong>bold</strong> text.</p>
        <ul><li>one</li><li>two</li></ul>
        <a href='https://x.com/y'>link</a></div></body></html>"""
        cfg = {"domain": "t", "content": {"selector": "div.c", "type": "html"}}
        rec = extract_article(html, "https://t/x", cfg, output_format="markdown")
        c = rec["content"]
        assert "## Head" in c and "**bold**" in c
        assert "- one" in c and "[link](https://x.com/y)" in c


class TestRealConfigs:
    """All 93 reference domain configs load and run against synthetic pages."""

    CONFIG_DIR = "/root/reference/src/llm_scraper/parsers/configs"
    # The reference configs are not part of this repository. Without them
    # the two tests that need a specific config skip (the crash sweep runs
    # over none); config-driven parsing stays covered on inline configs by
    # TestComplex.test_full_parser_config and TestMixed.test_mixed_with_configs.
    needs_ref_configs = pytest.mark.skipif(
        not os.path.isdir(CONFIG_DIR),
        reason=f"reference configs {CONFIG_DIR} are absent")

    @needs_ref_configs
    def test_load_all_reference_configs(self):
        configs = load_parser_configs(self.CONFIG_DIR)
        assert len({c["domain"] for c in configs.values()}) >= 90

    @needs_ref_configs
    def test_cryptoslate_config_runs(self):
        configs = load_parser_configs(self.CONFIG_DIR)
        cfg = config_for_domain(configs, "cryptoslate.com")
        assert cfg["domain"] == "cryptoslate.com"
        html = """<html><body>
        <article id="article"><div>x</div><div>y</div>
        <div class="post ">Article body text with details.
          <div class="ads">buy</div>
          <a rel="author">Alice</a>
        </div></article>
        <h1 class="single-post-title">The Title</h1>
        <a rel="tag">BTC</a><a rel="tag">ETH</a>
        </body></html>"""
        data = parse_with_config(parse_html(html), cfg, "https://cryptoslate.com/p")
        assert data["title"] == "The Title"
        # //article[@id='article']/div[3] -> the third div (class 'post ')
        assert "Article body text" in data["content"]
        assert "buy" not in data["content"]  # per-field cleanup removed .ads
        assert data["authors"] == ["Alice"]
        assert data["tags"] == ["BTC", "ETH"]

    def test_every_config_parses_without_crash(self):
        configs = load_parser_configs(self.CONFIG_DIR)
        html = parse_html(HTML_SAMPLE)
        for domain, cfg in list(configs.items()):
            parse_with_config(html.clone(), cfg, f"https://{domain}/")
