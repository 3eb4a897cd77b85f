"""Differential tests for the one-walk selector engine.

The per-selector implementations the engine used before the one-walk
cleanup (one full-tree ``select`` per selector, one ``Node.detach`` per
match) are kept here as oracles: ``css.select``/``css.select_one``/
``css.decompose`` and ``pipeline._cleanup_node`` must leave the same tree
and return the same nodes, in the same order, on random DOMs and random
selector lists, and ``extract_article`` must produce the same record on
large generated pages.
"""

from __future__ import annotations

import random
import re

import pytest
from hypothesis import given, settings, strategies as st

from llm_scraper_spark.operators.extraction import css
from llm_scraper_spark.operators.extraction import pipeline
from llm_scraper_spark.operators.extraction import xpath as xpath_engine
from llm_scraper_spark.operators.extraction.dom import Node, parse_html
from llm_scraper_spark.operators.extraction.pipeline import (
    GENERIC_CONFIG, _cleanup_node, _detect_type, _extract_element,
    extract_article, normalize_content)

# ---------------------------------------------------------------------------
# oracles: the per-selector engine
# ---------------------------------------------------------------------------


def oracle_select(scope: Node, selector: str) -> list[Node]:
    groups = css.parse_selector.__wrapped__(selector)  # uncached parse
    out: list[Node] = []
    seen = set()
    for node in scope.iter_elements():
        for chain in groups:
            if css._matches_chain(node, chain, scope):
                if id(node) not in seen:
                    seen.add(id(node))
                    out.append(node)
                break
    return out


def oracle_select_one(scope: Node, selector: str) -> Node | None:
    groups = css.parse_selector.__wrapped__(selector)
    for node in scope.iter_elements():
        for chain in groups:
            if css._matches_chain(node, chain, scope):
                return node
    return None


def oracle_cleanup(scope: Node, selectors) -> None:
    for sel in selectors or []:
        try:
            if _detect_type(sel) == "css":
                for n in oracle_select(scope, sel):
                    n.detach()
            else:
                for n in xpath_engine.xpath(scope, sel):
                    if isinstance(n, Node):
                        n.detach()
        except Exception:
            continue


def oracle_normalize(content: str) -> str:
    content = re.sub(r"[\r\n\t]+", " ", content)
    content = content.replace("\u00A0", " ")
    return re.sub(r" {2,}", " ", content).strip()


# ---------------------------------------------------------------------------
# random DOMs and selectors
# ---------------------------------------------------------------------------

TAGS = ("div", "p", "span", "a", "li", "section")
IDS = ("a", "b", "c")
CLASSES = ("x", "y", "z", "x y", "y z x", "")
VALUES = ("v", "vw", "w v", "")


@st.composite
def attrs_st(draw):
    attrs = {}
    if draw(st.booleans()):
        attrs["id"] = draw(st.sampled_from(IDS))
    if draw(st.booleans()):
        attrs["class"] = draw(st.sampled_from(CLASSES))
    if draw(st.integers(0, 3)) == 0:
        attrs["data-k"] = draw(st.sampled_from(VALUES))
    if draw(st.integers(0, 5)) == 0:
        attrs["rel"] = None  # valueless attribute
    return attrs


def tree_st():
    text = st.sampled_from(("t", "u v", " ")).map(lambda t: ("#text", t))
    leaf = st.one_of(text, st.tuples(st.sampled_from(TAGS), attrs_st(),
                                     st.just([])))
    return st.recursive(
        leaf,
        lambda kids: st.tuples(st.sampled_from(TAGS), attrs_st(),
                               st.lists(kids, max_size=5)),
        max_leaves=40)


def build(spec) -> Node:
    if spec[0] == "#text":
        return Node(None, text=spec[1])
    tag, attrs, kids = spec
    node = Node(tag, dict(attrs))
    for k in kids:
        node.append(build(k))
    return node


def document(specs) -> Node:
    root = Node("[document]")
    for s in specs:
        root.append(build(s))
    return root


@st.composite
def compound_st(draw):
    out = draw(st.sampled_from(("",) + TAGS + ("*",)))
    for _ in range(draw(st.integers(0, 2))):
        out += "#" + draw(st.sampled_from(IDS))
    for _ in range(draw(st.integers(0, 2))):
        out += "." + draw(st.sampled_from(("x", "y", "z")))
    if draw(st.integers(0, 2)) == 0:
        op = draw(st.sampled_from(("", "=", "^=", "$=", "*=", "~=")))
        out += ("[data-k]" if not op else
                f"[data-k{op}'{draw(st.sampled_from(('v', 'w', 'vw')))}']")
    return out or "*"


@st.composite
def css_selector_st(draw):
    groups = []
    for _ in range(draw(st.integers(1, 2))):
        parts = [draw(compound_st())]
        for _ in range(draw(st.integers(0, 2))):
            parts.append(draw(st.sampled_from((" ", " > "))))
            parts.append(draw(compound_st()))
        groups.append("".join(parts))
    return ", ".join(groups)


XPATHS = ("//p[1]", "//div[@id='a']", "//span", "//li[2]",
          "//*[@class='x']", "//div/p[1]", "//section//a[1]")
INVALID = ("div[", "!!", "", ",", "p >> ~q", "#")

selector_list_st = st.lists(
    st.one_of(css_selector_st(), css_selector_st(), css_selector_st(),
              st.sampled_from(XPATHS), st.sampled_from(INVALID)),
    max_size=8)


# ---------------------------------------------------------------------------
# (a) cleanup and select on random DOMs
# ---------------------------------------------------------------------------


@settings(max_examples=400, deadline=None)
@given(st.lists(tree_st(), min_size=1, max_size=4), selector_list_st)
def test_cleanup_equals_per_selector_oracle(specs, selectors):
    got, want = document(specs), document(specs)
    _cleanup_node(got, selectors)
    oracle_cleanup(want, selectors)
    assert got.inner_html() == want.inner_html()


@settings(max_examples=300, deadline=None)
@given(st.lists(tree_st(), min_size=1, max_size=4), selector_list_st,
       st.integers(0, 50))
def test_cleanup_of_a_subtree_keeps_orphans_equal(specs, selectors, pick):
    """Scoped cleanup (field cleanup on a matched element): the scope's
    tree AND every other element of the document, attached or not, ends
    in the same state (a find-all field may later read a nested element
    that this cleanup detached)."""
    got, want = document(specs), document(specs)
    got_els, want_els = list(got.iter_elements()), list(want.iter_elements())
    if not got_els:
        return
    i = pick % len(got_els)
    _cleanup_node(got_els[i], selectors)
    oracle_cleanup(want_els[i], selectors)
    assert [e.outer_html() for e in got_els] == [
        e.outer_html() for e in want_els]
    assert [e.parent is None for e in got_els] == [
        e.parent is None for e in want_els]


@settings(max_examples=400, deadline=None)
@given(st.lists(tree_st(), min_size=1, max_size=4), css_selector_st(),
       st.integers(0, 50))
def test_select_equals_oracle(specs, selector, pick):
    root = document(specs)
    scopes = [root] + list(root.iter_elements())
    scope = scopes[pick % len(scopes)]
    want = oracle_select(scope, selector)
    assert css.select(scope, selector) == want  # identity, document order
    assert css.select_one(scope, selector) is oracle_select_one(
        scope, selector)
    assert css.select_one(scope, selector) is (want[0] if want else None)


def test_parse_errors_still_raise_and_parse_is_cached():
    for bad in ("div[", "!!", "", ",  ,"):
        for _ in range(2):  # a failed parse is not cached as a success
            with pytest.raises(ValueError):
                css.select(Node("[document]"), bad)
    assert css.parse_selector("div.x > p") is css.parse_selector("div.x > p")


def test_multi_id_compound_keeps_any_id_semantics():
    """``#a#b`` matches an element whose id is EITHER value in this
    engine; bucketing must not narrow that to the first id."""
    root = parse_html('<div id="a">1</div><div id="b">2</div><p id="c"></p>')
    assert [n.get("id") for n in css.select(root, "#a#b")] == ["a", "b"]
    _cleanup_node(root, ["#b#a"])
    assert root.inner_html() == '<p id="c"></p>'


def test_nested_matches_inside_removed_subtree_follow_selector_order():
    """Inside a removed subtree the per-selector loop detaches only the
    matches of selectors that ran while it was reachable."""
    html = '<div class="byline"><span class="name">Ann <b>x</b></span></div>'
    for selectors in (["span.name", "div.byline b"],
                      ["div.byline b", "span.name"]):
        got, want = parse_html(html), parse_html(html)
        got_span = css.select_one(got, "span.name")
        want_span = oracle_select_one(want, "span.name")
        _cleanup_node(got, selectors)
        oracle_cleanup(want, selectors)
        assert got.inner_html() == want.inner_html()
        assert got_span.outer_html() == want_span.outer_html()


def test_wide_parent_children_rebuilt_once(monkeypatch):
    root = parse_html("<ul>" + "".join(
        f'<li class="{"ad" if i % 2 else "k"}">{i}</li>' for i in range(2000))
        + "</ul>")
    ul = root.find("ul")
    rebuilt = []
    real = Node.children

    class Spy:
        def __get__(self, obj, objtype=None):
            return real.__get__(obj, objtype)

        def __set__(self, obj, value):
            if obj is ul:
                rebuilt.append(len(value))
            real.__set__(obj, value)

    monkeypatch.setattr(Node, "children", Spy())
    _cleanup_node(root, [".ad", "li.zz", "li:bad", "li.ad"])
    assert rebuilt == [1000]
    assert [c.get("class") for c in ul.children] == ["k"] * 1000


# ---------------------------------------------------------------------------
# satellites: single select_one evaluation, one-pass normalization
# ---------------------------------------------------------------------------


def test_single_field_css_selector_evaluated_once(monkeypatch):
    root = parse_html("<h1>A</h1><h1>B</h1>")
    calls = []
    real = css.select_one

    def counting(scope, selector):
        calls.append(selector)
        return real(scope, selector)

    monkeypatch.setattr(css, "select_one", counting)
    assert _extract_element(root, {"selector": ["h1"]}, None) == "A"
    assert calls == ["h1"]
    calls.clear()
    assert _extract_element(root, {"selector": ["h2", "h1"]}, None) == "A"
    assert calls == ["h2", "h1"]


WS_TEXT = st.text(alphabet=st.sampled_from(
    list(" \t\r\n\u00A0") + list("ab\u00e9Z.")
    + ["\u2003", "\u3000", "\x0b", "\x0c", "\u2028", "\u200b", "\u1680",
       "\x85", "\u202f"]), max_size=80)


@settings(max_examples=1000, deadline=None)
@given(WS_TEXT)
def test_one_pass_normalization_equals_three_steps(text):
    assert normalize_content(text) == oracle_normalize(text)


# ---------------------------------------------------------------------------
# (c) extract_article on large generated pages
# ---------------------------------------------------------------------------

WORDS = ("crawl engine batch arrow frontier politeness shard wave merge "
         "naïve café Straße данные 数据 señal fjörd").split()


def _para(rng) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 40))) + "."


def _block(rng, depth: int = 0) -> str:
    kind = rng.randrange(10)
    if kind == 0:
        return "<script>var x = 1 < 2;</script>"
    if kind == 1:
        return '<div class="ad-slot"><p>buy</p><span class="related">r</span></div>'
    if kind == 2:
        return (f'<figure class="wp-block-embed"><p>{_para(rng)}</p></figure>'
                f'<div class="related"><p>{_para(rng)}</p></div>')
    if kind == 3:
        return ('<div class="tdb_single_content"><div class="tdb-block-inner '
                f'td-fix-index"><p>{_para(rng)}</p></div></div>')
    if kind == 4 and depth < 3:
        inner = "".join(_block(rng, depth + 1) for _ in range(rng.randint(1, 4)))
        return f'<section class="s{rng.randrange(3)}">{inner}</section>'
    if kind == 5:
        return (f'<ul class="toc-plus"><li>{rng.choice(WORDS)}</li></ul>'
                f'<p class="popup">{_para(rng)}</p>')
    if kind == 6:
        return ('<div class="byline"><span class="name">'
                f'{rng.choice(WORDS)} <b>{rng.choice(WORDS)}</b></span></div>')
    return f"<p>{_para(rng)}\n\t  {_para(rng)}</p>"


def _page(rng, target: int = 100_000) -> str:
    body = []
    size = 0
    while size < target:
        b = _block(rng)
        body.append(b)
        size += len(b)
    main = "".join(body)
    return (
        "<html><head><title>T</title>"
        '<meta property="og:title" content="Generated page">'
        "<style>p{}</style></head><body>"
        '<nav><a href="/a">a</a></nav>'
        '<h1 class="headline">Headline</h1>'
        '<div class="byline"><a rel="author" href="/u">Ann</a>'
        '<span class="name">Bo <b>x</b></span></div>'
        '<div class="tags"><a href="/t/1">one</a><a href="/t/2">two</a></div>'
        f'<article><div class="post-body">{main}</div></article>'
        "</body></html>")


SITE_CONFIG = {
    "domain": "site.test",
    "cleanup": ["script", "style", "//section[1]", ".ad-slot", "li:bad",
                "nav a"],
    "title": {"selector": ["h1.headline", "//h1"]},
    "content": {"selector": ["div.post-body", "article"],
                "type": "html",
                "cleanup": [".s0 p", "//p[2]", "section > .related"]},
    "authors": {"selector": ["div.byline, div.byline span.name"],
                "all": True, "cleanup": ["div.byline b", "span.name"]},
    "tags": {"selector": [{"query": ".//a", "selector_type": "xpath",
                           "parent": "div.tags"}], "all": True},
}


def _oracle_extract(monkeypatch, html, url, config):
    with monkeypatch.context() as m:
        m.setattr(pipeline, "_cleanup_node", oracle_cleanup)
        m.setattr(css, "select", oracle_select)
        m.setattr(css, "select_one", oracle_select_one)
        m.setattr(pipeline, "normalize_content", oracle_normalize)
        return extract_article(html, url, config)


@pytest.mark.parametrize("config", [SITE_CONFIG, GENERIC_CONFIG],
                         ids=["configured", "generic"])
def test_extract_article_equals_oracle_on_large_pages(monkeypatch, config):
    rng = random.Random(7)
    for i in range(4):
        html = _page(rng)
        assert len(html) >= 100_000
        url = f"https://site.test/p/{i}"
        got = extract_article(html, url, config)
        want = _oracle_extract(monkeypatch, html, url, config)
        assert got["status"] == "ok"
        assert got == want
