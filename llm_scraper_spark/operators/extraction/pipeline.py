"""The per-document extraction pipeline (reference Article.from_html,
/root/reference/src/llm_scraper/articles.py:388-507 + BaseParser,
parsers/base.py) re-expressed as ONE Arrow-batched pandas UDF.

Semantic fidelity notes (SURVEY.md §7.4 hard parts):
- fallback chains BREAK on the first selector with >=1 match, even when
  all=True (parsers/base.py:297-299)
- field evaluation order = ParserConfig declaration order with content
  LAST (models/selector.py:96-106); per-field cleanup on CSS-matched
  elements mutates the shared DOM (later fields see the mutation), while
  XPath-matched elements are deep-copied before cleanup
  (parsers/base.py:313-319 converts lxml->new soup) — both replicated
- XPath expressions returning attribute strings are filtered to element
  nodes only (parsers/base.py:145) => attribute-terminal XPaths never
  match and the chain falls through — preserved
- parent-not-found => try next selector (parsers/base.py:277)
- content post-processing: safety cleanup only if the value still contains
  tags, then markdown (ATX, '-') or text (articles.py:427-461); final
  normalize [\\r\\n\\t]+/NBSP/multi-space (articles.py:160-172)
"""

from __future__ import annotations

import json
import re
from datetime import datetime
from urllib.parse import urlparse

from . import css as css_engine
from . import xpath as xpath_engine
from .dom import Node, parse_html
from .jsonld import extract_jsonld
from .markdown import to_markdown, to_plain_text
from .meta import normalize_str_ref, response_meta
from .values import extract_value

# final safety-cleanup selectors — byte-matched to the reference
# COMMON_CLEANUP_SELECTORS (/root/reference/src/llm_scraper/presets.py:9-35)
SAFETY_CLEANUP_SELECTORS = (
    ".ads-center", ".ads_middle", ".adscontent", ".adv", ".ap_container",
    ".google-ads", ".google-auto-placed", ".popup", ".popup-detail-content",
    ".related", ".social-bar", ".sponsor", ".table-of-contents", ".toc-plus",
    ".toc-subnav", ".tts-player", ".youtube-video", ".print-link",
    ".comment-links", "figure.wp-block-embed",
    ".tdb_single_content .tdb-block-inner.td-fix-index",
)

# ParserConfig extraction-field order (models/selector.py:96-106)
FIELD_ORDER = (
    "title", "description", "authors", "date_published", "date_modified",
    "tags", "topics", "main_points", "follow_urls", "content",
)

GENERIC_CONFIG = {
    "domain": "generic",
    "lang": "en",
    "cleanup": ["script", "style", "noscript", "iframe"],
    "title": {"selector": ["h1.article-title", "h1.entry-title", "h1"]},
    "content": {"selector": ["article", "main", ".entry-content", ".post-content"]},
    "authors": {"selector": ["[rel=author]", ".author-name", ".byline"], "all": True},
    "date_published": {"selector": ["time[datetime]"], "attribute": "datetime"},
    "tags": {"selector": ["[rel=tag]", ".post-tags a"], "all": True},
}

_WS_RUN_RE = re.compile("[ \t\r\n\u00A0]+")

ISO_DATETIME_PATTERNS = (
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d",
)


def normalize_datetime(value) -> datetime | None:
    """utils/normalization.py:38-54."""
    if value is None:
        return None
    if isinstance(value, datetime):
        return value
    s = str(value).strip()
    if not s:
        return None
    for fmt in ISO_DATETIME_PATTERNS:
        try:
            return datetime.strptime(s, fmt)
        except Exception:
            continue
    try:
        return datetime.fromisoformat(s)
    except Exception:
        return None


def _detect_type(query: str, explicit: str = "auto") -> str:
    """parsers/base.py:68-87."""
    if explicit and explicit != "auto":
        return explicit
    return "xpath" if query.strip().startswith(("//", "/")) else "css"


def normalize_content(content: str) -> str:
    """The content validator (articles.py:160-172) in one pass: its three,
    [\\r\\n\\t]+ -> space, NBSP -> space, then " {2,}" -> space, turn
    every maximal run of those five characters into exactly one space."""
    return _WS_RUN_RE.sub(" ", content).strip()


def _cleanup_node(scope: Node, selectors) -> None:
    """Decompose matching nodes in place (CSS) / remove (XPath).

    Each maximal run of consecutive CSS selectors is ONE tree walk
    (css.decompose); an XPath selector ends the run and keeps its place,
    since its positional predicates can see earlier removals. A selector
    that fails to parse or evaluate is skipped."""
    run: list[str] = []
    for sel in selectors or []:
        try:
            if _detect_type(sel) == "css":
                css_engine.parse_selector(sel)
                run.append(sel)
                continue
        except Exception:
            continue
        if run:
            css_engine.decompose(scope, tuple(run))
            run = []
        try:
            for n in xpath_engine.xpath(scope, sel):
                if isinstance(n, Node):
                    n.detach()
        except Exception:
            continue
    if run:
        css_engine.decompose(scope, tuple(run))


def _extract_element(root: Node, selector_cfg: dict, base_url: str | None):
    """ElementSelector program (parsers/base.py:227-362)."""
    raw = selector_cfg.get("selector")
    if not raw:
        return None
    items = raw if isinstance(raw, list) else [raw]
    find_all = bool(selector_cfg.get("all"))
    extract_type = selector_cfg.get("type", "text")
    default_attr = selector_cfg.get("attribute")
    field_cleanup = selector_cfg.get("cleanup")

    elements: list[tuple[Node, str | None, bool]] = []
    for item in items:
        if isinstance(item, dict):
            query = item.get("query")
            sel_type = item.get("selector_type", "auto")
            sel_attr = item.get("attribute")
            sel_parent = item.get("parent")
        elif isinstance(item, str):
            query, sel_type, sel_attr, sel_parent = item, "auto", None, None
        else:
            continue
        if not query:
            continue
        try:
            detected = _detect_type(query, sel_type)
            scope = root
            if sel_parent:
                ptype = _detect_type(sel_parent, sel_type)
                if ptype == "css":
                    parent_el = css_engine.select_one(root, sel_parent)
                else:
                    pres = [r for r in xpath_engine.xpath(root, sel_parent)
                            if isinstance(r, Node)]
                    parent_el = pres[0] if pres else None
                if parent_el is None:
                    continue  # parent not found -> next selector
                scope = parent_el

            if detected == "css":
                if find_all:
                    found = css_engine.select(scope, query)
                else:
                    first = css_engine.select_one(scope, query)
                    found = [first] if first is not None else []
                is_xpath = False
            else:
                if scope is not root and not query.startswith("."):
                    query = "." + query if query.startswith("/") else ".//" + query
                results = xpath_engine.xpath(scope, query)
                found = [r for r in results if isinstance(r, Node)]  # base.py:145
                if not find_all and found:
                    found = [found[0]]
                is_xpath = True

            if found:
                elements.extend((el, sel_attr, is_xpath) for el in found)
                break  # fallback-chain break-on-first (base.py:297-299)
        except Exception:
            continue

    if not elements:
        return None

    results = []
    for el, specific_attr, is_xpath in elements:
        if field_cleanup:
            if is_xpath:
                el = el.clone()   # base.py:313-319 copies via re-soup; a real
                is_xpath = False  # deepcopy would chase parent pointers up-tree
            _cleanup_node(el, field_cleanup)
        attr = specific_attr or default_attr
        value = extract_value(el, attr, extract_type, is_xpath, base_url)
        if value:
            results.append(value)
    if not results:
        return None
    return results if find_all else results[0]


def parse_with_config(root: Node, config: dict, base_url: str | None) -> dict:
    """BaseParser.parse (base.py:364-380): global cleanup then fields in
    declaration order."""
    _cleanup_node(root, config.get("cleanup"))
    parsed = {}
    for field in FIELD_ORDER:
        sel = config.get(field)
        if isinstance(sel, dict) and sel.get("selector"):
            value = _extract_element(root, sel, base_url)
            if value:
                parsed[field] = value
    return parsed


def _merge_metadata(meta: dict, jsonld: dict, parsed: dict) -> dict:
    """get_metadata topic grafting (parsers/base.py:418-437) +
    Article.build_metadata precedence (articles.py:337-386)."""
    schemas = jsonld["schemas"]
    schema_org = schemas if len(schemas) > 1 else (schemas[0] if schemas else None)

    meta_topics = list(meta["topics"])
    if jsonld["topics"] and not meta_topics:
        meta_topics = list(jsonld["topics"])

    tags = parsed.get("tags") or meta["tags"] or []
    if isinstance(tags, str):
        tags = [tags]

    topics = parsed.get("topics", [])
    if isinstance(topics, str):
        topics = [topics]
    if not topics:
        topics = meta_topics or []
        # build_metadata re-scan of schema_org for articleSection
        found: list[str] = []
        for schema in (schema_org if isinstance(schema_org, list) else
                       ([schema_org] if isinstance(schema_org, dict) else [])):
            graph = schema.get("@graph") if isinstance(schema, dict) else None
            entries = graph if isinstance(graph, list) else [schema]
            for item in entries:
                if isinstance(item, dict) and "articleSection" in item:
                    sec = item["articleSection"]
                    if isinstance(sec, list):
                        found.extend(str(s) for s in sec)
                    elif isinstance(sec, str):
                        found.append(sec)
        if found:
            topics = found

    main_points = parsed.get("main_points", []) or []
    if isinstance(main_points, str):
        main_points = [main_points]

    pub = normalize_datetime(parsed.get("date_published")) or normalize_datetime(
        meta["date_published"]) or normalize_datetime(jsonld["date_published"])
    mod = normalize_datetime(parsed.get("date_modified")) or normalize_datetime(
        meta["date_modified"]) or normalize_datetime(jsonld["date_modified"])

    return {
        "tags": tags,
        "topics": topics,
        "main_points": main_points,
        "published_at": pub.isoformat() if pub else None,
        "modified_at": mod.isoformat() if mod else None,
        "schema_org": json.dumps(schema_org) if schema_org is not None else None,
    }


def extract_article(html: str, url: str, config: dict | None,
                    output_format: str = "markdown") -> dict:
    """Full Article.from_html pipeline -> plain dict (status column instead
    of exceptions: T7, failures never abort the job)."""
    if not html or not html.strip():
        return {"status": "error:empty_html", "url": url}

    root = parse_html(html)
    meta = response_meta(root)
    jsonld = extract_jsonld(root)

    parsed: dict = {}
    if config:
        parsed = parse_with_config(root, config, base_url=url)
        content = parsed.get("content", "") or ""
        if content and ("<" in content or ">" in content):
            content_root = parse_html(content)
            _cleanup_node(content_root, SAFETY_CLEANUP_SELECTORS)
            if output_format == "markdown":
                content = to_markdown(content_root)
            else:
                content = to_plain_text(content_root)
    else:
        main = root.find("main") or root.find("article") or root.find("body")
        content = to_plain_text(main) if main is not None else ""

    if not content.strip():
        return {"status": "error:no_content", "url": url}

    content = normalize_content(content)

    title = meta["title"] or "No title found"

    authors_data = parsed.get("authors", [])
    if isinstance(authors_data, str):
        authors = [authors_data.strip()] if authors_data.strip() else []
    else:
        authors = [a.strip() for a in authors_data
                   if isinstance(a, str) and a.strip()]
    if not authors and meta["author"]:
        authors = [meta["author"]]

    md = _merge_metadata(meta, jsonld, parsed)

    follow = parsed.get("follow_urls", [])
    if isinstance(follow, str):
        follow = [follow]

    return {
        "status": "ok",
        "url": url,
        "domain": urlparse(url).netloc if url else "",
        "title": normalize_str_ref(title),
        "description": meta["description"],
        "language": meta["language"],
        "canonical": meta["canonical"],
        "authors": authors,
        "content": content,
        "follow_urls": [f for f in follow if isinstance(f, str)],
        "media_refs": [meta["image"]] if meta["image"] else [],
        "meta_nest": json.dumps(meta["nest"]) if meta.get("nest") else None,
        **md,
    }


# ---------------------------------------------------------------------------
# config loading + Spark surface
# ---------------------------------------------------------------------------

def load_parser_configs(config_dir: str) -> dict[str, dict]:
    """Load per-domain JSON parser configs (reference layout:
    configs/<lang>/<letter>/<domain>.json; matching by filename then the
    internal domain field, www-stripped — worker.py:55-95)."""
    import os

    out: dict[str, dict] = {}
    for dirpath, _dirs, files in os.walk(config_dir):
        for fn in files:
            if not fn.endswith(".json"):
                continue
            try:
                with open(os.path.join(dirpath, fn)) as f:
                    cfg = json.load(f)
            except Exception:
                continue
            domain = cfg.get("domain") or fn[:-5]
            out[domain] = cfg
            if domain.startswith("www."):
                out[domain[4:]] = cfg
    return out


def config_for_domain(configs: dict[str, dict], domain: str) -> dict:
    """worker.py:55-95 lookup: exact, then www-variant, then generic."""
    if domain in configs:
        return configs[domain]
    if domain.startswith("www.") and domain[4:] in configs:
        return configs[domain[4:]]
    if "www." + domain in configs:
        return configs["www." + domain]
    return GENERIC_CONFIG


EXTRACT_RESULT_DDL = (
    "status string, url string, domain string, title string, "
    "description string, language string, canonical string, "
    "authors array<string>, content string, follow_urls array<string>, "
    "media_refs array<string>, tags array<string>, topics array<string>, "
    "main_points array<string>, published_at string, modified_at string, "
    "schema_org string, meta_nest string"
)

_RESULT_FIELDS = [f.split(" ")[0] for f in EXTRACT_RESULT_DDL.split(", ")]
_ARRAY_FIELDS = {"authors", "follow_urls", "media_refs", "tags", "topics",
                 "main_points"}


def extract_articles_udf(configs: dict[str, dict], output_format: str = "markdown"):
    """mapInPandas generator over (url, domain, raw_html) batches.

    ``configs`` should be broadcast by the caller (extract_documents does);
    one DOM parse per document, Arrow transfer per batch.
    """

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for url, domain, html in zip(pdf["url"], pdf["domain"], pdf["raw_html"]):
                cfg = config_for_domain(configs, domain or "")
                try:
                    rec = extract_article(html, url, cfg, output_format)
                except Exception as e:  # T7: never abort the job
                    rec = {"status": f"error:{type(e).__name__}", "url": url}
                row = {}
                for f in _RESULT_FIELDS:
                    v = rec.get(f)
                    if f in _ARRAY_FIELDS:
                        row[f] = list(v) if v else []
                    else:
                        row[f] = v if v is None or isinstance(v, str) else str(v)
                row["domain"] = row["domain"] or (domain or "")
                rows.append(row)
            yield pd.DataFrame(rows, columns=_RESULT_FIELDS)

    return gen


def extract_documents(df_raw, configs: dict[str, dict],
                      output_format: str = "markdown"):
    """documents_raw(url, domain, raw_html) -> extracted articles DataFrame
    + interleaved spans + uuid5 doc ids (the §7.1 minimum slice).

    Fused (r5, same move as the crawl fetcher): doc_id and spans are
    computed INSIDE the extract batch, so the extracted content crosses
    the Arrow boundary once instead of three times (extract out, uuid5
    in/out, chunker in/out) — at 100 TB the production path's wall is
    this stage, and the re-serialization of every article's content
    into two more Python stages was pure overhead."""
    from pyspark.sql import functions as F

    from ..chunker import (
        chunk_by_token_estimate, doc_id_for_url, interleave_spans)

    sc = df_raw.sparkSession.sparkContext
    bc = sc.broadcast(configs)
    span_ddl = ("array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>")

    def gen(batches):
        inner = extract_articles_udf(bc.value, output_format)
        for pdf in inner(batches):
            keep = pdf["status"] == "ok"
            out = pdf[keep].copy()
            # None-tolerant like the old uuid5_url UDF: a null url must
            # degrade that row, not abort the task
            out["doc_id"] = [doc_id_for_url(u) if isinstance(u, str)
                             else None for u in out["url"]]
            out["spans"] = [
                interleave_spans(
                    chunk_by_token_estimate(c if isinstance(c, str) else ""),
                    list(m) if m is not None else [])
                for c, m in zip(out["content"], out["media_refs"])
            ]
            yield out

    return df_raw.select("url", "domain", "raw_html").mapInPandas(
        gen, schema=EXTRACT_RESULT_DDL + f", doc_id string, spans {span_ddl}"
    )
