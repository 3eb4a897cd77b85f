"""Seeded inputs: crawl seed URLs and large HTML pages with per-site configs.

Everything is a pure function of ``--seed``; the engine sees only the
DataFrames built from these lists. Nothing is read from outside the repo.
"""

from __future__ import annotations

import numpy as np

# link targets of the engine's synthetic web are /p/<k % 100000> per host
# (sources/synthetic.synth_page), so seeds drawn from that space are URLs
# later waves discover again
LINK_SPACE = 100_000


def crawl_seed_urls(seed: int, n_seeds: int, n_hosts: int,
                    n_link_seeds: int = 0) -> list[str]:
    """Seed URLs on Zipf-skewed hosts: the cubic transform of a uniform draw
    that ``sources.synthetic.synth_seeds`` applies, here drawn from a seeded
    generator. ``n_link_seeds`` extra seeds are drawn from the synthetic
    web's link space, so a revisit crawl re-discovers URLs it already holds;
    both kinds are interleaved in a seeded order."""
    rng = np.random.default_rng([seed, 1])
    hosts = (n_hosts * rng.random(n_seeds) ** 3).astype(np.int64)
    urls = [f"https://host{h}.example.com/s{seed}/{i}"
            for i, h in enumerate(hosts.tolist())]
    if n_link_seeds:
        lh = (n_hosts * rng.random(n_link_seeds) ** 3).astype(np.int64)
        lk = rng.integers(0, LINK_SPACE, n_link_seeds)
        urls += [f"https://host{h}.example.com/p/{k}"
                 for h, k in zip(lh.tolist(), lk.tolist())]
        urls = [urls[i] for i in rng.permutation(len(urls)).tolist()]
    return urls


def seeds_frame(spark, urls: list[str]):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({
        "url": urls,
        "priority": np.ones(len(urls)),
        "seq": np.arange(len(urls), dtype=np.int64),
    }))


# --------------------------------------------------------------------------
# HTML pages
# --------------------------------------------------------------------------

_VOCAB = (
    "market report city council water energy school river health budget "
    "transport museum season league coach harbour bridge storm research "
    "farmers village election festival library forest railway hospital "
    "climate coast mountain industry harvest vaccine satellite archive "
    "orchestra studio garden factory airport tunnel valley island desert "
    "parliament court street museum theatre science ocean planet signal"
).split()


def _sentences(rng, n: int) -> list[str]:
    lens = rng.integers(6, 22, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum())).tolist()
    nums = rng.integers(1, 2000, n).tolist()
    out, i = [], 0
    for k, ln in enumerate(lens.tolist()):
        ws = [_VOCAB[w] for w in words[i:i + ln]]
        i += ln
        ws[0] = ws[0].capitalize()
        ws[len(ws) // 2] += f" {nums[k]}"
        out.append(" ".join(ws) + ("?" if k % 7 == 0 else "."))
    return out


def _block(rng, domain: str, j: int) -> str:
    s = _sentences(rng, 14)
    link = f"https://{domain}/story/{int(rng.integers(1, 10**6))}"
    img = f"https://cdn.example.net/{domain}/{int(rng.integers(1, 10**6))}.jpg"
    return (
        f'<div class="blk"><div class="inner"><h2>{s[0][:-1]}</h2>'
        f"<p>{' '.join(s[1:5])} <a href=\"{link}\">{s[5][:30]}</a> "
        f"<b>{s[6]}</b> {' '.join(s[7:9])}</p>"
        f'<figure><img src="{img}" alt="{s[9][:24]}"><figcaption>'
        f"{s[9]}</figcaption></figure>"
        f"<ul><li>{s[10]}</li><li>{s[11]}</li></ul>"
        f'<div class="ad-slot"><span>Sponsored {j}</span></div>'
        f"<script>window.slot{j} = {{id: {j}, lazy: true}};</script>"
        f"<p>{' '.join(s[12:])}</p></div></div>"
    )


def html_page(rng, domain: str, idx: int, target_bytes: int,
              configured: bool) -> str:
    """One page of ``target_bytes`` or a little more: head scripts and
    styles, nav, nested content blocks with links, images, ads and inline
    scripts, an aside and a footer. Configured sites wrap the story in
    ``div.post-body``; the others in ``<article>`` (the generic fallback)."""
    title = " ".join(_sentences(rng, 1))[:60]
    head = (
        f"<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>{title}</title>"
        f'<meta name="description" content="{title}">'
        f'<meta property="og:image" content="https://cdn.example.net/'
        f'{domain}/cover{idx}.jpg">'
        "<style>" + "".join(f".c{i}{{margin:{i}px;color:#{i:06x}}}"
                            for i in range(120)) + "</style>"
        "<script>" + "".join(f"var v{i}=[{i},{i * 7},'{_VOCAB[i % 40]}'];"
                             for i in range(150)) + "</script></head><body>"
    )
    nav = ('<nav class="site-nav"><ul>'
           + "".join(f'<li><a href="/section/{k}">{_VOCAB[k]}</a></li>'
                     for k in range(30)) + "</ul></nav>")
    byline = (f'<h1 class="headline">{title}</h1><div class="byline">'
              f'<a rel="author" href="/author/{idx % 7}">Reporter {idx % 7}'
              f'</a></div><time datetime="2024-0{1 + idx % 9}-1{idx % 10}'
              f'T08:00:00Z">date</time>')
    tags = ('<div class="tags">' + "".join(
        f'<a href="/tag/{_VOCAB[(idx + k) % 40]}">{_VOCAB[(idx + k) % 40]}'
        "</a>" for k in range(4)) + "</div>")
    blocks, size, j = [], len(head), 0
    while size < target_bytes:
        b = _block(rng, domain, j)
        blocks.append(b)
        size += len(b)
        j += 1
    body = "".join(blocks)
    story = (f'<div class="post-body">{body}</div>' if configured
             else f"<article>{body}</article>")
    aside = ('<aside class="related">' + "".join(
        f'<a href="/story/{k}">{_VOCAB[k % 40]} {k}</a>' for k in range(20))
        + "</aside>")
    footer = ('<footer class="site-footer"><p>All rights reserved.</p>'
              + "".join(f'<a href="/legal/{k}">legal {k}</a>' for k in range(10))
              + "</footer></body></html>")
    return (head + nav + '<div class="page"><div class="wrap"><div class="col">'
            + byline + story + tags + "</div>" + aside + "</div></div>"
            + footer)


def site_config(domain: str) -> dict:
    """Per-site parser config in the engine's ParserConfig JSON format."""
    return {
        "domain": domain,
        "lang": "en",
        "cleanup": ["script", "style", "noscript", ".ad-slot"],
        "title": {"selector": ["h1.headline", "//h1"]},
        "content": {"selector": ["div.post-body",
                                 "//div[@class='post-body']"],
                    "type": "html"},
        "authors": {"selector": [
            {"query": ".//a[@rel='author']", "selector_type": "xpath",
             "parent": "//div[@class='byline']"},
            "a[rel=author]"], "all": True},
        "date_published": {"selector": [
            {"query": "time", "selector_type": "css",
             "attribute": "datetime"}]},
        "tags": {"selector": [
            {"query": ".//a", "selector_type": "xpath",
             "parent": "//div[@class='tags']"}], "all": True},
    }


def extraction_inputs(seed: int, n_pages: int, n_domains: int,
                      min_kb: int, max_kb: int):
    """(pages, configs): pages are (url, domain, html) dicts; the first
    half of the domains carry a per-site config, the rest fall back to
    the engine's generic config. Pages come in blocks of ``n_domains``,
    one page per domain; within a block the configured and the generic
    pages each take the sizes of an even ladder from ``min_kb`` to
    ``max_kb`` in seeded order. Every seed and every block then carries
    the same bytes through each path, so contiguous partitions of whole
    blocks are equal work."""
    rng = np.random.default_rng([seed, 2])
    domains = [f"news{seed % 97}-{d}.example.org" for d in range(n_domains)]
    half = n_domains // 2
    configs = {d: site_config(d) for d in domains[:half]}
    ladder = np.linspace(min_kb, max_kb, half).astype(int)
    pages = []
    for i in range(n_pages):
        if i % half == 0:
            rungs = rng.permutation(ladder).tolist()
        d = domains[i % n_domains]
        kb = rungs[i % half]
        pages.append({
            "url": f"https://{d}/{2024 - i % 3}/story-{seed}-{i}.html",
            "domain": d,
            "raw_html": html_page(rng, d, i, kb * 1024, d in configs),
        })
    return pages, configs
