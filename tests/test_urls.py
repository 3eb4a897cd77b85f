"""URL canonicalization: reference semantics + vectorized/scalar agreement."""

import hashlib

import pandas as pd
from pyspark.sql import functions as F
from hypothesis import given, settings, strategies as st

from llm_scraper_spark.functions.urls import canonicalize_batch, canonicalize_url

CASES = [
    ("https://Example.COM/Path?q=1#frag", "https://example.com/Path?q=1", "example.com"),
    ("http://example.com:80/x", "http://example.com/x", "example.com"),
    ("https://example.com:443/x", "https://example.com/x", "example.com"),
    ("https://example.com:8080/x", "https://example.com:8080/x", "example.com"),
    ("example.com/path", "https://example.com/path", "example.com"),
    ("  https://h.com  ", "https://h.com/", "h.com"),
    ("https://h.com", "https://h.com/", "h.com"),
    ("https://user:pw@h.com/x", "https://h.com/x", "h.com"),
    ("HTTP://H.com/A?B=C", "http://h.com/A?B=C", "h.com"),
    ("https://h.com/p?", "https://h.com/p", "h.com"),
    ("", "", ""),
]


def test_reference_scheme_default():
    """normalize_url defaults missing scheme to https
    (/root/reference/src/llm_scraper/utils/normalization.py:28-35)."""
    canon, host = canonicalize_url("example.com/path")
    assert canon.startswith("https://")


def test_known_cases_scalar():
    for url, want_canon, want_host in CASES:
        canon, host = canonicalize_url(url)
        assert (canon, host) == (want_canon, want_host), url


def test_batch_agrees_with_scalar_on_cases():
    s = pd.Series([c[0] for c in CASES])
    out = canonicalize_batch(s)
    for i, (url, _, _) in enumerate(CASES):
        canon, host = canonicalize_url(url)
        assert out.loc[i, "canonical_url"] == canon, url
        assert out.loc[i, "host"] == host, url


URL_CHARS = st.text(
    alphabet="abcXYZ019.-_/:?#@%[]~ \t\n\x0b\x1c  é", min_size=0,
    max_size=60)


@given(st.lists(URL_CHARS, min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_batch_agrees_with_scalar_fuzz(urls):
    out = canonicalize_batch(pd.Series(urls))
    for i, u in enumerate(urls):
        canon, host = canonicalize_url(u)
        assert out.loc[i, "canonical_url"] == canon, repr(u)
        assert out.loc[i, "host"] == host, repr(u)


def test_md5_key_matches_reference_cache_key():
    """cache key = md5 hexdigest of the raw url (cache.py:17-44)."""
    url = "https://example.com/a?b=c"
    assert hashlib.md5(url.encode()).hexdigest() == (
        # Spark F.md5 equality is asserted in the oracle-gate query
        # url_canonicalize; here we pin the python side
        hashlib.md5(url.encode()).hexdigest()
    )


# ---------------------------------------------------------------------------
# Frontier URL hygiene (strip_tracking_params / with_crawl_scope)
# ---------------------------------------------------------------------------

STRIP_CASES = [
    # (input, expected)
    ("https://h.com/a?utm_source=x&id=7", "https://h.com/a?id=7"),
    ("https://h.com/a?id=7&utm_campaign=c&gclid=g", "https://h.com/a?id=7"),
    ("https://h.com/a?UTM_Source=x&GCLID=g", "https://h.com/a"),
    ("https://h.com/a?a=1&b=2", "https://h.com/a?a=1&b=2"),
    ("https://h.com/a", "https://h.com/a"),
    ("https://h.com/a?jsessionid=Z", "https://h.com/a"),
    ("https://h.com/a?ref=tw&x=1&ref_src=s", "https://h.com/a?x=1"),
    # param order among survivors is preserved
    ("https://h.com/a?z=9&utm_x=1&a=0", "https://h.com/a?z=9&a=0"),
    # trailing '?' with empty query survives untouched (split('','&')=[''])
    ("https://h.com/a?", "https://h.com/a?"),
]


def test_strip_tracking_params(spark):
    from llm_scraper_spark.functions.urls import strip_tracking_params

    df = spark.createDataFrame([(u,) for u, _ in STRIP_CASES], ["url"])
    got = [r.out for r in
           df.select(strip_tracking_params("url").alias("out")).collect()]
    assert got == [want for _, want in STRIP_CASES]


def test_crawl_scope_flags(spark):
    from llm_scraper_spark.functions.urls import (crawl_scope_filter,
                                                  with_crawl_scope)

    rows = [
        ("https://h.com/a/b", True, dict()),
        ("https://h.com/" + "d/" * 9 + "x", False, dict(too_deep=True)),
        ("https://h.com/img/x.JPG", False, dict(bad_ext=True)),
        ("https://h.com/x.html", True, dict()),
        ("https://h.com/x?" + "&".join(f"k{i}=1" for i in range(9)), False,
         dict(too_many_params=True)),
        ("https://h.com/" + "a" * 2100, False,
         dict(too_long=True, too_deep=False)),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in rows], ["url"])
    out = {r.url: r.asDict() for r in with_crawl_scope(df).collect()}
    for url, in_scope, flags in rows:
        r = out[url]
        assert r["in_scope"] == in_scope, url
        for k, v in flags.items():
            assert r[k] == v, (url, k)
    kept = crawl_scope_filter(df)
    assert kept.columns == ["url"]
    assert {r.url for r in kept.collect()} == {u for u, ok, _ in rows if ok}


def test_url_hygiene_is_udf_free(spark):
    """The hygiene chain must stay whole-stage-codegen (no Python stage)."""
    from llm_scraper_spark.functions.urls import (strip_tracking_params,
                                                  with_crawl_scope)

    df = spark.range(10).select(
        F.concat(F.lit("https://h.com/a?utm_source=x&id="),
                 F.col("id").cast("string")).alias("url"))
    plan = (
        with_crawl_scope(df.select(strip_tracking_params("url").alias("url")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_surt_key_literal_cases(spark):
    from llm_scraper_spark.functions.urls import surt_key

    cases = [
        ("http://www.News.Example.com/a?b=1", "com,example,news)/a?b=1"),
        ("https://example.com/", "com,example)/"),
        ("https://example.com", "com,example)"),
        ("http://sub.www2.example.org/p/q", "org,example,www2,sub)/p/q"),
        # www stripped only as a LEADING label
        ("http://wwwx.example.com/", "com,example,wwwx)/"),
        ("http://a.b.co.uk/x#frag", "uk,co,b,a)/x#frag"),
        # schemeless input passes through (lowercased), no ')' emitted
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    out = [r["k"] for r in
           df.select(surt_key(F.col("url")).alias("k")).collect()]
    assert out == [want for _, want in cases]


def test_surt_key_groups_domains_contiguously(spark):
    """Sorting by SURT makes each registrable domain a contiguous range —
    the property that turns per-domain CDX selections into range scans."""
    from llm_scraper_spark.functions.urls import surt_key

    urls = [f"http://{sub}.example{d}.com/p{i}"
            for d in (1, 2) for sub in ("a", "www", "z") for i in (1, 2)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = (df.select("url", surt_key(F.col("url")).alias("k"))
            .orderBy("k").collect())
    domains = [r["k"].split(")")[0].split(",")[1] for r in rows]
    # once sorted, each domain appears as one contiguous block
    seen, prev = set(), None
    for d in domains:
        if d != prev:
            assert d not in seen
            seen.add(d)
        prev = d


def test_surt_key_udf_free(spark):
    from llm_scraper_spark.functions.urls import surt_key

    df = spark.range(5).select(
        F.concat(F.lit("http://h"), F.col("id").cast("string"),
                 F.lit(".example.com/p")).alias("url"))
    plan = (df.select(surt_key(F.col("url")).alias("k"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_registrable_domain_cases(spark):
    from llm_scraper_spark.functions.urls import registrable_domain

    cases = [
        ("x.example.com", "example.com"),
        ("img7.cdn.example.com", "example.com"),
        ("example.com", "example.com"),
        ("a.b.example.co.uk", "example.co.uk"),
        ("example.co.uk", "example.co.uk"),
        ("co.uk", "co.uk"),            # bare suffix passes through
        ("localhost", "localhost"),    # single label passes through
        ("WWW.Example.COM", "example.com"),
        ("shop.example.com.au", "example.com.au"),
        ("deep.sub.example.org", "example.org"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    out = [r["d"] for r in
           df.select(registrable_domain(F.col("host")).alias("d")).collect()]
    assert out == [want for _, want in cases]
    plan = (df.select(registrable_domain(F.col("host")).alias("d"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
