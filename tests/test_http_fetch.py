"""Loopback HTTP battery for the LIVE fetch path (VERDICT r4 next-round
#3): ``http_fetcher`` had never executed a request — the sandbox has no
external network, but a stdlib ``ThreadingHTTPServer`` on 127.0.0.1
needs none. Covers, with reference parity targets from
/root/reference/src/llm_scraper/scraper.py:37-41,88-109:

- 200 fetch: body text + outlink/media absolutization (Article.from_html
  receives the response URL; links resolve against it)
- redirect following (follow_redirects=True): links on the landing page
  absolutize against the POST-redirect URL, exactly like the reference's
  ``str(response.url)``
- raise_for_status parity: 4xx/5xx -> page fails (ok=False), the crawl
  continues — scrape_url catches HTTPError and returns None
- timeout: a handler slower than timeout_s fails the page, not the job;
  so does a server that drips its headers or its body, each byte well
  inside the socket timeout, for longer than the per-URL deadline
- per-task concurrency bound: one mapInPandas task never holds more than
  max_concurrent_per_task sockets open (reference envelope: 8,
  worker.py:31-32)
- User-Agent header actually sent (scraper.py Scraper(user_agent=...))
- an end-to-end 2-wave CrawlRun over the loopback site: the final seen
  set equals the BFS-2 closure of the seed, computed independently.
"""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from llm_scraper_spark.crawl.waves import CrawlRun, http_fetcher

N_SITE = 40  # /site/p0 .. /site/p39, page i links to 2i+1, 2i+2


class _State:
    """Server-side observation shared across handler threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.in_flight = 0
        self.max_in_flight = 0
        self.user_agents = set()
        self.paths = []
        self.drip_held_s = {}  # drip path -> wall its client stayed


def _make_handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def do_GET(self):
            import time

            with state.lock:
                state.in_flight += 1
                state.max_in_flight = max(state.max_in_flight, state.in_flight)
                state.user_agents.add(self.headers.get("User-Agent"))
                state.paths.append(self.path)
            try:
                if self.path == "/":
                    self._html(
                        '<html><body><h1>Home</h1>'
                        '<p>welcome to the loopback site</p>'
                        '<a href="rel/one">one</a> '
                        '<a href="/abs/two">two</a> '
                        '<a href="#frag">skip</a> '
                        '<img src="img/pic.png">'
                        "</body></html>"
                    )
                elif self.path == "/moved":
                    self.send_response(301)
                    self.send_header("Location", "/final/page")
                    self.end_headers()
                elif self.path == "/final/page":
                    # relative link MUST resolve under /final/, not /
                    self._html(
                        '<html><body>landed'
                        '<a href="sibling">sib</a></body></html>'
                    )
                elif self.path == "/missing":
                    self.send_error(404, "nope")
                elif self.path == "/boom":
                    self.send_error(500, "kaput")
                elif self.path == "/slow":
                    time.sleep(3.0)
                    self._html("<html><body>late</body></html>")
                elif self.path in ("/drip", "/header-drip"):
                    self._drip(n_bytes=50, every_s=0.2,
                               in_headers=self.path == "/header-drip")
                elif self.path.startswith("/hold"):
                    time.sleep(0.4)
                    self._html("<html><body>held</body></html>")
                elif self.path.startswith("/site/p"):
                    i = int(self.path[len("/site/p"):])
                    links = "".join(
                        f'<a href="/site/p{j}">p{j}</a>'
                        for j in (2 * i + 1, 2 * i + 2) if j < N_SITE
                    )
                    self._html(f"<html><body>page {i} {links}</body></html>")
                else:
                    self.send_error(404)
            finally:
                with state.lock:
                    state.in_flight -= 1

        def _drip(self, n_bytes: int, every_s: float, in_headers: bool):
            """A slow-drip server: one byte every ``every_s`` until
            ``n_bytes`` are sent or the client hangs up, either of the
            body (headers at once) or of one long header line (status
            line at once, body empty); records how long the client
            stayed."""
            import time

            t0 = time.monotonic()
            if in_headers:
                self.wfile.write(b"HTTP/1.1 200 OK\r\nX-Pad: ")
                tail = b"\r\nContent-Length: 0\r\n\r\n"
            else:
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(n_bytes))
                self.end_headers()
                tail = b""
            try:
                for _ in range(n_bytes):
                    self.wfile.write(b"x")
                    self.wfile.flush()
                    time.sleep(every_s)
                self.wfile.write(tail)
            except (BrokenPipeError, ConnectionResetError):
                pass
            state.drip_held_s[self.path] = time.monotonic() - t0

        def _html(self, body: str):
            data = body.encode()
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    return Handler


@pytest.fixture()
def loopback():
    state = _State()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", state
    finally:
        srv.shutdown()
        srv.server_close()


def _scheduled(spark, urls):
    rows = [(u, u, "127.0.0.1", 0, i, 1.0, 0, i)
            for i, u in enumerate(urls)]
    return spark.createDataFrame(
        rows, "url string, canonical_url string, host string, salt int, "
              "url_hash long, priority double, wave int, seq long")


def test_fetch_redirect_404_500_timeout(spark, loopback):
    base, state = loopback
    urls = [f"{base}/", f"{base}/moved", f"{base}/missing",
            f"{base}/boom", f"{base}/slow"]
    fetch = http_fetcher(timeout_s=1.0, max_concurrent_per_task=4)
    out = {r["url"]: r for r in
           fetch(_scheduled(spark, urls).coalesce(1)).collect()}

    home = out[f"{base}/"]
    assert home["ok"]
    assert "welcome to the loopback site" in home["content"]
    # relative + absolute links absolutized; fragment link skipped
    assert set(home["outlinks"]) == {f"{base}/rel/one", f"{base}/abs/two"}
    assert home["media_refs"] == [f"{base}/img/pic.png"]

    moved = out[f"{base}/moved"]
    assert moved["ok"]
    assert "landed" in moved["content"]
    # parity with scraper.py:91 str(response.url): relative 'sibling'
    # resolves against the POST-redirect /final/page, not /moved
    assert moved["outlinks"] == [f"{base}/final/sibling"]

    # raise_for_status parity: 4xx and 5xx fail the page, not the job
    assert not out[f"{base}/missing"]["ok"]
    assert not out[f"{base}/boom"]["ok"]
    assert out[f"{base}/missing"]["content"] == ""
    # 3s handler vs 1s timeout -> failed page
    assert not out[f"{base}/slow"]["ok"]
    # every row came back exactly once despite the failures
    assert len(out) == len(urls)


def test_slow_drip_fails_at_the_per_url_deadline(spark, loopback):
    """Servers that drip one byte every 0.2 s for 10 s, in the headers
    or in the body, never trip the 1 s socket timeout; the per-URL wall
    deadline fails those pages while the rest of the batch succeeds."""
    import time

    base, state = loopback
    drips = [f"{base}/drip", f"{base}/header-drip"]
    urls = drips + [f"{base}/", f"{base}/final/page"]
    fetch = http_fetcher(timeout_s=1.0, max_concurrent_per_task=4)
    out = {r["url"]: r for r in
           fetch(_scheduled(spark, urls).coalesce(1)).collect()}

    for url in drips:
        assert not out[url]["ok"] and out[url]["content"] == "", url
    assert out[f"{base}/"]["ok"] and out[f"{base}/final/page"]["ok"]
    # each client hung up long before its 10 s drip ended (the server
    # notices on a write after the hang-up, every 0.2 s)
    deadline = time.monotonic() + 10
    while len(state.drip_held_s) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert set(state.drip_held_s) == {"/drip", "/header-drip"}
    assert all(held < 5.0 for held in state.drip_held_s.values()), \
        state.drip_held_s


def test_concurrency_bound_and_user_agent(spark, loopback):
    base, state = loopback
    urls = [f"{base}/hold?i={i}" for i in range(12)]
    fetch = http_fetcher(timeout_s=10.0, max_concurrent_per_task=3,
                         user_agent="parity-probe/1.0")
    # coalesce(1): ONE mapInPandas task -> one pool; the server observes
    # true socket-level concurrency across its handler threads
    rows = fetch(_scheduled(spark, urls).coalesce(1)).collect()
    assert sum(r["ok"] for r in rows) == 12
    assert state.max_in_flight <= 3, (
        f"pool bound violated: {state.max_in_flight} concurrent")
    assert state.user_agents == {"parity-probe/1.0"}


def test_crawl_run_end_to_end_over_loopback(spark, tmp_path, loopback):
    """2-wave CrawlRun with the REAL fetcher: final seen set must equal
    the BFS-2 closure of the seed, computed independently here."""
    base, state = loopback
    seeds = spark.createDataFrame(
        [(f"{base}/site/p0", 1.0, 0)], "url string, priority double, seq long")
    run = CrawlRun(spark, str(tmp_path / "crawl"),
                   fetcher=http_fetcher(timeout_s=10.0),
                   default_budget=100)
    run.run(2, seeds=seeds)

    seen = {r["key_hex"] for r in
            run.state.read_seen(2).select("key_hex").collect()}
    # independent closure: level 0 = {0}; each level adds 2i+1, 2i+2
    level = {0}
    closure = {0}
    for _ in range(2):
        level = {j for i in level for j in (2 * i + 1, 2 * i + 2)
                 if j < N_SITE}
        closure |= level
    # expected keys use the package canonicalizer (the BFS closure is the
    # independently-computed part; key derivation is md5(canonical))
    from llm_scraper_spark.functions.urls import with_canonical

    closure_df = spark.createDataFrame(
        [(f"{base}/site/p{i}",) for i in sorted(closure)], "url string")
    expect = {r["k"] for r in with_canonical(closure_df, "url")
              .select(F.md5("canonical_url").alias("k")).collect()}
    assert seen == expect

    docs = run.state.read_all("documents")
    fetched = {r["url"] for r in docs.select("url").distinct().collect()}
    # waves 0 and 1 fetch levels 0 and 1
    assert fetched == {f"{base}/site/p{i}" for i in (0, 1, 2)}
