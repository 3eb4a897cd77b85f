"""In-memory spans around the engine's eager public calls (traced run only).

The wrappers replace class or module attributes from outside the engine and
are removed again by ``Tracer.uninstall``. A span is (id, name, start, end,
parent, thread). Calls made on pool threads (the pipelined state writes,
the deferred Bloom merge) get their own spans; their parent is the engine
call (``crawl.run_wave`` / ``crawl.init_from_seeds``) open at the time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._top: int | None = None  # open engine-call span id
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, fn, *args, top: bool = False, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sid = next(self._ids)
        parent = self._top
        if top:
            self._top = sid
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            if top:
                self._top = parent
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent,
                    "thread": threading.current_thread().name,
                })

    def wrap(self, owner, attr: str, name=None, top: bool = False):
        """Replace ``owner.attr`` with a span-recording wrapper. ``name``
        may be a callable of the call's arguments."""
        orig = getattr(owner, attr)
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = label(*args, **kwargs) if callable(label) else label
            return self.span(n, orig, *args, top=top, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def children(self, parent_id: int, prefix: str = "") -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == parent_id and s["name"].startswith(prefix)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


def install_engine_spans(tracer: Tracer) -> None:
    """Span the crawl layers' eager calls: the CrawlRun entry points, the
    state commits, the global seq assigner and the Bloom builds."""
    from llm_scraper_spark.crawl import state as state_mod
    from llm_scraper_spark.crawl import waves as waves_mod
    from llm_scraper_spark.operators import frontier as frontier_ops
    from llm_scraper_spark.operators import seen as seen_ops

    run_cls = waves_mod.CrawlRun
    tracer.wrap(run_cls, "init_from_seeds", "crawl.init_from_seeds", top=True)
    tracer.wrap(run_cls, "run_wave", "crawl.run_wave", top=True)
    tracer.wrap(run_cls, "run", "crawl.run")
    st_cls = state_mod.CrawlState
    tracer.wrap(st_cls, "write",
                lambda self, table, wave, df: f"state.write:{table}")
    tracer.wrap(st_cls, "commit_wave", "state.commit_wave")
    tracer.wrap(st_cls, "compact_frontier", "state.compact_frontier")
    tracer.wrap(frontier_ops, "assign_global_seq", "frontier.assign_global_seq")
    tracer.wrap(seen_ops, "build_bloom_distributed",
                lambda *a, geometry=None, **k: ("seen.bloom_delta"
                                                if geometry is not None
                                                else "seen.bloom_build"))
