"""Single-node oracle simulator for crawl ordering + seen-set equality.

Implements the reference's frontier semantics — FIFO enqueue order with
seen-at-enqueue dedup (/root/reference/cache.py:78-148, scraper.py:64-76) —
batched into waves under the same per-host politeness budget the Spark
engine enforces. This is the test oracle for BASELINE.md rows
"Crawl ordering + final URL-seen set" and "Resumability": the distributed
run must reproduce this simulator's schedule log and final seen set
exactly, for any seed list, budget map, fanout, and wave count.

Keying matches the engine's scale path: canonical URL (one shared
``canonicalize_url``); ``md5(raw_url)`` — the reference's default cache key
(cache.py:34) — is also tracked so the reference-equality mode can be
asserted bit-for-bit.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from ..functions.urls import canonicalize_url
from ..sources.synthetic import synth_page

# Links kept per fetched page, in page order. The wave loop orders
# discoveries by ``parent_seq * MAX_OUTLINKS_PER_PAGE + link_idx``, which
# is unique only while link_idx stays below the multiplier, so both it and
# this oracle drop a page's links past the cap.
MAX_OUTLINKS_PER_PAGE = 1_000_000


def simulate_crawl(
    seed_urls: list[str],
    n_waves: int,
    budget: int | dict[str, int] = 8,
    fetch_fn: Callable[[str], dict] | None = None,
    allowed_fn: Callable[[str, str], bool] | None = None,
    priorities: dict[str, float] | None = None,
    link_priority: float = 1.0,
) -> dict:
    """Returns {schedule_log: [(wave, seq, url)...], seen: set(canonical),
    seen_md5: set(hex), documents: [(canonical_url, content, media)], pending}."""
    fetch = fetch_fn or (lambda u: synth_page(u))
    budget_of = (lambda h: budget.get(h, 8)) if isinstance(budget, dict) else (lambda h: budget)
    prio_of = (lambda u: (priorities or {}).get(u, 1.0))

    seen: set[str] = set()
    seen_md5: set[str] = set()
    pending: list[tuple[int, str, str, str, float]] = []  # (seq, raw, canon, host, prio)
    next_seq = 0

    def enqueue(raw_url: str, prio: float) -> bool:
        nonlocal next_seq
        canon, host = canonicalize_url(raw_url)
        if canon in seen:
            return False
        seen.add(canon)
        seen_md5.add(hashlib.md5(raw_url.encode("utf-8")).hexdigest())
        pending.append((next_seq, raw_url, canon, host, prio))
        next_seq += 1
        return True

    for u in seed_urls:  # seeds enqueue in list order (add_urls, cache.py:94-108)
        enqueue(u, prio_of(u))

    schedule_log: list[tuple[int, int, str]] = []
    documents: list[tuple[str, str, list[str]]] = []

    for wave in range(n_waves):
        # politeness: first budget(host) pending per host by (prio desc, seq)
        taken: list[tuple[int, str, str, str, float]] = []
        count: dict[str, int] = {}
        for item in sorted(pending, key=lambda r: (-r[4], r[0])):
            seq, raw, canon, host, prio = item
            if allowed_fn is not None and not allowed_fn(host, canon):
                continue
            if count.get(host, 0) < budget_of(host):
                count[host] = count.get(host, 0) + 1
                taken.append(item)
        taken_seqs = {t[0] for t in taken}
        pending = [p for p in pending if p[0] not in taken_seqs]

        # fetch in seq order (the engine logs scheduled rows by seq)
        discoveries: list[tuple[str, float]] = []
        for seq, raw, canon, host, prio in sorted(taken, key=lambda r: r[0]):
            schedule_log.append((wave, seq, raw))
            page = fetch(raw)
            documents.append((canon, page["content"], list(page.get("media_refs", []))))
            for link in page["outlinks"][:MAX_OUTLINKS_PER_PAGE]:
                discoveries.append((link, link_priority))

        # enqueue discoveries in (parent seq, link idx) order; robots-gate
        for link, prio in discoveries:
            if allowed_fn is not None:
                canon, host = canonicalize_url(link)
                if not allowed_fn(host, canon):
                    continue
            enqueue(link, prio)

    return {
        "schedule_log": schedule_log,
        "seen": seen,
        "seen_md5": seen_md5,
        "documents": documents,
        "pending": pending,
        "next_seq": next_seq,
    }
