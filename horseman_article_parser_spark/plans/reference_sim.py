"""Pure-Python reference scheduler simulator — the crawl-order oracle.

A from-spec reimplementation (not a port) of the reference's
scheduling semantics, used ONLY by tests to verify that the Spark
plans emit identical ordering:

- wave 0: uniq → uniqueByHost(limit) → FIFO by seed position
  (/root/reference/scripts/batch-sample-run.js:66,70-83,281-283,315-319)
- rounds ≥1 (north-rule extension): extract in-article links in DOM
  order, canonicalize, skip-filter, first-occurrence dedup, claim
  against the exact seen set, order by (priority, seq) under per-host
  budgets, take wave_size.

Single-threaded dicts/sets; semantics identical to the distributed
plans by construction. Uses the same deterministic synthetic web.
"""

from __future__ import annotations

from urllib.parse import urlsplit

from ..datagen.synthweb import fetch_page
from ..functions.urls import canonicalize_url, skip_reason
from ..operators.extract import extract_article
from ..streaming.frontier_stream import BATCH_SEQ_STRIDE, STREAM_SEQ_BASE
from .crawl import LINK_POS_STRIDE, SEQ_STRIDE


def js_url_host(u: str) -> str | None:
    """`new URL(u).host`: lowercase host[:port], default port stripped."""
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    if parts.scheme not in ("http", "https") and "://" not in u:
        return None
    host = parts.hostname
    if host is None:
        return None
    host = host.lower()
    try:
        port = parts.port
    except ValueError:
        return None
    default = {"http": 80, "https": 443}.get(parts.scheme)
    if port is not None and port != default:
        return f"{host}:{port}"
    return host


def sim_wave0(seed_list: list[str], limit: int, unique_hosts: bool = True) -> list[str]:
    """uniq → uniqueByHost(limit) (or slice) → scheduling order."""
    seen_urls: set[str] = set()
    deduped = []
    for u in seed_list:
        if u not in seen_urls:
            seen_urls.add(u)
            deduped.append(u)
    if not unique_hosts:
        return [u for u in deduped if js_url_host(u)][:limit]
    out: list[str] = []
    seen_hosts: set[str] = set()
    for u in deduped:
        h = js_url_host(u)
        if h is None or h in seen_hosts:
            continue
        seen_hosts.add(h)
        out.append(u)
        if len(out) >= limit:
            break
    return out


def sim_crawl(
    seed_list: list[str],
    n_rounds: int,
    wave_size: int,
    round0_limit: int,
    default_host_budget: int = 4,
    max_depth: int = 8,
    streamed_seeds: dict[int, list[str]] | None = None,
) -> list[list[str]]:
    """Full multi-round simulation, without robots rules and with one
    budget for every host; returns scheduled URLs per round.

    `streamed_seeds[r]` is a seed batch that arrives AFTER round r
    completes (the streaming ingest between rounds, T6): it replays
    `StreamingSeedIngest.process_batch` exactly — canonicalize →
    skip-filter → dedup → claim-unseen → url-order rank → seq =
    STREAM_SEQ_BASE + idx, depth 0, priority 0.0 — making the stateful
    two-round driver query (`crawl_two_rounds`) oracle-checkable."""
    streamed_seeds = streamed_seeds or {}
    wave0 = sim_wave0(seed_list, round0_limit)
    # frontier rows: (url, seq, host, depth, priority)
    pending = [
        (u, i, js_url_host(u), 0, 0.0) for i, u in enumerate(wave0)
    ]
    seen = {u for u, *_ in pending}
    waves: list[list[str]] = []

    for rnd in range(n_rounds):
        candidates = sorted(pending, key=lambda r: (r[4], r[1]))  # (priority, seq)
        taken: list[tuple] = []
        per_host: dict[str, int] = {}
        for row in candidates:
            if per_host.get(row[2], 0) >= default_host_budget:
                continue
            per_host[row[2]] = per_host.get(row[2], 0) + 1
            taken.append(row)
            if len(taken) >= wave_size:
                break
        waves.append([r[0] for r in taken])

        taken_urls = {r[0] for r in taken}
        pending = [r for r in pending if r[0] not in taken_urls]

        # expand links; discovery order = (parent's wave pos, link pos)
        discovered: dict[str, tuple[int, int, int]] = {}
        for parent_pos, (url, _seq, host, depth, _prio) in enumerate(taken):
            status, html = fetch_page(url)
            if status != 200 or depth >= max_depth:
                continue
            art = extract_article(url, html)
            for pos, link in enumerate(art["links"] or []):
                target = canonicalize_url(link["href"])
                if target is None or skip_reason(target) is not None:
                    continue
                key = (parent_pos, pos, depth)
                if target not in discovered or key < discovered[target]:
                    discovered[target] = key
        for url, (parent_pos, pos, parent_depth) in discovered.items():
            if url in seen:
                continue
            seen.add(url)
            depth = parent_depth + 1
            priority = depth + min(pos, 9) / 10.0
            # arithmetic order-preserving seq — mirrors plans.crawl
            seq = (rnd + 1) * SEQ_STRIDE + parent_pos * LINK_POS_STRIDE + pos
            pending.append((url, seq, js_url_host(url), depth, priority))

        # streamed-seed batches arriving between this round and the next
        # (mirrors streaming.frontier_stream.StreamingSeedIngest
        # batch-for-batch): value is either a list[str] (one batch,
        # batch_id 0) or a list of (batch_id, urls) pairs. Seq carries
        # the real ingest's batch_id * stride term; the seen-filter
        # claims EVERY cleaned unseen URL (the engine claims before the
        # host filter), while only host-bearing rows reach pending.
        if rnd in streamed_seeds:
            batches = streamed_seeds[rnd]
            if batches and not isinstance(batches[0], tuple):
                batches = [(0, batches)]
            for batch_id, urls in batches:
                cleaned = set()
                for u in urls:
                    cu = canonicalize_url(u.strip())
                    if cu is None or skip_reason(cu) is not None:
                        continue
                    cleaned.add(cu)
                unseen = [u for u in sorted(cleaned) if u not in seen]
                base = STREAM_SEQ_BASE + batch_id * BATCH_SEQ_STRIDE
                for idx, u in enumerate(unseen):
                    seen.add(u)  # claimed even when the host filter drops it
                    host = js_url_host(u)
                    if host is not None:
                        pending.append((u, base + idx, host, 0, 0.0))
    return waves
