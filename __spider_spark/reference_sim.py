"""Single-process reference simulator (SURVEY.md §5.2).

Implements the reference crawler's *semantics* — deterministic seed-order
crawl (seed order × ascending schedule, /root/reference/spiders/
ctripSpider.py:136-154), durable seen-set (Redis sadd sink,
YlTwistPipeline.py:66-89), per-host politeness budget (settings.py:32,37),
fetch + parse + sink — as a tiny pure-Python loop with NO Spark, so the
Spark engine can be pinned against it (north_rule: identical crawl
ordering, identical URL-seen membership, byte-identical extracted text
under the same seed list and politeness budget).

It shares only the *pure scalar functions* with the engine (URL
canonicalizer, text extractor, XXH64) — the dataflow (frontier state,
dedup, budget clipping, discovery, ordering) is re-implemented
independently with plain dicts/sorts, which is exactly what makes the
equivalence test meaningful for the distributed operators.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import urlsplit

from .functions.detail import cheapest_cabin_one, extract_detail_one
from .functions.hashing import spark_xxhash64_str
from .functions.text import extract_page_one
from .functions.urls import canonicalize_one, host_of_one, resolve_one
from .operators.aliases import alias_one
from .operators.robots import (
    allowed_one,
    parse_robots,
    robots_budgets,
    robots_budgets_carry,
)


@dataclass
class SimResult:
    waves: list[list[int]]          # per round: url_hash in fetch order
    seen: set[int]                  # final url_hash membership
    texts: dict[str, str]           # canonical url -> extracted text
    statuses: dict[str, int]        # canonical url -> last status
    metrics: list[dict]
    errors: list[dict]              # quarantined rows (url, round, status,
                                    # attempts, error)
    details: dict[str, dict]        # listing url -> second-stage fetch
                                    # enrichment (S6): {detail_url, status,
                                    # cabins, min_cabin, min_price}


def _frontier_entry_key(e: dict) -> tuple:
    """Duplicate-resolution order: attempts DESC (retry counter is never
    reset by rediscovery), priority DESC, round ASC,
    parent_url ASC NULLS FIRST, seed_index ASC NULLS LAST.
    (seed_index nullity rarely decides: a null seed_index implies a
    non-null parent_url, which already sorts later at the k4/k5 slot.)"""
    return (
        -e.get("attempts", 0),
        -e["priority"],
        e["round"],
        e["parent_url"] is not None,
        e["parent_url"] or "",
        e["seed_index"] is None,
        e["seed_index"] or 0,
    )


def _pagerank_py(edges: list[tuple[int, int]], n_iter: int,
                 damping: float) -> dict[int, float]:
    """Scalar twin of operators/graph.py:pagerank — same formulation,
    same 10-dp per-iteration rounding (which is what makes the float
    results comparable across the two implementations)."""
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ranks = {v: 1.0 for v in nodes}
    for _ in range(n_iter):
        contribs: dict[int, float] = {}
        for s, d in edges:
            contribs[d] = contribs.get(d, 0.0) + ranks[s] / deg[s]
        ranks = {
            v: round((1.0 - damping) + damping * contribs.get(v, 0.0), 10)
            for v in nodes
        }
    return ranks


def _robots_pathq(url: str) -> str:
    """Match target per Google REP: path plus '?query' when present."""
    parts = urlsplit(url)
    path = parts.path or "/"
    return f"{path}?{parts.query}" if parts.query else path


def simulate_crawl(
    pages: dict[str, bytes],            # canonical url -> html
    seed_urls: list[str],               # raw seed list, file order
    n_rounds: int,
    default_budget: int = 4,
    budgets: dict[str, int] | None = None,
    robots: dict[str, str] | None = None,
    priority_decay: float = 0.5,
    round_seconds: float = 60.0,
    max_attempts: int = 3,
    retry_decay: float = 0.5,
    flaky: dict[str, int] | None = None,  # canonical url -> 503s before 200
    aliases: dict[str, str] | None = None,  # host -> canonical host
    detail_pages: dict[str, bytes] | None = None,  # detail url -> html
    blend_pagerank_every: int | None = None,
    blend_weight: float = 0.5,
    blend_iters: int = 5,
    blend_damping: float = 0.85,
    budget_carry: bool = False,
) -> SimResult:
    explicit_budgets = dict(budgets or {})
    merged = robots_budgets(robots or {}, round_seconds)
    merged.update(explicit_budgets)
    budgets = merged
    robots_rules = {h: parse_robots(b) for h, b in (robots or {}).items()}
    flaky = {canonicalize_one(u): n for u, n in (flaky or {}).items()}

    # seed frontier: canonicalize, dedup by hash (min seed_index wins)
    frontier: dict[int, dict] = {}
    for i, raw in enumerate(seed_urls, start=1):
        if raw is None or not raw.strip():
            continue
        u = alias_one(canonicalize_one(raw), aliases)
        e = {
            "url": u, "url_hash": spark_xxhash64_str(u),
            "host": host_of_one(u), "priority": 1.0, "round": 1,
            "parent_url": None, "seed_index": i, "attempts": 0,
        }
        cur = frontier.get(e["url_hash"])
        if cur is None or _frontier_entry_key(e) < _frontier_entry_key(cur):
            frontier[e["url_hash"]] = e

    seen: set[int] = set()
    waves, texts, statuses, metrics = [], {}, {}, []
    errors: list[dict] = []
    details: dict[str, dict] = {}
    all_edges: list[tuple[int, int]] = []  # discovery edges (blend mode)

    for k in range(1, n_rounds + 1):
        if not frontier:
            break
        if budget_carry:
            # schedule-aware robots budgets: pure function of the round
            # number (mirrors budgets_from_rules(round_k=k) exactly)
            budgets = robots_budgets_carry(robots or {}, k, round_seconds)
            budgets.update(explicit_budgets)
        candidates = [e for h, e in frontier.items() if h not in seen]

        allowed, blocked = [], []
        for e in candidates:
            ok = allowed_one(robots_rules.get(e["host"]),
                             _robots_pathq(e["url"]))
            (allowed if ok else blocked).append(e)

        # per-host budget, order (priority DESC, url_hash ASC)
        by_host: dict[str, list[dict]] = {}
        for e in allowed:
            by_host.setdefault(e["host"], []).append(e)
        wave: list[dict] = []
        for host, entries in by_host.items():
            entries.sort(key=lambda e: (-e["priority"], e["url_hash"]))
            wave.extend(entries[: budgets.get(host, default_budget)])
        wave.sort(key=lambda e: (-e["priority"], e["url_hash"]))
        waves.append([e["url_hash"] for e in wave])

        n_ok = n_404 = n_gave_up = 0
        retries: list[dict] = []
        discovered: dict[int, dict] = {}
        terminal: set[int] = set()
        for e in wave:
            html = pages.get(e["url"])
            if html is None:
                statuses[e["url"]] = 404
                n_404 += 1
                terminal.add(e["url_hash"])
                errors.append({
                    "url": e["url"], "round": k, "status": 404,
                    "attempts": e["attempts"] + 1, "error": "http_404",
                })
                continue
            if e["attempts"] < flaky.get(e["url"], 0):
                statuses[e["url"]] = 503
                if e["attempts"] + 1 >= max_attempts:
                    n_gave_up += 1
                    terminal.add(e["url_hash"])
                    errors.append({
                        "url": e["url"], "round": k, "status": 503,
                        "attempts": e["attempts"] + 1,
                        "error": "gave_up_transient",
                    })
                else:
                    retries.append({
                        **e,
                        "priority": e["priority"] * retry_decay,
                        "round": k + 1,
                        "attempts": e["attempts"] + 1,
                    })
                continue
            statuses[e["url"]] = 200
            n_ok += 1
            terminal.add(e["url_hash"])
            text, links, href = extract_page_one(html)
            texts[e["url"]] = text
            if detail_pages is not None:
                # content-derived key (same rule as plans/detail.py):
                # rel="detail" href resolved+canonicalized; fallback =
                # /detail suffix inserted before any query string
                du = resolve_one(e["url"], href) if href else None
                if not du:
                    base = e["url"]
                    qpos = base.find("?")
                    du = (base[:qpos] + "/detail" + base[qpos:]
                          if qpos >= 0 else base + "/detail")
                dh = detail_pages.get(du)
                cabins = extract_detail_one(dh)
                best = cheapest_cabin_one(cabins)
                details[e["url"]] = {
                    "detail_url": du,
                    "status": 404 if dh is None else 200,
                    "cabins": cabins,
                    "min_cabin": best[0] if best else None,
                    "min_price": best[1] if best else None,
                }
            for raw_link in links:
                u = resolve_one(e["url"], raw_link)
                if not u:
                    continue
                u = alias_one(u, aliases)
                if blend_pagerank_every:
                    all_edges.append(
                        (spark_xxhash64_str(e["url"]),
                         spark_xxhash64_str(u)))
                d = {
                    "url": u, "url_hash": spark_xxhash64_str(u),
                    "host": host_of_one(u),
                    "priority": e["priority"] * priority_decay,
                    "round": k + 1,
                    "parent_url": e["url"], "seed_index": e["seed_index"],
                    "attempts": 0,
                }
                cur = discovered.get(d["url_hash"])
                if cur is None or _frontier_entry_key(d) < _frontier_entry_key(cur):
                    discovered[d["url_hash"]] = d

        newly_seen = terminal | {e["url_hash"] for e in blocked}
        seen |= newly_seen
        waved_keys = {e["url_hash"] for e in wave}

        merged: dict[int, dict] = {}
        for e in list(frontier.values()) + list(discovered.values()):
            if e["url_hash"] in seen or e["url_hash"] in waved_keys:
                continue
            cur = merged.get(e["url_hash"])
            if cur is None or _frontier_entry_key(e) < _frontier_entry_key(cur):
                merged[e["url_hash"]] = e
        for e in retries:
            merged[e["url_hash"]] = e
        frontier = merged

        if (blend_pagerank_every and k % blend_pagerank_every == 0
                and all_edges):
            ranks = _pagerank_py(all_edges, blend_iters, blend_damping)
            mx = max(ranks.values()) or 1.0
            for e in frontier.values():
                r = ranks.get(e["url_hash"])
                if r is not None:
                    e["priority"] = round(
                        (1.0 - blend_weight) * e["priority"]
                        + blend_weight * (r / mx), 10)

        metrics.append({
            "round": k, "wave": len(wave), "fetched_200": n_ok,
            "fetched_404": n_404, "retried_503": len(retries),
            "failed_gave_up": n_gave_up, "robots_blocked": len(blocked),
            "discovered": len(discovered),
        })

    return SimResult(waves, seen, texts, statuses, metrics, errors, details)
