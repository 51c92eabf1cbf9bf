"""Per-round reference check of a crawl against ``reference_sim``.

An operation of the benchmark is one crawl round. A round fails when any of
these four invariants differs from the reference run on the same inputs:

* ``fetch_order``: the committed ``url_hash -> fetch_order`` map equals
  ``{h: i + 1}`` over the reference wave. Compared as an exact map, never by
  sorting on fetch_order, so duplicated or gapped ranks cannot pass;
* ``seen``: the URLs the round marked seen (fetched, 404, gave up) equal the
  reference's, and its robots-blocked URLs are reference-blocked URLs in the
  reference's number;
* ``text``: every text the round extracted equals the reference text byte
  for byte, for exactly the reference's set of fetched URLs;
* ``metrics``: the committed metrics row equals the reference's.

A round that was never committed because the crawl raised fails as
``raised``.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

INVARIANTS = ("fetch_order", "seen", "text", "metrics")


@dataclass
class RoundOutput:
    """What one crawl committed for one round (engine side)."""

    orders: list[tuple[int, int]] = field(default_factory=list)
    texts: list[tuple[str, str]] = field(default_factory=list)
    seen: list[tuple[int, str]] = field(default_factory=list)
    metrics: dict | None = None


@dataclass
class RoundExpect:
    """What the reference says the same round must commit."""

    orders: dict[int, int]
    texts: dict[str, str]
    terminal: set[int]          # wave URLs that left the frontier as seen
    n_blocked: int
    blocked_pool: set[int]      # every URL the whole reference run blocked
    metrics: dict


def expected_rounds(sim, url_hash) -> list[RoundExpect]:
    """Per-round expectations from one ``SimResult``. ``url_hash`` maps a
    canonical URL to its frontier key (the engine's xxhash64)."""
    last_round: dict[int, int] = {}
    for k, wave in enumerate(sim.waves, start=1):
        for h in wave:
            last_round[h] = k
    fetched = {url_hash(u): u for u in sim.texts}
    errored = {(url_hash(e["url"]), e["round"]) for e in sim.errors}
    blocked = sim.seen - set(last_round)
    out = []
    for k, wave in enumerate(sim.waves, start=1):
        done_here = [h for h in wave if last_round[h] == k]
        terminal = {h for h in done_here
                    if h in fetched or (h, k) in errored}
        out.append(RoundExpect(
            orders={h: i for i, h in enumerate(wave, start=1)},
            texts={fetched[h]: sim.texts[fetched[h]]
                   for h in done_here if h in fetched},
            terminal=terminal,
            n_blocked=sim.metrics[k - 1]["robots_blocked"],
            blocked_pool=blocked,
            metrics=dict(sim.metrics[k - 1]),
        ))
    return out


def read_output(spark, lake) -> dict[int, RoundOutput]:
    """Round -> what the crawl in ``lake`` committed for it."""
    got: dict[int, RoundOutput] = {}
    if lake.latest_round() < 1:
        return got

    def rnd(k):
        return got.setdefault(k, RoundOutput())
    for row in lake.read(spark, "results").select(
            "round", "url_hash", "fetch_order", "status", "url",
            "text").toLocalIterator():
        r = rnd(row["round"])
        r.orders.append((row["url_hash"], row["fetch_order"]))
        if row["status"] == 200:
            r.texts.append((row["url"], row["text"]))
    for row in lake.read(spark, "seen").select(
            "url_hash", "outcome", "round_seen").collect():
        rnd(row["round_seen"]).seen.append((row["url_hash"], row["outcome"]))
    for row in lake.read(spark, "metrics").collect():
        rnd(row["round"]).metrics = row.asDict()
    return got


def check_round(got: RoundOutput, want: RoundExpect) -> list[str]:
    """Names of the invariants this round broke (empty when it passed)."""
    broken = []
    orders = dict(got.orders)
    if len(orders) != len(got.orders) or orders != want.orders:
        broken.append("fetch_order")
    terminal = [h for h, outcome in got.seen if outcome != "robots_blocked"]
    blocked = [h for h, outcome in got.seen if outcome == "robots_blocked"]
    if (len(set(terminal)) != len(terminal) or set(terminal) != want.terminal
            or len(set(blocked)) != len(blocked)
            or len(blocked) != want.n_blocked
            or not set(blocked) <= want.blocked_pool):
        broken.append("seen")
    texts = dict(got.texts)
    if (len(texts) != len(got.texts) or texts.keys() != want.texts.keys()
            or any(texts[u] is None
                   or texts[u].encode("utf-8") != t.encode("utf-8")
                   for u, t in want.texts.items())):
        broken.append("text")
    if got.metrics != want.metrics:
        broken.append("metrics")
    return broken


def check_crawl(got: dict[int, RoundOutput], want: list[RoundExpect],
                rounds: int) -> list[list[str]]:
    """Broken invariants of each of ``rounds`` rounds; a round the engine
    never committed fails as ``raised``, one the reference never ran (its
    frontier ran dry) as ``round_count``."""
    out = []
    for k in range(1, rounds + 1):
        if k not in got:
            out.append(["raised"])
        elif k > len(want):
            out.append(["round_count"])
        else:
            out.append(check_round(got[k], want[k - 1]))
    return out


def tally(results: list[list[str]]) -> Counter:
    """Invariant name -> number of rounds that broke it."""
    return Counter(name for broken in results for name in broken)
