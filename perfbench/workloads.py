"""Crawl workloads of the benchmark: every input is a pure function of
(workload, seed), and the program receives only the generated inputs.

Both use the page generator's built-in hot host: ``host0`` holds about
half of all pages, so every frontier is skewed (the DS2 case the salted
politeness clip exists for).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

ROBOTS_HOSTS = {
    # a path disallow, a disallow-all, an allow that overrides a broader
    # disallow, and a Crawl-delay that becomes a per-round budget
    "host1.test": "User-agent: *\nDisallow: /p1",
    "host2.test": "User-agent: *\nDisallow: /",
    "host3.test": "User-agent: *\nDisallow: /p\nAllow: /p3",
    "host4.test": "User-agent: *\nCrawl-delay: 20",
}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_pages: int
    n_seeds: int
    rounds: int
    weight: int = 1            # paragraphs multiplier of each page
    n_hosts: int = 64
    n_flaky: int = 0           # URLs that serve 1-3 HTTP 503s first
    default_budget: int = 4
    budgets: dict = field(default_factory=dict)
    robots: dict = field(default_factory=dict)
    # storage and sketch choices: they change how the engine works, never
    # what it outputs, so the reference does not see them
    engine: dict = field(default_factory=dict)

    def flaky(self, seed: int) -> dict[str, int]:
        """Canonical URL -> number of 503s served before a 200, drawn
        from the seed pages so the retries actually happen."""
        from __spider_spark.sources.pages import canonical_url
        rng = random.Random(f"{self.name}:{seed}")
        ids = rng.sample(range(self.n_seeds), self.n_flaky)
        return {canonical_url(i, self.n_hosts, seed): rng.randint(1, 3)
                for i in ids}

    def crawl_config(self, seed: int):
        from __spider_spark.plans.crawl import CrawlConfig
        return CrawlConfig(default_budget=self.default_budget,
                           budgets=dict(self.budgets),
                           robots=dict(self.robots),
                           flaky=self.flaky(seed), **self.engine)

    def reference_kwargs(self, seed: int) -> dict:
        """The same crawl policy, in ``reference_sim.simulate_crawl``'s
        terms."""
        return {"default_budget": self.default_budget,
                "budgets": dict(self.budgets),
                "robots": dict(self.robots),
                "flaky": self.flaky(seed)}


WORKLOADS = {w.name: w for w in [
    Workload(
        name="extract_bound",
        why="article pages, no robots rules and a budget that clips "
            "nothing: fetch join, extract_page and link discovery do the "
            "work while seen routing, clip and lakehouse upkeep pass through",
        n_pages=5_000, weight=8, n_seeds=500, rounds=2,
        default_budget=1_000_000,
        engine={"salt_buckets": 16, "bloom_parts": 16},
    ),
    Workload(
        name="schedule_churn",
        why="stub pages, frontier several times the clipped wave, robots "
            "rules, forced sketch routing, retries and a merge-on-read "
            "frontier: scheduling and the lakehouse write path dominate",
        n_pages=8_000, n_seeds=3_000, rounds=2, n_flaky=200,
        default_budget=32, budgets={"host0.test": 8}, robots=ROBOTS_HOSTS,
        engine={"salt_buckets": 16, "bloom_parts": 16, "bloom_min_seen": 0,
                "seen_filter": "cuckoo", "frontier_mode": "mor",
                "frontier_fold_every": 2},
    ),
]}
