"""The reference check must pass a correct crawl and flag each kind of
corruption the benchmark counts as a failed round."""

from __future__ import annotations

import copy
import tempfile
from types import SimpleNamespace

import pytest

from check import check_crawl, expected_rounds, read_output

from __spider_spark.functions.hashing import spark_xxhash64_str
from __spider_spark.functions.urls import canonicalize_one
from __spider_spark.plans.crawl import CrawlConfig, run_crawl
from __spider_spark.reference_sim import simulate_crawl
from __spider_spark.sources.lakehouse import Lakehouse
from __spider_spark.sources.pages import (
    build_page,
    generate_pages,
    seed_urls,
    seeds_df,
)

N, HOSTS, SEEDS, ROUNDS = 400, 12, 30, 4
POLICY = {"default_budget": 4, "budgets": {"host0.test": 3},
          "robots": {"host1.test": "User-agent: *\nDisallow: /p1",
                     "host2.test": "User-agent: *\nDisallow: /"}}


@pytest.fixture(scope="module")
def want():
    pages = {canonicalize_one(p["url"]): p["html"]
             for p in (build_page(i, N, HOSTS) for i in range(N))}
    sim = simulate_crawl(pages, seed_urls(N, SEEDS, HOSTS), ROUNDS, **POLICY)
    return expected_rounds(SimpleNamespace(**vars(sim)), spark_xxhash64_str)


@pytest.fixture(scope="module")
def got(spark):
    lake = Lakehouse(tempfile.mkdtemp(prefix="perfbench_check_"))
    cfg = CrawlConfig(bloom_parts=4, bloom_bits_per_part=1 << 16,
                      bloom_min_seen=0, **copy.deepcopy(POLICY))
    run_crawl(spark, lake, generate_pages(spark, N, HOSTS),
              seeds_df(spark, N, SEEDS, HOSTS), cfg, ROUNDS)
    yield read_output(spark, lake)
    lake.destroy()


def test_small_crawl_passes_every_invariant(got, want):
    assert check_crawl(got, want, ROUNDS) == [[]] * ROUNDS


def test_missing_round_fails_as_raised(got, want):
    bad = copy.deepcopy(got)
    del bad[ROUNDS]
    assert check_crawl(bad, want, ROUNDS)[-1] == ["raised"]


def test_swapped_fetch_orders_are_flagged(got, want):
    bad = copy.deepcopy(got)
    (h1, o1), (h2, o2) = bad[2].orders[:2]
    bad[2].orders[:2] = [(h1, o2), (h2, o1)]
    assert check_crawl(bad, want, ROUNDS)[1] == ["fetch_order"]


def test_duplicated_fetch_order_is_flagged(got, want):
    bad = copy.deepcopy(got)
    (h1, o1), (h2, _) = bad[3].orders[:2]
    bad[3].orders[1] = (h2, o1)
    assert check_crawl(bad, want, ROUNDS)[2] == ["fetch_order"]


def test_one_byte_text_change_is_flagged(got, want):
    bad = copy.deepcopy(got)
    url, text = bad[1].texts[0]
    last = "x" if text[-1] != "x" else "y"
    bad[1].texts[0] = (url, text[:-1] + last)
    assert check_crawl(bad, want, ROUNDS)[0] == ["text"]
