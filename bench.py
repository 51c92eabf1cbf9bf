"""Headline benchmark (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and a 3-round crawl over a
deterministic page store, then prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "crawl_urls_per_sec": ...}

Execution is forced with the noop sink (full pipeline, no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from __spider_spark.plans.crawl import CrawlConfig, run_crawl  # noqa: E402
from __spider_spark.session import get_spark  # noqa: E402
from __spider_spark.sources.lakehouse import Lakehouse  # noqa: E402
from __spider_spark.sources.pages import generate_pages, seeds_df  # noqa: E402

HEADLINE = [
    "q04_derived_columns",    # scan + project + decimal math
    "q06_broadcast_dim_join", # broadcast join chain + agg
    "q07_seen_anti_join",     # the URL-seen anti-join shape
    "q08_argmin_cheapest",    # window argmin
    "q11_group_rollup",       # TPC-H Q1 rollup
    "q17_minhash_lsh_pairs",  # shingle explode + minhash + LSH self-join
    "q19_simhash",            # bit-vote aggregation
    "q22_ann_cosine_topk",    # vector math top-k
    "q24_sessionize",         # stateful window over event time
]

CRAWL_PAGES = int(os.environ.get("BENCH_CRAWL_PAGES", "60000"))
CRAWL_SEEDS = int(os.environ.get("BENCH_CRAWL_SEEDS", "4000"))
CRAWL_ROUNDS = int(os.environ.get("BENCH_CRAWL_ROUNDS", "3"))


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def bench_queries(
    spark, sf_dir: str,
) -> tuple[dict[str, float], dict[str, list[float]]]:
    qs = entrymod.queries()
    # warmup: JVM/codegen/parquet-listing startup should not be billed to
    # whichever query happens to run first — and neither should the
    # Python UDF worker daemons (~1.5s/worker fork+pandas import), which
    # the crawl's first round would otherwise pay. Same billing rule the
    # scaling bench applies (BENCH.md round-2: workers warmed pre-timing).
    _force(qs["q11_group_rollup"](spark, sf_dir))
    from pyspark.sql import functions as F

    from __spider_spark.functions.urls import canonicalize_url
    _force(spark.range(0, 4096).repartition(64)
           .select(canonicalize_url(
               F.concat(F.lit("http://warm.test/"), F.col("id")))))
    times: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    for name in HEADLINE:
        # best of 2: round-4 instrumentation showed this box suffers
        # bursty host-level interference (one run measured every entry,
        # UDF-free included, uniformly ~2x inflated at 0% steal —
        # BENCH.md §Round-4). Interference only ever ADDS time, so the
        # min is the least-interfered estimate of the engine's cost.
        # ALL raw runs are emitted in the artifact (queries_runs) so any
        # round-over-round comparison can be made same-basis (r4 VERDICT
        # "What's wrong" #1): runs[0] is the cold/first-run basis, min()
        # the best-of-N basis. Sub-2s micro-queries get a third run
        # (r5 VERDICT next-round #6: their 1.4-2.6x run-to-run spread made
        # weather vs regression undecidable from two samples; the third
        # costs < 2s each and makes the spread visible per entry).
        runs: list[float] = []
        for _ in range(2):
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        if min(runs) < 2.0:
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        raw[name] = runs
        times[name] = min(runs)
    return times, raw


def bench_crawl(spark) -> tuple[float, float, int]:
    """3 scheduling rounds over a generated page store; returns
    (elapsed_sec, urls_per_sec, urls_fetched). Page-store generation is
    pre-materialized to parquet so only the engine is timed. Per-layer
    spans and job counts of a crawl round come from
    ``perfbench/run.py --trace 1``."""
    tmp = tempfile.mkdtemp(prefix="bench_pages_")
    pages_path = f"{tmp}/pages"
    generate_pages(spark, CRAWL_PAGES, n_hosts=64).write.mode(
        "overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    lake = Lakehouse(tempfile.mkdtemp(prefix="bench_lake_"))
    cfg = CrawlConfig(default_budget=CRAWL_SEEDS, bloom_parts=16)
    seeds = seeds_df(spark, CRAWL_PAGES, CRAWL_SEEDS, 64)
    t0 = time.perf_counter()
    metrics = run_crawl(spark, lake, pages, seeds, cfg, CRAWL_ROUNDS)
    elapsed = time.perf_counter() - t0
    fetched = sum(m["wave"] for m in metrics)
    lake.destroy()
    return round(elapsed, 3), round(fetched / elapsed, 1), fetched


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) \
        if "sf" in sf_dir else 0.1
    # partitions capped at 16: on this box more concurrent shuffle/UDF tasks
    # in ONE JVM go super-linear in kernel time (see BENCH.md analysis);
    # measured 76s -> 34s on the crawl portion at local[32]
    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=min(int(cpus), 16))
    spark.sparkContext.setLogLevel("ERROR")
    times, raw = bench_queries(spark, sf_dir)
    # crawl best-of-2, same rationale as bench_queries (each run gets a
    # fresh page store + lakehouse; generation is outside the timer)
    runs = [bench_crawl(spark) for _ in range(2)]
    crawl_sec, urls_per_sec, fetched = min(runs, key=lambda r: r[0])
    times["crawl_3rounds"] = crawl_sec
    raw["crawl_3rounds"] = [r[0] for r in runs]
    total = round(sum(times.values()), 3)
    first_run_total = round(sum(r[0] for r in raw.values()), 3)
    print(json.dumps({
        "metric": "headline suite wall seconds (lower=better); "
                  "crawl_urls_per_sec = frontier URLs scheduled+fetched/sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_runs": raw,
        "first_run_total_sec": first_run_total,
        "sf": sf,
        "crawl_urls_per_sec": urls_per_sec,
        "crawl_urls_per_sec_runs": [r[1] for r in runs],
        "crawl_urls_fetched": fetched,
        "cpus": int(cpus),
    }))


if __name__ == "__main__":
    main()
