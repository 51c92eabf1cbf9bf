"""Extra measurement harness for the optimization round (bench.py is FROZEN
for the driver's measurement, so per-query isolation, plan capture, and
noop-sink timing live here — guide §1.4/§1.5).

Usage:
  python bench_extra.py plans <outdir> [query ...]   # .explain("formatted")
  python bench_extra.py time [query ...]             # noop-isolated best-of-N
  python bench_extra.py crawl                        # timed 3-round crawl

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), BENCH_EXTRA_RUNS (default 3).
"""

from __future__ import annotations

import io
import json
import os
import sys
import tempfile
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from __spider_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = int(os.environ.get("BENCH_EXTRA_RUNS", "3"))


def _spark():
    spark = get_spark(app_name="bench_extra", master=f"local[{CPUS}]",
                      shuffle_partitions=min(int(CPUS), 16))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def cmd_plans(outdir: str, names: list[str]) -> None:
    spark = _spark()
    qs = entrymod.queries()
    out = Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    for name in names or qs.keys():
        buf = io.StringIO()
        try:
            with redirect_stdout(buf):
                qs[name](spark, SF_DIR).explain("formatted")
        except Exception as e:  # pragma: no cover - capture tool
            buf.write(f"EXPLAIN FAILED: {e}\n")
        (out / f"{name}.txt").write_text(buf.getvalue())
        print(f"wrote {out / (name + '.txt')}")


def cmd_execplans(outdir: str, names: list[str]) -> None:
    """Executed (post-AQE) plans: runs each query through the noop sink
    and dumps executedPlan().toString() — this is where runtime effects
    like ReusedExchange / AQEShuffleRead / skew splits are visible, which
    the pre-execution `plans` output cannot show."""
    spark = _spark()
    qs = entrymod.queries()
    out = Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    for name in names or qs.keys():
        try:
            df = qs[name](spark, SF_DIR)
            df.collect()  # a write would execute a SEPARATE QueryExecution
            txt = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - capture tool
            txt = f"EXEC PLAN FAILED: {e}\n"
        (out / f"{name}.txt").write_text(txt)
        print(f"wrote {out / (name + '.txt')}")


def cmd_time(names: list[str]) -> None:
    spark = _spark()
    qs = entrymod.queries()
    # same warmup discipline as bench.py
    _force(qs["q11_group_rollup"](spark, SF_DIR))
    from pyspark.sql import functions as F

    from __spider_spark.functions.urls import canonicalize_url
    _force(spark.range(0, 4096).repartition(64)
           .select(canonicalize_url(
               F.concat(F.lit("http://warm.test/"), F.col("id")))))
    results: dict[str, list[float]] = {}
    for name in names or list(qs.keys()):
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        runs = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            _force(qs[name](spark, SF_DIR))
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = runs
        print(f"{name}: min={min(runs):.3f} runs={runs}", flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "runs": results}))


def cmd_crawl() -> None:
    from __spider_spark.plans.crawl import CrawlConfig, run_crawl
    from __spider_spark.sources.lakehouse import Lakehouse
    from __spider_spark.sources.pages import generate_pages, seeds_df
    spark = _spark()
    n_pages = int(os.environ.get("BENCH_CRAWL_PAGES", "60000"))
    n_seeds = int(os.environ.get("BENCH_CRAWL_SEEDS", "4000"))
    n_rounds = int(os.environ.get("BENCH_CRAWL_ROUNDS", "3"))
    tmp = tempfile.mkdtemp(prefix="bx_pages_")
    generate_pages(spark, n_pages, n_hosts=64).write.mode(
        "overwrite").parquet(f"{tmp}/pages")
    pages = spark.read.parquet(f"{tmp}/pages")
    results = []
    for _ in range(RUNS):
        lake = Lakehouse(tempfile.mkdtemp(prefix="bx_lake_"))
        cfg = CrawlConfig(default_budget=n_seeds, bloom_parts=16)
        seeds = seeds_df(spark, n_pages, n_seeds, 64)
        t0 = time.perf_counter()
        metrics = run_crawl(spark, lake, pages, seeds, cfg, n_rounds)
        elapsed = round(time.perf_counter() - t0, 3)
        fetched = sum(m["wave"] for m in metrics)
        lake.destroy()
        results.append({"sec": elapsed,
                        "urls_per_sec": round(fetched / elapsed, 1)})
        print(json.dumps(results[-1]), flush=True)
    best = min(results, key=lambda r: r["sec"])
    print(json.dumps({"best": best, "all": [r["sec"] for r in results]}))


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    elif cmd == "execplans":
        cmd_execplans(sys.argv[2], sys.argv[3:])
    elif cmd == "time":
        cmd_time(sys.argv[2:])
    elif cmd == "crawl":
        cmd_crawl()
    else:
        raise SystemExit(f"unknown subcommand {cmd!r}")


if __name__ == "__main__":
    main()
