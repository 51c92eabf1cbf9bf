"""One scaling-bench job: run the crawl engine at a given parallelism.

Usage: python scripts/scaling_job.py <cores> <pages_parquet> <n_pages> <seeds> <rounds>
Prints one JSON line {cores, elapsed_sec, urls_fetched, urls_per_sec}.

This is the sandbox substitution for the north_rule's two-cluster-size
criterion (BASELINE.md): the same job, same input, at local[N] and local[4N].
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from __spider_spark.plans.crawl import CrawlConfig, run_crawl  # noqa: E402
from __spider_spark.session import get_spark  # noqa: E402
from __spider_spark.sources.lakehouse import Lakehouse  # noqa: E402
from __spider_spark.sources.pages import seeds_df  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    pages_path = sys.argv[2]
    n_pages = int(sys.argv[3])
    n_seeds = int(sys.argv[4])
    rounds = int(sys.argv[5])
    mode = sys.argv[6] if len(sys.argv) > 6 else "local"
    n_exec = exec_cores = None
    if mode == "cluster":
        # multi-JVM executors (local-cluster[n,cores,memMB]): each executor
        # is a separate JVM + its own Python workers — the faithful sandbox
        # analogue of N executors on a real cluster, and the control for the
        # single-JVM local[32] kernel-contention artifact (BENCH.md)
        exec_cores = int(os.environ.get("SCALE_EXEC_CORES", "2"))
        # the layout must tile the taskset mask EXACTLY: with exec_cores >
        # cores the old default quietly ran 1 executor with exec_cores task
        # slots squeezed onto `cores` physical CPUs — an oversubscribed N
        # leg vs an exact 4N leg (VERDICT r5 "what's wrong" #2). Raise
        # instead of measuring an asymmetric protocol.
        if cores % exec_cores:
            raise SystemExit(
                f"cores={cores} not divisible by SCALE_EXEC_CORES="
                f"{exec_cores}: executor layout would not tile the taskset "
                f"mask; pick exec_cores dividing both legs")
        n_exec = cores // exec_cores
        master = f"local-cluster[{n_exec},{exec_cores},4096]"
        # ActiveProcessorCount: each executor JVM must size its GC/JIT
        # thread pools for ITS core allocation, not the whole box — without
        # it, 8 co-hosted executors each spawn ~23 GC threads and the
        # kernel thrashes (measured 5.5x on a pure-codegen probe; BENCH.md).
        # On real clusters YARN/K8s cgroups do this for you.
        extra = {"spark.executor.memory": "3g",
                 "spark.executor.extraJavaOptions":
                     f"-XX:ActiveProcessorCount={exec_cores}"}
    else:
        master = f"local[{cores}]"
        extra = {}
    # 4 tasks per core at EVERY parallelism level: with parts == cores the
    # high-N run gets one task per core and any skew/straggler idles N-1
    # cores, while the low-N run enjoys natural load balancing from its
    # task surplus — an asymmetry that depressed measured scaling by ~20%
    # (BENCH.md round-3). 4x is still below the >2x-per-core range where
    # this guest kernel's contention pathology kicks in at 32 cores.
    parts = int(os.environ.get("SCALE_PARTS", 4 * cores))
    # SCALE_LOCAL_DIR (e.g. /dev/shm/...): put shuffle/spill dirs AND the
    # lakehouse on tmpfs — removes the shared-virtio-disk confound from the
    # two-cluster-size measurement (each node of a real cluster brings its
    # own disks; this box has ONE, so disk-bound phases are flat in N by
    # construction — BENCH.md round-2 probe (c))
    scratch = os.environ.get("SCALE_LOCAL_DIR")
    local_dir = None
    if scratch:
        os.makedirs(scratch, exist_ok=True)
        local_dir = tempfile.mkdtemp(
            prefix=f"spark_local_{cores}_", dir=scratch)
        extra["spark.local.dir"] = local_dir
    spark = get_spark(app_name=f"scaling-{cores}", master=master,
                      shuffle_partitions=parts, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(pages_path)
    lake = Lakehouse(tempfile.mkdtemp(prefix=f"scale_lake_{cores}_",
                                      dir=scratch or None))
    # curate=True = the production shape: lang-ID/quality/token-count/
    # fingerprint stamped per fetched page in the same pass (all JVM
    # Column exprs) — the work a 100 TB crawl actually does per URL
    cfg = CrawlConfig(default_budget=n_seeds, bloom_parts=16,
                      bloom_inline_max=1 << 20, curate=True)
    seeds = seeds_df(spark, n_pages, n_seeds, 64)
    # input staging, NOT timed: the bucketed page index is built once per
    # crawl lifetime (the Iceberg pages table bucketed by url_hash); the
    # criterion measures steady-state crawl throughput, so the one-time
    # full-store shuffle is pre-materialized like the parquet input itself
    from __spider_spark.plans.crawl import build_pages_index
    idx = build_pages_index(spark, pages)
    idx.count()
    warmed = False
    if os.environ.get("SCALE_WARMUP") == "1":
        # Untimed warmup crawl (~10% of the seeds, same code path, thrown
        # away): a fresh JVM spends its first ~30s JIT-compiling codegen
        # stages and growing the heap, and at 100k pages that cold fraction
        # is larger for the shorter 4N leg than the 2N leg — measured as a
        # 1.6-2.3x 4N-leg spread with steal%~0 in the round-5 campaigns.
        # Real-cluster executors are long-lived, so STEADY-STATE throughput
        # is the honest analogue of the north_rule's two-cluster-size
        # criterion; the warmup is recorded in the campaign artifact.
        warm_lake = Lakehouse(tempfile.mkdtemp(
            prefix=f"scale_warm_{cores}_", dir=scratch or None))
        warm_seeds = seeds_df(spark, n_pages, max(n_seeds // 10, 1000), 64)
        run_crawl(spark, warm_lake, pages, warm_seeds,
                  cfg, 1, pages_idx=idx)
        warm_lake.destroy()
        warmed = True
    t0 = time.perf_counter()
    metrics = run_crawl(spark, lake, pages, seeds, cfg, rounds,
                        pages_idx=idx)
    elapsed = time.perf_counter() - t0
    fetched = sum(m["wave"] for m in metrics)
    lake.destroy()
    print(json.dumps({
        "cores": cores, "elapsed_sec": round(elapsed, 2),
        "urls_fetched": fetched,
        "urls_per_sec": round(fetched / elapsed, 1),
        # the ACTUAL layout that ran, so the campaign artifact/labels are
        # derived from ground truth, never from a hardcoded assumption
        "master": master,
        "n_exec": n_exec, "exec_cores": exec_cores,
        "shuffle_partitions": parts,
        "warmup": warmed,
    }))
    if local_dir:
        # each trial removes ITS shuffle scratch: back-to-back trials were
        # accumulating tens of GB on /dev/shm (tmpfs = RAM), and the round-4
        # paired campaign showed a declining-throughput trend across pairs
        # with steal% ~0 — memory-pressure, not hypervisor, noise
        spark.stop()
        import shutil
        shutil.rmtree(local_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
