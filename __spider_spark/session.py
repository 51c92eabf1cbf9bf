"""SparkSession factory tuned for the crawl-frontier engine.

Defaults target the sandbox (single JVM, local[N]) but every knob is the one
you would set on a 1000-executor cluster: AQE on (skew-join splitting is the
backstop behind the politeness clip's map-side per-host limit), Arrow execution for pandas UDFs,
explicit shuffle partitioning, and a pinned session timezone so timestamp
formatting is deterministic (the reference pins Asia/Shanghai wall-clock
stamps, ctripSpider.py:158-159 — we pin UTC for reproducibility).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _package_zip() -> str:
    """Zip this package so executors can import it (the local analogue of
    ``spark-submit --py-files app.zip`` mandated by the north_rule; without
    it Python workers spawned outside the repo cwd fail with
    ModuleNotFoundError). The zip is named by a hash of the sources, so two
    checkouts sharing a temp dir never ship each other's code."""
    pkg_dir = Path(__file__).resolve().parent
    srcs = [(str(Path(pkg_dir.name) / p.relative_to(pkg_dir)), p.read_bytes())
            for p in sorted(pkg_dir.rglob("*.py"))
            if "__pycache__" not in p.parts]
    digest = hashlib.sha256()
    for arc, data in srcs:
        digest.update(f"{arc}\0{len(data)}\0".encode())
        digest.update(data)
    out = (Path(tempfile.gettempdir())
           / f"__spider_spark_pyfiles-{digest.hexdigest()[:16]}.zip")
    if not out.exists():
        tmp = out.with_suffix(f".{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w") as z:
            for arc, data in srcs:
                z.writestr(arc, data)
        os.replace(tmp, out)
    return str(out)


def _default_driver_memory() -> str:
    """Half the machine's physical memory, in whole GiB, at least 1g: local
    mode runs every task inside the driver JVM, and a fixed default larger
    than the machine lets the heap grow until the kernel kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "__spider_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback local[*]).
    On a real cluster you pass no master and let spark-submit provide it,
    plus an Iceberg catalog conf (see sources/lakehouse.py docstring).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # partition-size discipline for the 100 TB case: bounded input splits
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode = driver-only: one JVM holds everything
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPIDER_EXTRA_JAVA", ""))
    )
    # experiment/ops override hook: SPIDER_SPARK_CONF="k=v;k=v" applies
    # last (wins over defaults and extra_conf) — lets bench/scaling
    # subprocesses A/B a conf knob without plumbing it through every CLI
    env_conf = os.environ.get("SPIDER_SPARK_CONF", "")
    merged = dict(extra_conf or {})
    env_applied = []
    for kv in filter(None, (s.strip() for s in env_conf.split(";"))):
        k, _, v = kv.partition("=")
        merged[k.strip()] = v.strip()
        env_applied.append(f"{k.strip()}={v.strip()}")
    if env_applied:
        # visible trace: a stale shell export from an A/B run otherwise
        # invisibly changes engine configuration (ADVICE r5)
        print("[__spider_spark] SPIDER_SPARK_CONF overrides: "
              + "; ".join(env_applied), flush=True)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(_package_zip())
    return spark
