"""Reference-checked crawl-round benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_bound --seed 1 \
        --seconds 3 --trace 0

One process, ``local[4]`` with 4 shuffle partitions. The run

1. generates the workload's pages and seeds from ``--seed`` (pages go to
   parquet, so generation is never timed);
2. computes the reference crawl (``reference_sim.simulate_crawl``) on the
   same generated inputs, once per (workload, seed) and cached;
3. starts the session, then builds and materializes the page index;
4. runs whole crawls through ``plans.crawl.run_crawl``, each on a fresh
   lakehouse, until their timed rounds add up to ``--seconds`` (at least
   one crawl). Round 1 of a crawl is never timed: it starts from an empty
   seen set, and in the first crawl it is the warm-up that pays the JVM,
   codegen and Python-worker start-up, so ``setup_s`` is session start +
   index build + that round;
5. checks every round of every crawl against the reference (check.py);
6. with ``--trace 1``, also counts jobs per round and replays the last
   round's layers from its frozen snapshot (layers.py).

Times are wall seconds divided by the run's measured CPU slowdown
(``clock.SpeedProbe``; see README.md). The last line of stdout is one JSON
object: ``correct``, ``attempted`` and ``failed`` rounds, and the metrics
(end-to-end ones with ``--trace 0``, per-layer ones with ``--trace 1``).
Broken invariants are named on stderr.
Everything the run writes stays under ``.bench_work/`` in the repository.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
CORES = 4


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the run dir,
    and drop engine overrides a caller's shell may carry."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for var in ("SPIDER_SPARK_CONF", "SPIDER_COMMIT_THREADS",
                "SPIDER_SPARK_PROFILE", "SPIDER_EXTRA_JAVA"):
        os.environ.pop(var, None)
    import tempfile
    tempfile.tempdir = None


def _dir_bytes(path: Path) -> tuple[int, int]:
    size = files = 0
    for p in path.rglob("*.parquet"):
        size += p.stat().st_size
        files += 1
    for p in (path / "_manifests").glob("*"):
        size += p.stat().st_size
    return size, files


def _source_digest() -> str:
    """Digest of the engine and workload sources: keys the reference cache,
    so a changed simulator or generator never reads a stale reference."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "__spider_spark").rglob("*.py")):
        h.update(p.read_bytes())
    h.update((HERE / "workloads.py").read_bytes())
    return h.hexdigest()[:16]


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 run_dir: Path) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.cfg = workload.crawl_config(seed)
        self.spark = None

    # -- set-up ------------------------------------------------------------
    def start(self) -> None:
        from __spider_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(self.run_dir / "spark-local"),
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0

    def make_inputs(self) -> None:
        """Pages go to parquet from ``build_page``, the row constructor
        ``generate_pages`` maps over, so generating them starts no Spark
        job and the JVM's cold start stays in the set-up it belongs to."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from __spider_spark.functions.urls import canonicalize_one
        from __spider_spark.sources.pages import build_page
        w = self.w
        t0 = time.perf_counter()
        rows = [build_page(i, w.n_pages, w.n_hosts, self.seed, w.weight)
                for i in range(w.n_pages)]
        self.pages_path = self.run_dir / "pages"
        self.pages_path.mkdir(parents=True)
        schema = pa.schema([("url", pa.string()),
                            ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()),
                            ("lang", pa.string())])
        step = -(-len(rows) // CORES)
        for part, i in enumerate(range(0, len(rows), step)):
            pq.write_table(pa.Table.from_pylist(rows[i:i + step], schema),
                           self.pages_path / f"part-{part:05d}.parquet")
        self.page_html = {canonicalize_one(r["url"]): r["html"]
                          for r in rows}
        _log(f"inputs {time.perf_counter() - t0:.2f}s")

    def setup(self) -> None:
        from __spider_spark.plans.crawl import build_pages_index
        from __spider_spark.sources.pages import seeds_df
        w = self.w
        t0 = time.perf_counter()
        self.pages = self.spark.read.parquet(str(self.pages_path))
        self.seeds = seeds_df(self.spark, w.n_pages, w.n_seeds, w.n_hosts,
                              self.seed)
        self.idx = build_pages_index(self.spark, self.pages)
        self.idx.count()
        self.index_build_s = time.perf_counter() - t0

    # -- reference ---------------------------------------------------------
    def reference(self):
        from types import SimpleNamespace

        from check import expected_rounds

        from __spider_spark.functions.hashing import spark_xxhash64_str
        cache = (WORK / "ref" /
                 f"{self.w.name}-{self.seed}-{_source_digest()}.json")
        if cache.is_file():
            sim = json.loads(cache.read_text())
        else:
            sim = self._simulate()
            cache.parent.mkdir(parents=True, exist_ok=True)
            tmp = cache.with_suffix(f".{os.getpid()}.tmp")
            tmp.write_text(json.dumps(sim))
            os.replace(tmp, cache)
        del self.page_html
        sim = SimpleNamespace(**sim)
        sim.seen = set(sim.seen)
        return expected_rounds(sim, spark_xxhash64_str)

    def _simulate(self) -> dict:
        from __spider_spark.reference_sim import simulate_crawl
        from __spider_spark.sources.pages import seed_urls
        w = self.w
        t0 = time.perf_counter()
        sim = simulate_crawl(
            self.page_html,
            seed_urls(w.n_pages, w.n_seeds, w.n_hosts, self.seed),
            w.rounds, **w.reference_kwargs(self.seed))
        _log(f"reference {time.perf_counter() - t0:.2f}s")
        return {"waves": sim.waves, "seen": sorted(sim.seen),
                "texts": sim.texts, "metrics": sim.metrics,
                "errors": sim.errors}

    # -- timed crawls ------------------------------------------------------
    def crawl(self, i: int, counter=None) -> dict:
        """One whole crawl on a fresh lakehouse; returns its timings, its
        committed output per round and (tracing) its per-round job counts."""
        from __spider_spark.plans.crawl import run_crawl

        from check import read_output
        from clock import ClockedLakehouse
        rounds = self.w.rounds
        frozen = self.run_dir / f"frozen{i}"
        lake = ClockedLakehouse(self.run_dir / f"lake{i}", counter,
                                freeze_after=rounds - 1, frozen_dir=frozen)
        t0 = time.perf_counter()
        try:
            run_crawl(self.spark, lake, self.pages, self.seeds, self.cfg,
                      rounds, pages_idx=self.idx)
        except Exception as e:  # a crash is a failed round, not a dead run
            _log(f"crawl {i} raised {type(e).__name__}: {e}")
        spans = lake.round_spans(t0)
        speed = [self.probe.factor(b, e) for b, e in spans]
        out = {"round_wall_s": [e - b for b, e in spans], "speed": speed,
               "round_s": [(e - b) / f for (b, e), f in zip(spans, speed)],
               "jobs": lake.round_jobs(), "hook_s": lake.hook_s,
               "frozen": (frozen, lake.frozen_version)}
        out["output"] = read_output(self.spark, lake)
        out["bytes"], out["files"] = _dir_bytes(lake.root)
        out["waves"] = [out["output"][k].metrics["wave"]
                        for k in range(1, len(out["round_s"]) + 1)]
        lake.destroy()
        return out

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        from clock import SpeedProbe
        self.make_inputs()
        want = self.reference()
        with SpeedProbe() as self.probe:
            return self._run(want)

    def _run(self, want) -> dict:
        from check import INVARIANTS, check_crawl, tally
        t0 = time.perf_counter()
        self.start()
        self.setup()
        counter = None
        if self.trace:
            from spans import JobCounter
            counter = JobCounter(self.spark.sparkContext)
        # round 1 of every crawl is untimed: it starts from an empty seen
        # set, and in the first crawl it is the warm-up that pays the JVM,
        # codegen and Python-worker start-up, so it is billed to setup_s
        crawls = []
        while (sum(s for c in crawls for s in c["round_wall_s"][1:])
               < self.seconds):
            crawls.append(self.crawl(len(crawls), counter))
            _log(f"crawl {len(crawls)}: rounds "
                 + ", ".join(f"{s:.2f}" for s in crawls[-1]["round_wall_s"])
                 + " s wall")
            if len(crawls[-1]["round_s"]) < 2:
                break               # raised before a timed round ended
        setup_wall = (self.start_s + self.index_build_s
                      + sum(crawls[0]["round_wall_s"][:1]))
        self.setup_s = setup_wall / self.probe.factor(t0, t0 + setup_wall)
        _log(f"setup {setup_wall:.2f}s wall, {self.setup_s:.2f}s at nominal "
             f"speed (session {self.start_s:.2f}s, index "
             f"{self.index_build_s:.2f}s); timed rounds "
             + ", ".join(f"{s:.2f}" for c in crawls for s in c["round_s"][1:])
             + " s at nominal speed")
        results = []
        for c in crawls:
            c["check"] = check_crawl(c["output"], want, self.w.rounds)
            results += c["check"]
        broken = tally(results)
        failed = sum(1 for b in results if b)
        _log(f"rounds failed {failed}/{len(results)}; broken invariants: "
             + (", ".join(f"{n} x{broken[n]}" for n in sorted(broken))
                or "none"))
        # the timed work is the reference's work unless a round crashed or
        # fetched, saw, extracted or counted something else; crawl order
        # alone does not change the work, so it fails rounds but leaves
        # the metrics comparable
        correct = not any(broken[n] for n in broken if n != "fetch_order")
        if self.trace:
            metrics = self.layer_metrics(crawls, broken, INVARIANTS)
        else:
            metrics = self.e2e_metrics(crawls)
        return {"correct": correct, "attempted": len(results),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def e2e_metrics(self, crawls) -> dict:
        timed = [s for c in crawls for s in c["round_s"][1:]]
        urls = sum(u for c in crawls for u in c["waves"][1:])
        return {
            # 0 when every crawl raised before a timed round ended
            "urls_per_s": (urls / sum(timed) if timed else 0.0, "1/s"),
            "round_s_p50": (statistics.median(timed) if timed else 0.0, "s"),
            "setup_s": (self.setup_s, "s"),
            "bytes_written_per_url": (statistics.median(
                c["bytes"] / max(sum(c["waves"]), 1) for c in crawls), "B"),
        }

    def layer_metrics(self, crawls, broken, invariants) -> dict:
        from layers import replay_round
        from spans import JobCounter, Tracer

        from __spider_spark.sources.lakehouse import Lakehouse
        m: dict[str, tuple[float, str]] = {}
        per_round = [c["jobs"] for c in crawls]
        for key in ("jobs", "stages", "tasks"):
            m[f"crawl.{key}_per_round"] = (statistics.median(
                sum(r[key] for r in pr) / len(pr) for pr in per_round
                if pr), "count")
        m["crawl.rounds_timed"] = (
            sum(len(c["round_s"][1:]) for c in crawls), "count")
        m["trace.round_s_p50"] = (statistics.median(
            s for c in crawls for s in c["round_s"][1:]), "s")
        m["trace.hook_s"] = (statistics.median(c["hook_s"] for c in crawls),
                             "s")
        m["crawl.cpu_slowdown"] = (statistics.median(
            f for c in crawls for f in c["speed"][1:]), "ratio")
        last = crawls[-1]
        m["lakehouse.bytes_written"] = (last["bytes"], "B")
        m["lakehouse.files_written"] = (last["files"], "count")
        for name in invariants:
            m[f"check.{name}_failed"] = (broken.get(name, 0), "count")

        frozen_dir, version = last["frozen"]
        tracer = Tracer(f"{self.w.name}/{self.seed}")
        counter = JobCounter(self.spark.sparkContext)
        m.update(replay_round(self.spark, tracer, counter,
                              Lakehouse(frozen_dir), version, self.cfg,
                              self.idx, self.w.rounds))
        m["replay.self_s"] = (tracer.self_times()["replay"], "s")
        m["session.start_s"] = (self.start_s, "s")
        m["session.index_build_s"] = (self.index_build_s, "s")
        m["session.jvm_peak_rss_mb"] = (self.jvm_peak_rss_mb(), "MB")
        out = WORK / "traces" / f"{self.w.name}-{self.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        tracer.write(out)
        _log(f"spans written to {out.relative_to(ROOT)}")
        return m

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from the driver JVM's status")

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM (and with it the Python
        workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        self.spark = None


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "__spider_spark" / "__init__.py").is_file():
        _log(f"no __spider_spark package under {ROOT}; run from a checkout "
             "of the repository")
        return 2
    sys.path.insert(1, str(ROOT))
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(run_dir)
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), run_dir)
    try:
        result = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
