"""Snapshot lakehouse: atomic multi-table commits over parquet.

The north_rule asks for Iceberg tables; this sandbox ships no Iceberg runtime
jar (pip/apt installs are disallowed), so this module re-implements the two
Iceberg properties the crawl engine actually depends on, with the same
mental model (snapshot = manifest of immutable data files):

1. **Atomic multi-table commit** — one crawl round appends/replaces several
   tables (``frontier``, ``seen``, ``results``, ``metrics``) and either ALL
   of them advance or NONE (reference analogue: the CSV + ``LOAD DATA`` +
   row-count-loss-audit batch at /root/reference/YlTwistPipeline.py:153-176,
   which is *not* atomic — its loss check exists because it isn't).
2. **Snapshot isolation / time travel** — readers see the last committed
   manifest; a crashed round leaves orphan data dirs that no manifest
   references, so restart resumes from the previous snapshot unchanged
   (restart equivalence, SURVEY.md §7 milestone 5).

Layout::

    root/
      _manifests/v000001.json   # {"round": k, "tables": {name: [data dirs]}}
      _manifests/LATEST         # text file: "v000001" (os.replace = atomic)
      <table>/<uuid>/part-*.parquet

On a real cluster swap this class for an Iceberg catalog: ``commit`` becomes
a single multi-table transaction (or one table with a ``round`` column +
WAP pattern), ``read`` becomes ``spark.read.table``; the engine code in
plans/crawl.py only touches this interface.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class StagedFragment:
    """A data dir already written under the lakehouse root, to be published
    by a later :meth:`Lakehouse.commit` without rewriting.

    ``cols``: optional manifest-level column projection — readers of the
    table see only these columns, in this order, even though the physical
    parquet carries more. This is how the crawl round publishes its wave
    artifact (written ONCE with text + links + error payloads) as the
    narrow ``results`` table: the Iceberg analogue is committing data files
    whose schema is a superset of the table schema (column-id projection).
    Eliminates a second full pass over the page text per round."""

    path: str                      # relative to the lakehouse root
    cols: tuple[str, ...] | None = None

    def manifest_entry(self) -> object:
        if self.cols is None:
            return self.path
        return {"dir": self.path, "cols": list(self.cols)}


class Lakehouse:
    def __init__(self, root: str | os.PathLike[str]) -> None:
        self.root = Path(root)
        (self.root / "_manifests").mkdir(parents=True, exist_ok=True)

    # -- snapshot plumbing ------------------------------------------------
    def _latest_version(self) -> int:
        p = self.root / "_manifests" / "LATEST"
        if not p.exists():
            return 0
        return int(p.read_text().strip().lstrip("v"))

    def _manifest_path(self, version: int) -> Path:
        return self.root / "_manifests" / f"v{version:06d}.json"

    def snapshot(self, version: int | None = None) -> dict:
        """Manifest at ``version`` (Iceberg ``VERSION AS OF``); latest when
        None. Manifests are immutable, so historical reads are exact."""
        v = self._latest_version() if version is None else version
        if v == 0:
            return {"round": -1, "tables": {}}
        p = self._manifest_path(v)
        if not p.exists():
            avail = self.versions()
            rng = f"{avail[0]}..{avail[-1]}" if avail else "none committed"
            raise ValueError(
                f"snapshot version {v} does not exist (available: {rng})")
        return json.loads(p.read_text())

    def versions(self) -> list[int]:
        """All committed snapshot versions, ascending. A manifest newer
        than ``LATEST`` was never published (a crash between writing it
        and replacing ``LATEST``) and is not a version."""
        latest = self._latest_version()
        return sorted(
            v for p in (self.root / "_manifests").glob("v*.json")
            if (v := int(p.stem.lstrip("v"))) <= latest
        )

    def latest_round(self) -> int:
        return int(self.snapshot()["round"])

    # -- IO ----------------------------------------------------------------
    def _write_data(self, df, table: str) -> str:
        """Write one data dir. Accepts a Spark DataFrame (distributed write)
        or a pyarrow Table (tiny driver-side payloads like per-round metrics
        — no Spark job for a 1-row table)."""
        d = self.root / table / uuid.uuid4().hex
        if isinstance(df, pa.Table):
            d.mkdir(parents=True, exist_ok=True)
            pq.write_table(df, d / "part-00000.parquet")
        else:
            df.write.mode("overwrite").parquet(str(d))
        return str(d.relative_to(self.root))

    def stage(self, df, table: str) -> StagedFragment:
        """Write a data dir NOW (distributed job) for a later commit —
        returns a :class:`StagedFragment` to pass as an append/replace
        value. A crash before that commit leaves an orphan dir no manifest
        references (same crash story as a mid-commit write); clean it with
        :meth:`discard_staged` on aborted rounds."""
        return StagedFragment(self._write_data(df, table))

    def read_fragment(self, spark: SparkSession,
                      frag: StagedFragment) -> DataFrame:
        df = spark.read.parquet(str(self.root / frag.path))
        if frag.cols is not None:
            df = df.select(*frag.cols)
        return df

    def discard_staged(self, frag: StagedFragment) -> None:
        shutil.rmtree(self.root / frag.path, ignore_errors=True)

    def commit(
        self,
        round_id: int,
        append: dict[str, DataFrame] | None = None,
        replace: dict[str, DataFrame] | None = None,
        props: dict | None = None,
    ) -> None:
        """Atomically advance all tables: write data dirs first (in parallel
        — Spark schedules concurrent jobs from separate driver threads, so
        independent table writes overlap), then create the next manifest
        exclusively and publish it via atomic rename of ``LATEST``. A crash
        before the final ``os.replace`` leaves the previous snapshot
        intact; a writer whose manifest version is already taken raises
        ``FileExistsError`` and publishes nothing."""
        snap = self.snapshot()
        tables: dict[str, list] = {
            k: list(v) for k, v in snap["tables"].items()
        }
        staged = [(name, df, mode)
                  for src, mode in ((replace, "replace"), (append, "append"))
                  for name, df in (src or {}).items()
                  if isinstance(df, StagedFragment)]
        jobs = [(name, df, mode)
                for src, mode in ((replace, "replace"), (append, "append"))
                for name, df in (src or {}).items()
                if not isinstance(df, StagedFragment)]
        # 2 concurrent write jobs overlap the small-table writes
        # (errors/metrics/details) under the big ones; more oversubscribe
        # the python workers (measured 91s vs 65s at local[32])
        with ThreadPoolExecutor(max_workers=2) as ex:
            paths = list(ex.map(lambda j: self._write_data(j[1], j[0]), jobs))
        entries = list(zip(jobs, paths)) + [
            (j, j[1].manifest_entry()) for j in staged]
        for (name, _, mode), entry in entries:
            if mode == "replace":
                tables[name] = [entry]
            else:
                tables.setdefault(name, []).append(entry)
        v = self._latest_version() + 1
        manifest = {"round": round_id, "tables": tables, "props": props or {}}
        mp = self._manifest_path(v)
        tmp = mp.with_name(f".{mp.name}.{uuid.uuid4().hex}")
        tmp.write_text(json.dumps(manifest, indent=1))
        # single writer: the link creates vN.json exclusively, so a second
        # writer that picked the same N raises FileExistsError instead of
        # silently overwriting the first one's snapshot
        try:
            os.link(tmp, mp)
        finally:
            tmp.unlink()
        latest_tmp = self.root / "_manifests" / f".LATEST.{uuid.uuid4().hex}"
        latest_tmp.write_text(f"v{v:06d}")
        os.replace(latest_tmp, self.root / "_manifests" / "LATEST")

    def read(self, spark: SparkSession, table: str,
             version: int | None = None) -> DataFrame | None:
        """Read a table at a snapshot — latest by default, or time-travel
        to an earlier ``version`` (None if not in that snapshot)."""
        dirs = self.snapshot(version)["tables"].get(table)
        if not dirs:
            return None
        plain = [d for d in dirs if isinstance(d, str)]
        parts = []
        if plain:
            parts.append(
                spark.read.parquet(*[str(self.root / d) for d in plain]))
        # manifest-level column projection (see StagedFragment): the
        # physical fragment carries a superset schema; the table view
        # selects the published columns. Parquet is columnar, so the
        # extra columns cost nothing at read time (column pruning).
        # Fragments sharing a projection read as ONE multi-path scan —
        # a long mor/append history must not become a chain of hundreds
        # of per-fragment unions in the logical plan.
        by_proj: dict[tuple, list[str]] = {}
        for d in dirs:
            if not isinstance(d, str):
                by_proj.setdefault(tuple(d["cols"]), []).append(d["dir"])
        for cols, ds in by_proj.items():
            parts.append(
                spark.read.parquet(*[str(self.root / d) for d in ds])
                .select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _compaction_plan(self, spark: SparkSession,
                         table: str) -> DataFrame | None:
        df = self.read(spark, table)
        if df is None:
            return None
        return df.coalesce(max(1, df.rdd.getNumPartitions() // 8))

    def compact_many(self, spark: SparkSession, tables: list[str]) -> None:
        """Rewrite each table's many append dirs (one per round) into one
        dir, like Iceberg's rewrite_data_files, in ONE atomic commit that
        does not advance the round: readers keep the old snapshot until
        the manifest rename, and a crash can never leave the table set
        asymmetrically rewritten."""
        plans = {t: p for t in tables
                 if (p := self._compaction_plan(spark, t)) is not None}
        if not plans:
            return
        self.commit(self.latest_round(), replace=plans,
                    props={"compacted": ",".join(sorted(plans))})

    @staticmethod
    def _entry_dir(entry) -> str:
        return entry["dir"] if isinstance(entry, dict) else entry

    def expire_snapshots(self, keep_last: int = 1,
                         min_age_seconds: float = 0.0) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        dirs no kept snapshot references (Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` in one pass — without it a year-long crawl
        retains every pre-compaction fragment and every superseded frontier
        forever, so compaction never actually reclaims space).

        Maintenance-only: run it between rounds, from the process that owns
        the crawl — a fragment staged by an IN-FLIGHT round is unreferenced
        by construction until its commit lands, and this pass would reap it
        (Iceberg has the same orphan-scan caveat; ``min_age_seconds`` is
        the belt-and-braces analogue of remove_orphan_files' ``older_than``
        — dirs younger than it are never reaped). Reads of expired versions
        raise the normal missing-snapshot error; kept versions still
        time-travel exactly. Returns {"manifests": n, "data_dirs": n,
        "bytes": n} reclaimed."""
        versions = self.versions()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if not versions:
            # zero committed manifests => keep_dirs would be empty and the
            # sweep would delete EVERY data dir under root, including
            # fragments staged for a first commit (ADVICE r5) — nothing to
            # expire, so do nothing
            return {"manifests": 0, "data_dirs": 0, "bytes": 0}
        kept, expired = versions[-keep_last:], versions[:-keep_last]
        reclaimed = {"manifests": 0,
                     **self._reap_unreferenced(kept, min_age_seconds)}
        for v in expired:
            self._manifest_path(v).unlink(missing_ok=True)
            reclaimed["manifests"] += 1
        return reclaimed

    def remove_orphans(self, min_age_seconds: float = 0.0) -> dict:
        """Delete data dirs referenced by NO manifest of ANY version —
        fragments orphaned by a crash between :meth:`stage` and
        :meth:`commit` (without this, a long crawl leaks one wave-sized
        dir — text + links + err_html payloads — per crash, and restart
        never sweeps it; ADVICE r5). Unlike :meth:`expire_snapshots` this
        keeps every committed snapshot: only never-published dirs go.

        Only safe when no fragment can legitimately be in flight — e.g. at
        crawl resume, before the first ``stage()`` of the new process
        (:func:`plans.crawl.run_crawl` calls it there). Manifests newer
        than ``LATEST`` were never published (a crash between writing one
        and replacing ``LATEST``) and are deleted too, or the exclusive
        create in :meth:`commit` would refuse every later commit. With
        zero committed manifests every data dir is presumed in flight and
        none is touched. Returns {"data_dirs": n, "bytes": n} reclaimed."""
        latest = self._latest_version()
        for p in (self.root / "_manifests").glob("v*.json"):
            if int(p.stem.lstrip("v")) > latest:
                p.unlink()
        versions = self.versions()
        if not versions:
            return {"data_dirs": 0, "bytes": 0}
        return self._reap_unreferenced(versions, min_age_seconds)

    def _reap_unreferenced(self, versions: list[int],
                           min_age_seconds: float) -> dict:
        """Delete every data dir no manifest in ``versions`` references,
        sparing dirs younger than ``min_age_seconds``. Returns
        {"data_dirs": n, "bytes": n} reclaimed."""
        referenced = {
            self._entry_dir(e)
            for v in versions
            for dirs in self.snapshot(v)["tables"].values()
            for e in dirs
        }
        now = time.time()
        reclaimed = {"data_dirs": 0, "bytes": 0}
        for table_dir in self.root.iterdir():
            if table_dir.name == "_manifests" or not table_dir.is_dir():
                continue
            for frag in table_dir.iterdir():
                rel = str(frag.relative_to(self.root))
                if rel in referenced:
                    continue
                if min_age_seconds > 0:
                    try:
                        if now - frag.stat().st_mtime < min_age_seconds:
                            continue
                    except OSError:
                        continue
                reclaimed["bytes"] += sum(
                    f.stat().st_size for f in frag.rglob("*") if f.is_file())
                shutil.rmtree(frag, ignore_errors=True)
                reclaimed["data_dirs"] += 1
        return reclaimed

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
