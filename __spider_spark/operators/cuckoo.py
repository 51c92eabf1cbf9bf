"""URL-seen cuckoo filter: the deletable alternative to the Bloom router.

The north-star design names a "partitioned Bloom/cuckoo URL-seen filter";
`operators/seen.py` implements the Bloom half. This module adds the cuckoo
half (Fan et al. 2014, "Cuckoo Filter: Practically Better Than Bloom")
with the SAME routing contract — rows the filter rejects are *definitely
unseen* and skip the anti-join shuffle; "maybe seen" rows still go through
the exact anti-join — plus the one capability Bloom structurally lacks:
**deletion**. Deleting a key makes it route as unseen again without
rebuilding the filter from the seen table, which is what a refresh
(re-crawl) policy needs at 10^10 URLs: unseeing a day's worth of stale
pages is a bounded filter edit, not a full-table bitmap rebuild.

Layout: buckets of 4 × uint16 fingerprints; key → fingerprint f and two
candidate buckets i1 = h(key), i2 = i1 XOR h(f) (partial-key cuckoo
hashing — the alternate bucket is computable from (bucket, f) alone, so
executor-built partition tables can be merged slot-by-slot without the
original keys). Inserts are vectorized multi-pass numpy (one key per
bucket per pass); the rare leftovers take the classic kick loop with a
DETERMINISTIC eviction slot (fp & 3 — no RNG anywhere, repo discipline).
A kick chain that exceeds max_kicks parks its orphan (bucket, f) pair in
a driver-side overflow set, so the no-false-negative contract holds even
past the ~0.95 load factor where a textbook cuckoo filter starts failing
inserts.

Reference analogue: the durable Redis URL-seen set
(/root/reference/YlTwistPipeline.py:66-89) — membership + SREM-style
deletes; this is the broadcastable sketch form of the same contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

_FP_MULT = np.uint64(0x9E3779B97F4A7C15)   # 64-bit golden ratio
_IDX_MULT = np.uint64(0xC2B2AE3D27D4EB4F)  # xxhash64 prime 2
_ALT_MULT = 0x5BD1E995                     # MurmurHash2 magic


class CuckooFilter:
    """Vectorized numpy cuckoo filter over int64 keys (4-slot buckets,
    16-bit fingerprints, FPR ≈ 8/2^16 ≈ 0.012%)."""

    def __init__(self, n_buckets: int,
                 buckets: np.ndarray | None = None,
                 overflow=None):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be 2^k"
        self.nb = n_buckets
        self.buckets = (buckets if buckets is not None
                        else np.zeros((n_buckets, 4), dtype=np.uint16))
        # orphaned (bucket, fingerprint) pairs from failed kick chains —
        # membership falls back here, so inserts NEVER lose a key. A
        # MULTISET (pair -> count), not a set (ADVICE r6): two distinct
        # keys can orphan to the same (bucket, fp) pair, and collapsing
        # them would let one later delete discard both copies — turning
        # the surviving key into a false negative and breaking the
        # "reject = definitely unseen" routing contract.
        self.overflow: dict[tuple[int, int], int] = {}
        if overflow:
            items = overflow.items() if isinstance(overflow, dict) \
                else ((pair, 1) for pair in overflow)
            for pair, n in items:
                p = (int(pair[0]), int(pair[1]))
                self.overflow[p] = self.overflow.get(p, 0) + int(n)

    @classmethod
    def sized(cls, n_keys: int) -> "CuckooFilter":
        """Size for ~0.84 load (the classic 4-slot high-water mark with
        headroom before kick chains get long)."""
        n_keys = max(n_keys, 1)
        nb = 1
        while nb * 4 * 0.84 < n_keys:
            nb <<= 1
        return cls(max(nb, 8))

    # -- hashing ---------------------------------------------------------
    def _parts(self, keys: np.ndarray):
        u = keys.astype(np.int64).view(np.uint64)
        f = ((u * _FP_MULT) >> np.uint64(48)).astype(np.uint16)
        f = np.where(f == 0, np.uint16(1), f)  # 0 marks an empty slot
        i1 = (((u * _IDX_MULT) >> np.uint64(32)).astype(np.int64)
              & (self.nb - 1))
        i2 = self._alt(i1, f)
        return f, i1, i2

    def _alt(self, i, f):
        return (i ^ (f.astype(np.int64) * _ALT_MULT)) & (self.nb - 1)

    # -- ops --------------------------------------------------------------
    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        f, i1, i2 = self._parts(np.asarray(keys))
        pending = np.arange(len(f))
        progress = True
        while len(pending) and progress:
            progress = False
            for alt in (i1, i2):
                if not len(pending):
                    break
                b = alt[pending]
                # one key per bucket per pass: np.unique picks the first
                uniq, first = np.unique(b, return_index=True)
                slots = self.buckets[uniq]
                has_free = (slots == 0).any(axis=1)
                if not has_free.any():
                    continue
                tgt = uniq[has_free]
                slot = (self.buckets[tgt] == 0).argmax(axis=1)
                sel = first[has_free]
                self.buckets[tgt, slot] = f[pending[sel]]
                keep = np.ones(len(pending), dtype=bool)
                keep[sel] = False
                pending = pending[keep]
                progress = True
        for idx in pending:  # rare past ~0.84 load: classic kick chains
            self._insert_kick(int(i1[idx]), int(f[idx]))

    def _insert_kick(self, i: int, fp: int, max_kicks: int = 500) -> None:
        for _ in range(max_kicks):
            row = self.buckets[i]
            z = np.nonzero(row == 0)[0]
            if len(z):
                row[z[0]] = fp
                return
            s = fp & 3  # deterministic eviction slot — no RNG
            fp, row[s] = int(row[s]), fp
            i = (i ^ (fp * _ALT_MULT)) & (self.nb - 1)
        self.overflow[(i, fp)] = self.overflow.get((i, fp), 0) + 1

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        f, i1, i2 = self._parts(np.asarray(keys))
        out = ((self.buckets[i1] == f[:, None]).any(axis=1)
               | (self.buckets[i2] == f[:, None]).any(axis=1))
        if self.overflow:
            for j in np.nonzero(~out)[0]:
                if ((int(i1[j]), int(f[j])) in self.overflow
                        or (int(i2[j]), int(f[j])) in self.overflow):
                    out[j] = True
        return out

    def delete_many(self, keys: np.ndarray) -> int:
        """Remove ONE stored copy per key (standard cuckoo-filter delete
        semantics — only delete keys that were inserted). Returns how many
        keys had a copy removed. Per-key loop: deletes are the rare,
        bounded operation (a refresh wave), not the hot path."""
        if len(keys) == 0:
            return 0
        f, i1, i2 = self._parts(np.asarray(keys))
        removed = 0
        for j in range(len(f)):
            fp = int(f[j])
            done = False
            for i in (int(i1[j]), int(i2[j])):
                row = self.buckets[i]
                hit = np.nonzero(row == fp)[0]
                if len(hit):
                    row[hit[0]] = 0
                    done = True
                    break
                n_over = self.overflow.get((i, fp), 0)
                if n_over:
                    # remove ONE copy; other keys orphaned to the same
                    # pair keep theirs (no-false-negative contract)
                    if n_over > 1:
                        self.overflow[(i, fp)] = n_over - 1
                    else:
                        del self.overflow[(i, fp)]
                    done = True
                    break
            removed += done
        return removed

    def merge_pairs(self, buckets: np.ndarray, overflow) -> None:
        """Fold another table's occupied (bucket, fingerprint) slots into
        this filter — the alternate bucket is i ^ h(f), so no keys are
        needed (partial-key hashing). ``overflow`` is a pair->count
        multiset (or an iterable of pairs, each counted once)."""
        assert buckets.shape == self.buckets.shape
        rows, cols = np.nonzero(buckets)
        for i, s in zip(rows, cols):
            self._insert_kick(int(i), int(buckets[i, s]))
        items = overflow.items() if isinstance(overflow, dict) \
            else ((pair, 1) for pair in overflow)
        for (i, fp), n in items:
            for _ in range(int(n)):
                self._insert_kick(int(i), int(fp))

    def tobytes(self) -> bytes:
        return self.buckets.tobytes()

    def overflow_triples(self) -> tuple[tuple[int, int, int], ...]:
        """Serializable (bucket, fp, count) view of the overflow
        multiset (sorted — deterministic payloads)."""
        return tuple((i, fp, n)
                     for (i, fp), n in sorted(self.overflow.items()))


def _overflow_multiset(entries) -> dict[tuple[int, int], int]:
    """Rebuild the pair->count multiset from serialized entries:
    (bucket, fp, count) triples, or legacy (bucket, fp) pairs = count 1."""
    out: dict[tuple[int, int], int] = {}
    for e in entries or ():
        e = tuple(int(x) for x in e)
        pair, n = (e[:2], e[2]) if len(e) == 3 else (e, 1)
        out[pair] = out.get(pair, 0) + n
    return out


def build_partitioned_cuckoo(
    seen: DataFrame,
    n_parts: int = 16,
    buckets_per_part: int = 1 << 13,
    key_col: str = "url_hash",
) -> dict[int, tuple[bytes, tuple]]:
    """Distributed build: one cuckoo table per pmod(key, P) partition,
    built executor-side via applyInPandas (the cuckoo analogue of
    seen.build_partitioned_bloom — same partition routing, same
    driver-payload bound: P × 64 KiB tables + tiny overflow lists)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cf = CuckooFilter(buckets_per_part)
        cf.add_many(pdf[key_col].to_numpy(dtype=np.int64))
        part = int(pdf["__part"].iloc[0])
        over = ";".join(f"{i},{fp},{n}"
                        for (i, fp, n) in cf.overflow_triples())
        return pd.DataFrame({"part": [part], "buckets": [cf.tobytes()],
                             "overflow": [over]})

    rows = (
        seen.select(key_col)
        .withColumn("__part", F.pmod(F.col(key_col), F.lit(n_parts)))
        .groupBy("__part")
        .applyInPandas(build, schema="part int, buckets binary, "
                                     "overflow string")
        .collect()
    )
    out = {}
    for r in rows:
        over = tuple(tuple(int(x) for x in kv.split(","))
                     for kv in r["overflow"].split(";") if kv)
        out[r["part"]] = (bytes(r["buckets"]), over)
    return out


class SeenCuckoo:
    """Driver-maintained partitioned cuckoo filter over the seen-set —
    drop-in for seen.SeenBloom (same update/merge_raw/rebuild/udf/
    delta_raw surface, used behind CrawlConfig.seen_filter="cuckoo"),
    plus ``delete(keys)``: unsee URLs without a rebuild (the refresh-
    crawl edit Bloom can't do)."""

    def __init__(self, n_parts: int = 16, buckets_per_part: int = 1 << 13):
        self.n_parts = n_parts
        self.buckets_per_part = buckets_per_part
        self.parts: dict[int, CuckooFilter] = {}
        self.n_keys = 0

    def _route(self, keys) -> dict[int, np.ndarray]:
        arr = np.asarray(list(keys), dtype=np.int64)
        if len(arr) == 0:
            return {}
        part = np.mod(arr, self.n_parts)
        part = np.where(part < 0, part + self.n_parts, part)
        return {int(p): arr[part == p] for p in np.unique(part)}

    def update(self, keys) -> None:
        for p, arr in self._route(keys).items():
            cf = self.parts.setdefault(
                p, CuckooFilter(self.buckets_per_part))
            cf.add_many(arr)
            self.n_keys += len(arr)
            self._check_load(p, cf)

    def _check_load(self, p: int, cf: CuckooFilter) -> None:
        """ADVICE r6: the fixed-size tables degrade SILENTLY past ~0.9
        load (every further insert lands in the driver-side python
        overflow and miss checks fall off the vectorized path). Make the
        cliff loud once per partition; the operator keeps working —
        correctness never depends on the table, only routing speed."""
        if getattr(self, "_load_warned", None) is None:
            self._load_warned: set[int] = set()
        if p in self._load_warned:
            return
        occupied = int((cf.buckets != 0).sum()) + sum(cf.overflow.values())
        if occupied > 0.9 * cf.nb * 4:
            self._load_warned.add(p)
            import warnings
            warnings.warn(
                f"SeenCuckoo partition {p} at load "
                f"{occupied / (cf.nb * 4):.2f} (> 0.9): inserts will "
                f"spill to the python overflow path — rebuild with more "
                f"buckets_per_part", RuntimeWarning, stacklevel=2)

    def delete(self, keys) -> int:
        removed = 0
        for p, arr in self._route(keys).items():
            cf = self.parts.get(p)
            if cf is not None:
                removed += cf.delete_many(arr)
        self.n_keys -= removed
        return removed

    def delta_raw(self, newly_seen: DataFrame) -> dict:
        return build_partitioned_cuckoo(
            newly_seen, self.n_parts, self.buckets_per_part)

    def merge_raw(self, raw: dict, n_new: int) -> None:
        for p, (bts, over) in raw.items():
            tbl = np.frombuffer(bts, dtype=np.uint16).reshape(-1, 4)
            cur = self.parts.setdefault(
                p, CuckooFilter(self.buckets_per_part))
            cur.merge_pairs(tbl, _overflow_multiset(over))
            self._check_load(p, cur)
        self.n_keys += n_new

    def rebuild(self, seen: DataFrame, key_col: str = "url_hash") -> None:
        raw = build_partitioned_cuckoo(
            seen, self.n_parts, self.buckets_per_part, key_col)
        self.parts = {
            p: CuckooFilter(
                self.buckets_per_part,
                np.frombuffer(bts, dtype=np.uint16).reshape(-1, 4).copy(),
                _overflow_multiset(over))
            for p, (bts, over) in raw.items()
        }
        for p, cf in self.parts.items():
            self._check_load(p, cf)
        self.n_keys = seen.count()

    def udf(self, spark: SparkSession):
        payload = {p: (cf.tobytes(), cf.overflow_triples())
                   for p, cf in self.parts.items()}
        n_parts, bpp = self.n_parts, self.buckets_per_part
        bc = spark.sparkContext.broadcast(payload)

        @pandas_udf(BooleanType())
        def maybe_seen(keys: pd.Series) -> pd.Series:
            local = {
                p: CuckooFilter(
                    bpp,
                    np.frombuffer(bts, dtype=np.uint16).reshape(-1, 4),
                    _overflow_multiset(over))
                for p, (bts, over) in bc.value.items()
            }
            arr = keys.to_numpy(dtype=np.int64)
            part = np.mod(arr, n_parts)
            part = np.where(part < 0, part + n_parts, part)
            out = np.zeros(len(arr), dtype=bool)
            for p in np.unique(part):
                cf = local.get(int(p))
                if cf is None:
                    continue
                idx = part == p
                out[idx] = cf.contains_many(arr[idx])
            return pd.Series(out)

        return maybe_seen
