"""URL-seen cuckoo filter: the deletable alternative to the Bloom sketch.

The north-star design names a "partitioned Bloom/cuckoo URL-seen filter".
:class:`SeenCuckoo` is a subclass of the shared core,
``operators.seen.PartitionedSketch``, with the SAME routing contract as
``SeenBloom`` — rows the filter rejects are *definitely unseen* and skip
the anti-join shuffle; "maybe seen" rows still go through the exact
anti-join — plus the one capability Bloom structurally lacks: **deletion**
(Fan et al. 2014, "Cuckoo Filter: Practically Better Than Bloom").
Deleting a key makes it route as unseen again without rebuilding the
filter from the seen table, which is what a refresh (re-crawl) policy
needs at 10^10 URLs: unseeing a day's worth of stale pages is a bounded
filter edit, not a full-table rebuild.

Layout: buckets of 4 × uint16 fingerprints; key → fingerprint f and two
candidate buckets i1 = h(key), i2 = i1 XOR h(f) (partial-key cuckoo
hashing — the alternate bucket is computable from (bucket, f) alone, so
executor-built partition tables fold into the driver's slot by slot
without the original keys). Inserts and folds share one vectorized
multi-pass numpy insert over (bucket, f) pairs (one pair per bucket per
pass); the rare leftovers take the classic kick loop
with a DETERMINISTIC eviction slot (fp & 3 — no RNG anywhere, repo
discipline). A kick chain that exceeds max_kicks parks its orphan
(bucket, f) pair in an overflow multiset, so the no-false-negative
contract holds even past the ~0.95 load factor where a textbook cuckoo
filter starts failing inserts. The serialized form is the bucket table
followed by the overflow as sorted int64 (bucket, f, count) triples.

Reference analogue: the durable Redis URL-seen set
(/root/reference/YlTwistPipeline.py:66-89) — membership + SREM-style
deletes; this is the broadcastable sketch form of the same contract.
"""

from __future__ import annotations

import functools
import warnings

import numpy as np

from .seen import PartitionedSketch

_FP_MULT = np.uint64(0x9E3779B97F4A7C15)   # 64-bit golden ratio
_IDX_MULT = np.uint64(0xC2B2AE3D27D4EB4F)  # xxhash64 prime 2
_ALT_MULT = 0x5BD1E995                     # MurmurHash2 magic


class CuckooFilter:
    """Vectorized numpy cuckoo filter over int64 keys (4-slot buckets,
    16-bit fingerprints, FPR ≈ 8/2^16 ≈ 0.012%)."""

    def __init__(self, n_buckets: int,
                 buckets: np.ndarray | None = None,
                 overflow: dict[tuple[int, int], int] | None = None):
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
        self.overflow: dict[tuple[int, int], int] = dict(overflow or {})

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
        if len(keys):
            f, i1, _ = self._parts(np.asarray(keys))
            self._insert(f, i1)

    def _insert(self, f: np.ndarray, i1: np.ndarray) -> None:
        """Insert (fingerprint, bucket) pairs; each pair may land in i1 or
        its alternate bucket."""
        i2 = self._alt(i1, f)
        pending = np.arange(len(f))
        progress = True
        while len(pending) and progress:
            progress = False
            for alt in (i1, i2):
                if not len(pending):
                    break
                b = alt[pending]
                # one pair per bucket per pass: np.unique picks the first
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
            # misses meet the overflow pairs as int64 (bucket << 16) | fp
            # keys in numpy, never as per-key dict lookups
            over = np.array([(i << 16) | fp for i, fp in self.overflow],
                            dtype=np.int64)
            miss = np.nonzero(~out)[0]
            fm = f[miss].astype(np.int64)
            out[miss] = (np.isin((i1[miss] << 16) | fm, over)
                         | np.isin((i2[miss] << 16) | fm, over))
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

    def merge_pairs(self, buckets: np.ndarray,
                    overflow: dict[tuple[int, int], int]) -> None:
        """Fold another table's occupied (bucket, fingerprint) slots and its
        pair->count overflow multiset into this filter — the alternate
        bucket is i ^ h(f), so no keys are needed (partial-key hashing)."""
        assert buckets.shape == self.buckets.shape
        rows, cols = np.nonzero(buckets)
        over = np.array([(i, fp, n) for (i, fp), n in overflow.items()],
                        dtype=np.int64).reshape(-1, 3)
        self._insert(
            np.concatenate([buckets[rows, cols],
                            np.repeat(over[:, 1], over[:, 2])
                            .astype(np.uint16)]),
            np.concatenate([rows, np.repeat(over[:, 0], over[:, 2])]))

    def tobytes(self) -> bytes:
        """The bucket table, then the overflow multiset as sorted int64
        (bucket, fp, count) triples (deterministic payloads)."""
        over = np.array([(i, fp, n) for (i, fp), n in
                         sorted(self.overflow.items())], dtype=np.int64)
        return self.buckets.tobytes() + over.tobytes()

    @classmethod
    def frombytes(cls, n_buckets: int, raw) -> "CuckooFilter":
        """Inverse of :meth:`tobytes`; the bucket table is a zero-copy view
        (writable only when ``raw`` is)."""
        table = np.frombuffer(raw, dtype=np.uint16, count=n_buckets * 4)
        over = np.frombuffer(raw, dtype=np.int64, offset=table.nbytes)
        return cls(n_buckets, table.reshape(-1, 4),
                   {(int(i), int(fp)): int(n)
                    for i, fp, n in over.reshape(-1, 3)})


class SeenCuckoo(PartitionedSketch):
    """Partitioned cuckoo filter over the seen-set (used behind
    CrawlConfig.seen_filter="cuckoo"), plus ``delete(keys)``: unsee URLs
    without a rebuild (the refresh-crawl edit Bloom can't do)."""

    def __init__(self, n_parts: int = 16, buckets_per_part: int = 1 << 13):
        super().__init__(
            n_parts,
            functools.partial(CuckooFilter, buckets_per_part),
            functools.partial(CuckooFilter.frombytes, buckets_per_part))
        self._load_warned: set[int] = set()

    def _fold(self, cur: CuckooFilter, delta: CuckooFilter) -> CuckooFilter:
        cur.merge_pairs(delta.buckets, delta.overflow)
        return cur

    def _inserted(self, p: int, cf: CuckooFilter) -> None:
        """ADVICE r6: the fixed-size tables degrade SILENTLY past ~0.9
        load (every further insert runs a Python kick chain and lands in
        the overflow, and false-positive routing grows with it). Make the
        cliff loud once per partition; the operator keeps working —
        correctness never depends on the table, only routing speed."""
        if p in self._load_warned:
            return
        occupied = int((cf.buckets != 0).sum()) + sum(cf.overflow.values())
        if occupied > 0.9 * cf.nb * 4:
            self._load_warned.add(p)
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
