"""URL-seen set: partitioned sketch pre-filter + anti-join ground truth.

Reference analogue: Scrapy's RFPDupeFilter is *disabled* on every request
(``dont_filter=True``, /root/reference/spiders/ctripSpider.py:225,
ylSpider06.py:278) and the durable seen-record is a Redis set sink
(YlTwistPipeline.py:66-89; membership helpers redisUtil.py:74-112). At
10^10-URL scale a driver-side set is impossible; the engine uses:

  candidates LEFT ANTI JOIN seen ON url_hash          -- exact, distributed

with a **partitioned sketch** broadcast to executors as a cheap pre-filter:
rows whose key the sketch rejects are *definitely unseen* and skip the
join's shuffle; only "maybe seen" rows (true positives + FPR) enter the
anti-join. No false negatives by construction (property-tested).

:class:`PartitionedSketch` is the one core both seen filters share. One
monolithic sketch does not fit a broadcast at 10^10 URLs (SURVEY.md §7
hard part (c)), so keys are routed by ``pmod(url_hash, P)``: the driver
routes with ``np.mod`` (non-negative for P > 0, like Spark's ``pmod``),
executors build one sketch per partition in a single ``applyInPandas``
pass, the driver adopts or folds each partition, and one routing
``pandas_udf`` decodes only the partitions a batch touches. Sketches are
derived state: REBUILT from the ``seen`` table on restart, never
checkpointed. A sketch type plugs in with an empty-filter factory, a
``frombytes`` decoder, a fold and, optionally, an after-insert hook —
:class:`SeenBloom` below and ``operators.cuckoo.SeenCuckoo``.

Bloom math: m bits for n keys at target FPR p -> m = -n ln p / (ln 2)^2,
k = m/n ln 2 hash probes, double-hashing g_i = h1 + i*h2 from the single
xxhash64 key (Kirsch-Mitzenmacher), so no re-hashing of strings.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType


class Bloom:
    """Vectorized numpy Bloom filter over int64 keys (viewed as uint64)."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        assert n_bits % 64 == 0
        self.m = n_bits
        self.k = n_hashes
        self.words = bits if bits is not None else np.zeros(n_bits // 64, dtype=np.uint64)

    @classmethod
    def sized(cls, n_keys: int, fpr: float = 0.01) -> "Bloom":
        n_keys = max(n_keys, 1)
        m = int(-n_keys * math.log(fpr) / (math.log(2) ** 2))
        m = max(64, ((m + 63) // 64) * 64)
        k = max(1, round(m / n_keys * math.log(2)))
        return cls(m, min(k, 16))

    @classmethod
    def frombytes(cls, n_bits: int, n_hashes: int, raw) -> "Bloom":
        """Zero-copy view of :meth:`tobytes` output (writable only when
        ``raw`` is)."""
        return cls(n_bits, n_hashes, np.frombuffer(raw, dtype=np.uint64))

    def tobytes(self) -> bytes:
        return self.words.tobytes()

    def _probe(self, keys: np.ndarray) -> list[np.ndarray]:
        u = keys.astype(np.int64).view(np.uint64)
        h1 = u % np.uint64(self.m)
        h2 = ((u >> np.uint64(33)) | np.uint64(1)) % np.uint64(self.m)
        return [(h1 + np.uint64(i) * h2) % np.uint64(self.m) for i in range(self.k)]

    def add_many(self, keys: np.ndarray) -> None:
        for g in self._probe(keys):
            np.bitwise_or.at(
                self.words, (g >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (g & np.uint64(63)),
            )

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        out = np.ones(len(keys), dtype=bool)
        for g in self._probe(keys):
            w = self.words[(g >> np.uint64(6)).astype(np.int64)]
            out &= (w >> (g & np.uint64(63))) & np.uint64(1) != 0
        return out

    def merge(self, other: "Bloom") -> "Bloom":
        assert self.m == other.m and self.k == other.k
        return Bloom(self.m, self.k, self.words | other.words)


class PartitionedSketch:
    """Driver-maintained sketch over the seen-set, one per pmod(key, P)
    partition.

    Incremental: each round's newly-seen keys (budget-bounded, already on
    the driver for metrics) go through :meth:`update` without touching the
    cluster; a big wave goes through :meth:`delta_raw` + :meth:`merge_raw`;
    on restart :meth:`rebuild` builds it from the seen table.

    Subclasses pass ``empty`` (no-argument factory of an empty sketch) and
    ``decode`` (``bytes -> sketch``), both picklable — executors receive
    them, never ``self`` — and implement :meth:`_fold`. A sketch has
    ``add_many``, ``contains_many`` and ``tobytes``."""

    def __init__(self, n_parts: int, empty, decode):
        self.n_parts = n_parts
        self._empty = empty
        self._decode = decode
        self.parts: dict = {}
        self.n_keys = 0

    def _fold(self, cur, delta):
        """Return ``cur`` with every key of ``delta`` in it."""
        raise NotImplementedError

    def _inserted(self, p: int, sketch) -> None:
        """Hook run after keys went into partition ``p``."""

    def _route(self, keys) -> dict[int, np.ndarray]:
        arr = np.asarray(keys, dtype=np.int64)
        part = np.mod(arr, self.n_parts)
        return {int(p): arr[part == p] for p in np.unique(part)}

    def update(self, keys) -> None:
        for p, arr in self._route(keys).items():
            sketch = self.parts.setdefault(p, self._empty())
            sketch.add_many(arr)
            self.n_keys += len(arr)
            self._inserted(p, sketch)

    def delta_raw(self, newly_seen: DataFrame,
                  key_col: str = "url_hash") -> dict[int, tuple[int, bytes]]:
        """Executor-built sketches of ``newly_seen``'s keys, one per
        partition, returned as {part: (n_keys, payload bytes)} — at 10^10
        scale these live in the lakehouse per partition; here they come
        back to the driver (P × one sketch, e.g. 16 × 128 KiB)."""
        empty = self._empty

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            sketch = empty()
            sketch.add_many(keys)
            return pd.DataFrame({"part": [int(pdf["__part"].iloc[0])],
                                 "n": [len(keys)],
                                 "payload": [sketch.tobytes()]})

        rows = (
            newly_seen.select(key_col)
            .withColumn("__part", F.pmod(F.col(key_col), F.lit(self.n_parts)))
            .groupBy("__part")
            .applyInPandas(build, schema="part int, n long, payload binary")
            .collect()
        )
        return {r["part"]: (r["n"], bytes(r["payload"])) for r in rows}

    def merge_raw(self, raw: dict[int, tuple[int, bytes]], n_new: int) -> None:
        """Adopt each delta partition the driver lacks, fold the others."""
        for p, (_, payload) in raw.items():
            delta = self._decode(bytearray(payload))  # writable copy
            cur = self.parts.get(p)
            self.parts[p] = delta if cur is None else self._fold(cur, delta)
            self._inserted(p, self.parts[p])
        self.n_keys += n_new

    def rebuild(self, seen: DataFrame, key_col: str = "url_hash") -> None:
        raw = self.delta_raw(seen, key_col)
        self.parts = {}
        self.n_keys = 0
        self.merge_raw(raw, sum(n for n, _ in raw.values()))

    def udf(self, spark: SparkSession):
        """Arrow-batched predicate: True = maybe seen (must go to the
        anti-join), False = definitely unseen (skips the join)."""
        bc = spark.sparkContext.broadcast(
            {p: s.tobytes() for p, s in self.parts.items()})
        n_parts, decode = self.n_parts, self._decode

        @pandas_udf(BooleanType())
        def maybe_seen(keys: pd.Series) -> pd.Series:
            arr = keys.to_numpy(dtype=np.int64)
            part = np.mod(arr, n_parts)
            out = np.zeros(len(arr), dtype=bool)
            payloads = bc.value
            for p in np.unique(part):
                raw = payloads.get(int(p))
                if raw is not None:
                    idx = part == p
                    out[idx] = decode(raw).contains_many(arr[idx])
            return pd.Series(out)

        return maybe_seen


class SeenBloom(PartitionedSketch):
    """Partitioned Bloom filter over the seen-set; partitions fold by
    bitwise OR, so merge order is irrelevant."""

    def __init__(self, n_parts: int = 16, bits_per_part: int = 1 << 20,
                 n_hashes: int = 7):
        super().__init__(
            n_parts,
            functools.partial(Bloom, bits_per_part, n_hashes),
            functools.partial(Bloom.frombytes, bits_per_part, n_hashes))

    def _fold(self, cur: Bloom, delta: Bloom) -> Bloom:
        return cur.merge(delta)


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame | None,
    bloom_udf=None,
    key_col: str = "url_hash",
) -> DataFrame:
    """candidates ∖ seen. Exactness comes from the anti-join; the sketch
    routes definitely-unseen rows around it (SURVEY.md §2.3 J6)."""
    if seen is None:
        return candidates
    if bloom_udf is None:
        return candidates.join(seen.select(key_col), key_col, "left_anti")
    flagged = candidates.withColumn("__maybe", bloom_udf(F.col(key_col)))
    sure_new = flagged.filter(~F.col("__maybe")).drop("__maybe")
    maybe = flagged.filter(F.col("__maybe")).drop("__maybe")
    return sure_new.unionByName(
        maybe.join(seen.select(key_col), key_col, "left_anti")
    )
