"""__spider_spark — a from-scratch PySpark-native crawl-frontier + analytics engine.

Re-expresses the capabilities of the reference crawler (Cjingger/__spider,
surveyed in SURVEY.md) as an idiomatic Spark engine:

- ``functions/``  — vectorized (Arrow/pandas) scalar functions: URL
  canonicalization, hashing, HTML text extraction, language-ID, quality
  scoring, token counting, fingerprinting, vector math.
- ``operators/``  — relational operators: URL-seen anti-join + partitioned
  Bloom filter, politeness budget clipping (one per-host top-k window), dedup
  family (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  search (brute-force + persisted-bucket LSH + k-means IVF ANN), robots
  rules dim, host aliasing, retry/quarantine audit, link-graph PageRank,
  NMS.
- ``sources/``    — page-store generator (Common-Crawl-shaped, deterministic),
  testdata loaders, and a snapshot/atomic-commit lakehouse layer
  (Iceberg-semantics over parquet; swap to a real Iceberg catalog on a
  cluster — no Iceberg runtime jar ships in this sandbox).
- ``plans/``      — the round-based crawl driver (frontier → seen-anti-join →
  politeness → fetch → extract → discover → atomic commit) with retry
  pyramid, error quarantine, keyed second-stage detail fetch,
  per-partition lineage + metrics and restart equivalence. Each round is
  the engine's micro-batch; there is no Structured Streaming path.

Everything is DataFrame + pandas/Arrow UDFs; no per-row Python UDFs, no RDDs,
no custom Catalyst rules (design conclusion of SURVEY.md §4).
"""

__version__ = "0.1.0"
