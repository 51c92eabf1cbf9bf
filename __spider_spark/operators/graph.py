"""Link-graph analytics: PageRank for frontier prioritization, and
connected components (batch and incremental) for duplicate clustering.

The reference's crawl order is static (seed-file order × date,
/root/reference/spiders/ctripSpider.py:136-154). A web-scale frontier
prioritizes by link structure; this operator computes PageRank over the
(src_hash, dst_hash) edge relation the crawl's discovery stage already
produces, as a pure DataFrame iteration (no RDDs, no GraphX):

  rank_{t+1}(v) = (1-d) + d * Σ_{u→v} rank_t(u) / out_deg(u)

Iterative → not ANSI-SQL-expressible → rows-only driver check (contract
allows this); correctness is pinned in pytest against hand-computed ranks
on a small graph.

Scale notes: each iteration is one join (edges ⋈ ranks on src, both
pre-partitioned by the 8-byte hash) + one groupBy(dst) sum. Checkpoint
every ~5 iterations on a real cluster to cut lineage (here n_iter is
small). Dangling nodes keep the (1-d) floor — the standard simplified
formulation.

Connected components have one algorithm, :func:`connected_components_star`;
:func:`delta_connected_components` runs it over a contracted wave-sized
graph to fold new edges into an existing assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,          # (src long, dst long)
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an edge list; returns (node, rank). Deterministic up
    to float-summation order (ranks are rounded to 10 dp each iteration to
    pin parallel-sum noise below any decision boundary)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0)),
                    10,
                ).alias("rank"),
            )
        )
    return ranks


def connected_components_star(
    edges: DataFrame,          # (src long, dst long), treated undirected
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by the large-star/small-star alternation
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): every node ends up labeled with the SMALLEST node id
    reachable from it. Returns (node, component).

    Near-dedup emits PAIRS (a~b, b~c); keeping "min of each pair" can
    retain both a and c, while grouping by component collapses the whole
    duplicate cluster to one representative (its min doc id).

    Converges in O(log²ⁿ) rounds worst-case (≈ 2·log₂ n observed on a
    path graph, pytest-asserted) instead of the O(diameter) rounds of
    min-label propagation. Each round is two groupBy-min + join passes
    over the edge relation, all keyed on the 8-byte node id.

      * large-star: for each node u, every strictly-larger neighbor is
        re-pointed at min(Γ(u) ∪ {u}) — tall trees flatten.
      * small-star: orient edges (max, min); every small neighbor and u
        itself point at the minimum — stars form.

    Termination: the edge set reaches a fixpoint (checked with two
    anti-join counts per round — bounded driver actions, no row data
    collected); at the fixpoint every edge is (node, component-min).
    ``stats["rounds"]`` reports the round count when a dict is passed.
    Raises ``RuntimeError`` when ``max_iter`` rounds end short of the
    fixpoint, instead of returning a partial labeling. Isolated self-loops
    vanish. At the fixpoint the relation equals the one an ANSI recursive
    CTE computes — oracle-checkable (q23)."""
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iter):
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("__mn"))
                .select("u", F.least("__mn", F.col("u")).alias("m")))
        # large-star output (v, m) always has v > u >= m, so it is
        # already (max, min)-oriented for the small-star pass
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        j = large.join(mins2, "u")
        small = (
            j.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(j.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()   # O(1)-deep plan per round
        )
        rounds += 1
        changed = (
            small.join(e, ["u", "v"], "left_anti").count()
            or e.join(small, ["u", "v"], "left_anti").count()
        )
        e = small
        if not changed:
            break
    else:  # every round, the last one included, changed edges
        raise RuntimeError(
            f"connected_components_star: no fixpoint after "
            f"{max_iter} rounds; raise max_iter")
    if stats is not None:
        stats["rounds"] = rounds
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("node"),
                     F.col("v").alias("component")))
        .distinct()
    )


def delta_connected_components(
    assign: DataFrame,         # (node long, component long), min-id labels
    new_edges: DataFrame,      # (src long, dst long), treated undirected
    max_iter: int = 50,
) -> DataFrame:
    """Incremental connected components: fold a wave of NEW edges into an
    existing (node, component) assignment without touching the old edge
    set. The incremental counterpart of :func:`connected_components_star`
    for the crawl-loop dedup shape: each round's delta near-dedup
    (``operators.dedup.delta_near_dedup``) emits wave-sized pair sets,
    and the duplicate clusters should absorb them in O(wave) work, not a
    re-run of CC over every pair ever found.

    Requires the standard invariant both batch operators guarantee:
    ``component`` is the MINIMUM node id in its component. Old components
    then act as contracted super-nodes: each new edge maps its endpoints
    to their current labels (or themselves if unseen), the O(|new_edges|)
    contracted graph runs the log-round star algorithm, and the resulting
    (old label → merged min label) mapping relabels the big assignment
    with ONE join. min-of-mins = global min, so the invariant is
    preserved and the result equals batch CC over (old ∪ new) edges —
    equivalence is oracle-pinned (q57 reuses q23's recursive-CTE SQL)
    and pytest-pinned across random wave splits.

    Scale shape: the star loop never sees the corpus — only distinct
    labels touched by the wave. The corpus-sized ``assign`` is scanned
    once and joined against the wave-sized mapping (AQE broadcasts it);
    no iteration touches corpus-sized data.
    """
    ends = (
        new_edges.select(F.col("src").alias("node"))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # current label of every wave endpoint: its component if known,
    # else itself (a brand-new node is its own singleton component)
    lbl = (
        ends.join(assign, "node", "left")
        .select("node",
                F.coalesce("component", F.col("node")).alias("lbl"))
    )
    contracted = (
        new_edges
        .join(lbl.select(F.col("node").alias("src"),
                         F.col("lbl").alias("__sl")), "src")
        .join(lbl.select(F.col("node").alias("dst"),
                         F.col("lbl").alias("__dl")), "dst")
        .select(F.col("__sl").alias("src"), F.col("__dl").alias("dst"))
        .filter(F.col("src") != F.col("dst"))   # intra-component edge: no-op
    )
    # (old label -> merged min label); labels whose components don't merge
    # are absent (star drops isolated nodes) and keep their id via coalesce
    mapping = connected_components_star(contracted, max_iter).select(
        F.col("node").alias("component"),
        F.col("component").alias("__merged"))
    updated = (
        assign.join(mapping, "component", "left")
        .select("node",
                F.coalesce("__merged", F.col("component"))
                .alias("component"))
    )
    new_rows = (
        lbl.join(assign, "node", "left_anti")
        .join(mapping.withColumnRenamed("component", "lbl"), "lbl", "left")
        .select("node",
                F.coalesce("__merged", F.col("lbl")).alias("component"))
    )
    return updated.unionByName(new_rows)


def reprioritize_frontier(
    frontier: DataFrame, edges: DataFrame,
    n_iter: int = 10, damping: float = 0.85,
    weight: float = 0.5,
) -> DataFrame:
    """Blend link-structure importance into frontier priority:
    priority' = (1-w)*priority + w*rank/max_rank. Unranked URLs keep their
    discovery priority."""
    # materialize the ranks once: the max_rank action below and the blend
    # join would otherwise each re-run the full n_iter PageRank chain
    ranks = pagerank(edges, n_iter, damping).localCheckpoint()
    max_rank = ranks.agg(F.max("rank")).first()[0] or 1.0
    r = ranks.select(F.col("node").alias("url_hash"),
                     (F.col("rank") / F.lit(max_rank)).alias("__nr"))
    return (
        frontier.join(r, "url_hash", "left")
        .withColumn(
            "priority",
            F.when(F.col("__nr").isNotNull(),
                   F.round((1.0 - weight) * F.col("priority")
                           + weight * F.col("__nr"), 10))
            .otherwise(F.col("priority")),
        )
        .drop("__nr")
    )
