"""PageRank: pinned against hand-iterated ranks on a small graph."""

from __future__ import annotations

import pytest

from __spider_spark.operators.graph import pagerank, reprioritize_frontier

# graph: 1->2, 1->3, 2->3, 3->1  (classic 3-node cycle with a fork)
EDGES = [(1, 2), (1, 3), (2, 3), (3, 1)]


def _reference_pagerank(edges, n_iter, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += rank[s] / out[s]
        rank = {v: round((1 - d) + d * contrib[v], 10) for v in nodes}
    return rank


def test_pagerank_matches_hand_iteration(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(edges, n_iter=8).collect()}
    want = _reference_pagerank(EDGES, 8)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    # 3 has two in-links incl. the fork -> highest rank
    assert got[3] > got[1] > got[2]


def test_reprioritize_frontier(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    frontier = spark.createDataFrame(
        [(1, 0.5), (2, 0.5), (99, 0.7)],  # 99 not in graph
        "url_hash long, priority double")
    out = {r.url_hash: r.priority
           for r in reprioritize_frontier(frontier, edges, n_iter=8).collect()}
    assert out[99] == 0.7                      # unranked unchanged
    assert out[1] > out[2]                     # rank order respected
    assert 0.0 <= min(out.values()) and max(out.values()) <= 1.0


def test_connected_components_transitive(spark):
    """Pairs a~b, b~c collapse into one component labeled min-id; disjoint
    pairs stay separate; a 21-node path still converges to the single min
    label."""
    from __spider_spark.operators.graph import connected_components_star
    edges = spark.createDataFrame(
        [(2, 3), (3, 1), (1, 2), (10, 11)], "src long, dst long")
    out = {r.node: r.component
           for r in connected_components_star(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20, 40)], "src long, dst long")
    outc = {r.node: r.component
            for r in connected_components_star(chain).collect()}
    assert len(outc) == 21 and set(outc.values()) == {20}


def test_connected_components_star_log_rounds(spark):
    """Large-star/small-star on a 2,000-node PATH — the adversarial-
    diameter case: min-label propagation needs ~2,000 rounds, the
    alternation must finish in <= 2*log2(n) (Kiveris et al. convergence),
    with every node labeled by the global min."""
    import math

    from __spider_spark.operators.graph import connected_components_star
    n = 2000
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    stats: dict = {}
    out = {r.node: r.component
           for r in connected_components_star(path, stats=stats).collect()}
    assert len(out) == n and set(out.values()) == {0}
    assert stats["rounds"] <= 2 * math.ceil(math.log2(n)), stats


def test_connected_components_star_raises_without_fixpoint(spark):
    """Running out of rounds raises instead of returning a partial
    labeling; the default round budget converges on the same path."""
    from __spider_spark.operators.graph import connected_components_star
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_star(path, max_iter=2)
    out = {r.node: r.component
           for r in connected_components_star(path).collect()}
    assert len(out) == 64 and set(out.values()) == {0}


def _union_find_components(edges):
    """Driver-side reference: (node, min id of its component) for every
    node on a non-self-loop edge."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        for x in (u, v):
            parent.setdefault(x, x)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)   # the root stays the min
    return sorted((x, find(x)) for x in parent)


def test_connected_components_star_equiv(spark):
    """Star alternation computes the same relation as a union-find on a
    mixed graph (cycles + tails + disjoint pairs + hash-scattered ids, so
    orientation/min logic is actually exercised)."""
    from __spider_spark.operators.graph import connected_components_star
    edges = [(2, 3), (3, 1), (1, 2), (10, 11), (7, 3), (100, 7)]
    # deterministic scattered component: i*7919 % 997 walks
    edges += [((i * 7919) % 997 + 200, ((i + 1) * 7919) % 997 + 200)
              for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted((r.node, r.component)
                 for r in connected_components_star(df).collect())
    assert got == _union_find_components(edges)


def test_delta_connected_components_accumulates_to_batch(spark):
    """Folding edge waves into an assignment one delta at a time equals
    batch star CC over the union graph — across a random-ish wave split
    that mixes merges of existing components, brand-new nodes, and
    intra-component no-op edges."""
    from __spider_spark.operators.graph import (
        connected_components_star,
        delta_connected_components,
    )
    edges = [(2, 3), (3, 1), (1, 2), (10, 11), (7, 3), (100, 7)]
    edges += [((i * 7919) % 997 + 200, ((i + 1) * 7919) % 997 + 200)
              for i in range(40)]
    # wave 3 re-adds an edge inside an already-merged component (no-op)
    # and bridges two prior components through a brand-new node
    edges += [(2, 1), (11, 5000), (5000, 100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = sorted((r.node, r.component)
                  for r in connected_components_star(df).collect())
    waves = [edges[0:3], edges[3:20], edges[20:46], edges[46:]]
    assign = connected_components_star(
        spark.createDataFrame(waves[0], "src long, dst long"))
    for w in waves[1:]:
        assign = delta_connected_components(
            assign, spark.createDataFrame(w, "src long, dst long"))
        # keep the test honest about the incremental shape: each fold's
        # plan is wave-sized; materialize so the next fold starts clean
        assign = assign.localCheckpoint()
    got = sorted((r.node, r.component) for r in assign.collect())
    assert got == want
