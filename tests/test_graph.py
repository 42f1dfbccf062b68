"""Connected components (large-star/small-star) vs a union-find oracle."""

from __future__ import annotations

import random

import pytest

from ella_spark.operators.graph import connected_components


def _uf_components(n_nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {u: u for u in n_nodes}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize to component min
    out = {}
    for u in n_nodes:
        out[u] = find(u)
    # find() roots are already the min id: union always parents max under min
    return out


def _run(spark, nodes, edges, small_graph_edges):
    ndf = spark.createDataFrame([(int(u),) for u in nodes], "id long")
    if edges:
        edf = spark.createDataFrame([(int(a), int(b)) for a, b in edges], "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            ndf, edf, small_graph_edges=small_graph_edges
        ).collect()
    }
    assert got == _uf_components(nodes, edges)


@pytest.mark.parametrize("sge", [0, 10**6], ids=["distributed", "unionfind"])
def test_chain_pathological(spark, sge):
    # A 60-node path: naive min-flooding needs 60 rounds; star
    # contraction must finish inside the max_iter budget.
    nodes = list(range(100, 160))
    edges = [(i, i + 1) for i in nodes[:-1]]
    _run(spark, nodes, edges, sge)


@pytest.mark.parametrize("sge", [0, 10**6], ids=["distributed", "unionfind"])
def test_isolated_and_cliques(spark, sge):
    nodes = list(range(20))
    edges = [(0, 1), (1, 2), (2, 0), (5, 6), (6, 7), (10, 11)]
    _run(spark, nodes, edges, sge)


@pytest.mark.parametrize("sge", [0, 10**6], ids=["distributed", "unionfind"])
def test_duplicate_and_reversed_edges(spark, sge):
    nodes = [1, 2, 3, 4]
    edges = [(2, 1), (1, 2), (2, 1), (3, 4), (4, 3)]
    _run(spark, nodes, edges, sge)


@pytest.mark.parametrize("seed", [7, 42])
@pytest.mark.parametrize("sge", [0, 10**6], ids=["distributed", "unionfind"])
def test_random_graph(spark, seed, sge):
    rng = random.Random(seed)
    nodes = list(range(200))
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _run(spark, nodes, edges, sge)


# ── PageRank ─────────────────────────────────────────────────────────


def _numpy_pagerank_fp(edges, iters=5, damping=0.85, scale=10**12):
    """Reference implementation of the integer fixed-point recipe."""
    import math

    out = {}
    for a, b in edges:
        out.setdefault(a, []).append(b)
    n = len(out)
    pr = {u: math.floor(scale / n) for u in out}
    base = math.floor((1.0 - damping) * float(scale) / float(n))
    for _ in range(iters):
        s = {}
        for u, nbrs in out.items():
            c = math.floor(pr[u] / len(nbrs))
            for v in nbrs:
                s[v] = s.get(v, 0) + c
        pr = {v: base + math.floor(damping * float(sv)) for v, sv in s.items()}
    return pr


def test_pagerank_matches_reference_fixed_point(spark):
    from ella_spark.operators.graph import pagerank

    # Directed, symmetrized ring + chords: every node has outdeg >= 1.
    raw = [(i, (i + 1) % 20) for i in range(20)] + [(0, 10), (5, 15), (3, 7)]
    edges = sorted(set(raw + [(b, a) for a, b in raw]))
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(edf, iters=5).collect()}
    assert got == _numpy_pagerank_fp(edges)


def test_pagerank_mass_conservation_bound(spark):
    from ella_spark.operators.graph import pagerank

    # Fixed-point floors only ever LOSE mass: total rank stays within
    # n floors-per-iteration of the ideal total `scale`.
    raw = [(i, (i * 7 + 3) % 50) for i in range(50) if i != (i * 7 + 3) % 50]
    edges = sorted(set(raw + [(b, a) for a, b in raw]))
    edf = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank(edf, iters=5).collect()
    total = sum(r["pr"] for r in rows)
    n = len({u for u, _ in edges})
    assert total <= 10**12
    # each of the 5 iterations floors once per edge (contributions)
    # and twice per node (base + damping); pr0 floors once per node
    assert total >= 10**12 - 5 * (len(edges) + 2 * n) - n
    assert all(r["pr"] > 0 for r in rows)


def test_pagerank_partition_layout_invariance(spark):
    """The determinism claim: the same graph under a different
    partitioning / input order yields bit-identical fixed-point ranks
    (int sums are exact; a double implementation would drift)."""
    from ella_spark.operators.graph import pagerank

    raw = [(i, (i * 13 + 5) % 97) for i in range(97) if i != (i * 13 + 5) % 97]
    edges = sorted(set(raw + [(b, a) for a, b in raw]))
    a = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    shuffled = list(reversed(edges))
    b = spark.createDataFrame(shuffled, "src long, dst long").repartition(17)
    ra = {r["node"]: r["pr"] for r in pagerank(a, iters=4).collect()}
    rb = {r["node"]: r["pr"] for r in pagerank(b, iters=4).collect()}
    assert ra == rb


def test_triangle_count_matches_bruteforce(spark):
    """Degree-ordered triangle counting vs itertools brute force on a
    random graph with hubs (the case the orientation exists for)."""
    import itertools
    import random

    from ella_spark.operators.graph import triangle_count

    rng = random.Random(11)
    nodes = list(range(30))
    edges = {(0, v) for v in range(1, 20)}  # hub
    for _ in range(120):
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_count(edf).collect()}
    assert got == expected


def test_triangle_count_none_and_duplicate_edges(spark):
    from ella_spark.operators.graph import triangle_count

    # star graph: no triangles; duplicate/reversed edges collapse
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(edf).count() == 0


def test_pagerank_empty_graph(spark):
    from ella_spark.operators.graph import pagerank

    edf = spark.createDataFrame([], "src long, dst long")
    assert pagerank(edf, iters=3).count() == 0


def test_kcore_matches_bruteforce_peel(spark):
    from ella_spark.operators.graph import kcore

    import random

    rng = random.Random(5)
    edges = set()
    # a 4-clique (survives k=3) + a long tail of degree-1/2 nodes
    for a in range(4):
        for b in range(a + 1, 4):
            edges.add((a, b))
    for i in range(4, 30):
        edges.add((rng.randrange(i), i))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # reference peel to fixpoint
    alive = set(adj)
    while True:
        drop = {n for n in alive if sum(m in alive for m in adj[n]) < 3}
        if not drop:
            break
        alive -= drop
    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    rows = kcore(edf, k=3, rounds=8).collect()
    assert {r["node"] for r in rows} == alive == {0, 1, 2, 3}
    assert all(r["converged"] for r in rows)


def test_kcore_bounded_rounds_contract(spark):
    """A long path peels ONE endpoint pair per round: with too few
    rounds the result over-approximates (documented bounded-round
    contract) and converged is False."""
    from ella_spark.operators.graph import kcore

    edges = [(i, i + 1) for i in range(12)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    rows = kcore(edf, k=2, rounds=2).collect()
    assert rows and not rows[0]["converged"]  # 2 rounds not enough
    done = kcore(edf, k=2, rounds=12).collect()
    assert done == []  # a path has no 2-core


def test_kcore_converged_long_chain(spark):
    """kcore_converged peels to the true fixpoint on a pathological
    long-chain graph where the bounded variant's 8 rounds fall short,
    and agrees with the bounded variant when that one converges."""
    from ella_spark.operators.graph import kcore, kcore_converged

    # triangle {0,1,2} + a 25-node tail hanging off node 2: with k=2
    # the tail peels exactly one node per round (25 rounds needed)
    edges = [(0, 1), (0, 2), (1, 2)] + [(i, i + 1) for i in range(2, 27)]
    edf = spark.createDataFrame(edges, "src long, dst long")

    bounded = kcore(edf, k=2, rounds=8).collect()
    assert bounded and not bounded[0]["converged"]
    assert len(bounded) > 3  # over-approximates: tail not fully peeled

    rows = kcore_converged(edf, k=2).collect()
    assert {r["node"] for r in rows} == {0, 1, 2}
    assert all(r["converged"] for r in rows)

    # empty k-core converges too (and agrees with the bounded oracle)
    assert kcore_converged(edf, k=3).collect() == []

    # on an input where the bounded variant converges, both agree
    small = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "src long, dst long"
    )
    a = {r["node"] for r in kcore(small, k=2, rounds=8).collect()}
    b = {r["node"] for r in kcore_converged(small, k=2).collect()}
    assert a == b == {0, 1, 2}


# ── bfs_min_depth (r15: visited-set BFS replacing WITH RECURSIVE) ────


def _bfs_reference(edges: list[tuple[int, int]], cap: int) -> list[tuple]:
    """Python replay of the depth-capped recursive-CTE semantics:
    rows (node, depth) for depth <= cap reachable from min(src),
    grouped to min(depth) per node."""
    if not edges:
        return [(None, 0)]
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    start = min(s for s, _ in edges)
    best = {start: 0}
    frontier = {start}
    depth = 0
    while frontier and depth < cap:
        depth += 1
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in best:
                    best[v] = depth
                    nxt.add(v)
        frontier = nxt
    return sorted(best.items())


def _bfs_run(spark, edges, cap, stats=None):
    from ella_spark.operators.graph import bfs_min_depth

    if edges:
        edf = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "src long, dst long"
        )
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    out = bfs_min_depth(edf.localCheckpoint(eager=False), cap, stats=stats)
    rows = sorted(
        (r["node"], r["depth"]) for r in out.collect()
    )
    return rows


def test_bfs_min_depth_matches_recursive_semantics(spark):
    """Cyclic + branchy graph: visited-set BFS must emit exactly the
    recursive CTE's grouped (node, min depth) rows. The cycle is the
    case where the CTE's frontier never empties — results must still
    be identical."""
    # directed edges incl. a 3-cycle back to the start and a long tail
    edges = [
        (1, 2), (2, 3), (3, 1),        # cycle through the anchor
        (2, 4), (4, 5), (5, 6),        # tail: depths 2,3,4
        (3, 4),                        # cross edge (shorter path check)
        (9, 1),                        # 9 is a source, not reachable
    ]
    got = _bfs_run(spark, edges, cap=8)
    assert got == _bfs_reference(edges, 8)
    # node 9 is never reached (no inbound edge), anchor is min(src)=1
    assert (9, 0) not in got and got[0] == (1, 0)


def test_bfs_min_depth_depth_cap(spark):
    """A chain longer than the cap: nodes beyond cap hops excluded,
    node at exactly cap included."""
    chain = [(i, i + 1) for i in range(12)]
    got = _bfs_run(spark, chain, cap=8)
    assert got == _bfs_reference(chain, 8)
    assert max(d for _, d in got) == 8
    assert all(n <= 8 for n, _ in got)


def test_bfs_min_depth_empty_edges(spark):
    """Empty edge list: the CTE anchor emits one (NULL, 0) row."""
    assert _bfs_run(spark, [], cap=8) == [(None, 0)]


def test_bfs_min_depth_early_exit_level_count(spark):
    """The r15 point: on a shallow graph the loop runs
    (eccentricity + 1) levels — the last discovers nothing — instead
    of always running to the cap like SQL recursion does on cyclic
    inputs."""
    edges = [(1, 2), (2, 3), (3, 1), (2, 1)]  # ecc from node 1 = 2
    stats: dict = {}
    got = _bfs_run(spark, edges, cap=8, stats=stats)
    assert got == _bfs_reference(edges, 8)
    assert stats["levels"] == 3  # levels 1,2 discover; level 3 is empty


def test_bfs_min_depth_skips_null_dst(spark):
    """An edge to a NULL dst is not a node: it must neither appear in
    the result nor keep the frontier alive (a NULL never matches the
    visited anti-join, so it would re-enter every level up to the cap)."""
    from ella_spark.operators.graph import bfs_min_depth

    edf = spark.createDataFrame(
        [(1, 2), (2, None), (2, 3), (3, None)], "src long, dst long"
    )
    stats: dict = {}
    out = bfs_min_depth(edf.localCheckpoint(eager=False), 8, stats=stats)
    # key=str: a NULL node must fail the comparison, not the sort
    got = sorted(((r["node"], r["depth"]) for r in out.collect()), key=str)
    assert got == _bfs_reference([(1, 2), (2, 3)], 8) == [(1, 0), (2, 1), (3, 2)]
    assert stats["levels"] == 3  # levels 1,2 discover; level 3 is empty
