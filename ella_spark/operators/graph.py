"""Distributed connected components over a DataFrame edge list.

The production missing piece between near-dup *pair* generation
(MinHash/LSH, SimHash, n-gram Jaccard — ella_spark.operators.dedup)
and actual corpus deduplication: candidate pairs must be clustered into
connected components so exactly one canonical document per duplicate
group survives. The reference engine has no graph operator at all;
this is part of the beyond-reference LLM-data-pipeline surface
(SURVEY.md §7 Phase 5).

Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
standard shared-nothing CC algorithm:

- large-star: every node attaches its *larger* neighbors to the
  minimum of its closed neighborhood;
- small-star: every node attaches itself and its smaller-or-equal
  neighbors to that minimum.

The fixed point is a star forest in which every node points at its
component's minimum id. Convergence is O(log^2 n) rounds — a 100-node
chain (the pathological case for naive min-label flooding, which needs
O(n) rounds) converges in ~7.

Scale design (100 TB corpora => billions of nodes, edge lists from
banded LSH joins):
- a bounded small-graph fast path (edge list ≤ SMALL_GRAPH_EDGES after
  dedup — the analog of Spark's broadcast-join threshold) solves the
  labels with driver-side union-find and broadcasts them back; beyond
  the threshold the iterative loop runs with nothing collected to the
  driver;
- each distributed round is two shuffles keyed on node id (groupBy min
  + self-join);
- `localCheckpoint` after every round truncates lineage so round k+1
  does not replay rounds 1..k;
- the convergence probe is a 3-scalar aggregate (count, sum(src),
  sum(dst)) — label sums are monotonically non-increasing, so two
  identical consecutive probes mean the edge multiset is stable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ella_spark.session import local_frame


def _closed_min(sym: DataFrame) -> DataFrame:
    """Per node u: min of its closed neighborhood min(Γ(u) ∪ {u})."""
    return (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("m_src"),
            F.least(F.col("src"), F.col("nbr_min")).alias("m"),
        )
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionAll(rev).where(F.col("src") != F.col("dst")).distinct()


#: Edge count at or below which the component labels are computed with
#: driver-side union-find instead of the iterative distributed loop.
#: Rationale mirrors Spark's own autoBroadcastJoinThreshold: a deduped
#: edge list of ≤4Mi (src, dst) longs is ≤64 MB — trivially collectable
#: — while the alternating-star loop pays ~4 shuffles per round for
#: O(log²n) rounds regardless of size. Near-dup pair sets are usually
#: tiny relative to the corpus (most docs are unique), so at 100 TB the
#: post-verify pair list often still fits; when it doesn't, the
#: distributed loop is the same code path with no semantic difference.
SMALL_GRAPH_EDGES = 4 * 1024 * 1024


def _union_find_labels(spark, edge_rows) -> DataFrame:
    """Driver-side union-find (path halving + union by min) over a
    bounded edge list; returns (src=node, dst=component-min) labels for
    non-root nodes, matching the fixed point of the distributed loop."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for s, d in edge_rows:
        ra, rb = find(s), find(d)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    labels = [(x, find(x)) for x in parent]
    return spark.createDataFrame(
        labels or [(None, None)], "src long, dst long"
    ).where(F.col("src").isNotNull())


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``nodes``: one row per node (isolated nodes allowed — they become
    singleton components). ``edges``: undirected candidate pairs (any
    orientation, self-loops/duplicates tolerated).

    Small-graph fast path: when the deduped edge list has at most
    ``small_graph_edges`` rows it is collected and solved with
    driver-side union-find, and the labels broadcast-join back to
    ``nodes`` — one job instead of O(log²n) multi-shuffle rounds.
    Pass ``small_graph_edges=0`` to force the distributed loop.

    Returns ``(id, component)``.
    """
    e_plan = (
        edges.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    if small_graph_edges > 0:
        # Materialize the (deduped) edge list once, then probe its
        # size with a metadata-cheap count. NOT take(threshold+1):
        # take's incremental-limit escalation (1 partition, then 4x
        # more per wave) runs SEQUENTIAL job waves whenever the result
        # is far below the threshold — measured ~10x slower than one
        # materialization under host contention. Lazy (r15): the
        # count() below IS the materializing action — eager=True paid
        # one expensive checkpoint job plus a second count job over
        # the cached blocks; lazy fuses them into one.
        e_plan = e_plan.localCheckpoint(eager=False)
        if e_plan.count() <= small_graph_edges:
            labels = _union_find_labels(nodes.sparkSession, e_plan.collect())
            return (
                nodes.select(F.col(id_col).cast("long").alias("id"))
                .join(
                    F.broadcast(
                        labels.select(
                            F.col("src").alias("id"),
                            F.col("dst").alias("component"),
                        )
                    ),
                    "id",
                    "left_outer",
                )
                .select("id", F.coalesce("component", "id").alias("component"))
            )

    # Iterative loop over the materialized edge list (already
    # checkpointed above when the small-graph probe ran; candidate-pair
    # generation — an LSH band join / shingle join — is typically the
    # most expensive plan in sight and every round references edges
    # multiple times).
    e = e_plan if small_graph_edges > 0 else e_plan.localCheckpoint(eager=True)

    from pyspark.sql import Observation

    prev_probe = None
    for it in range(max_iter):
        # -- large-star: (v, m) for v in Γ(u) with v > u ------------------
        # Stays lazy inside the round: its shuffle output is shared by
        # the small-star branches via ReusedExchange, so a separate
        # checkpoint job would only add latency. (No distinct either —
        # the small-star _symmetric dedups.)
        sym = _symmetric(e)
        m = _closed_min(sym)
        large = (
            sym.join(m, sym.src == m.m_src)
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )
        # -- small-star: (v, m) for v in Γ(u) ∪ {u} with v <= u, v != m --
        sym = _symmetric(large)
        m = _closed_min(sym)
        attach_small = (
            sym.join(m, sym.src == m.m_src)
            .where(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        attach_self = m.select(F.col("m_src").alias("src"), F.col("m").alias("dst"))
        # The convergence probe rides on the checkpoint job (Observation)
        # instead of being its own pass over the data. MUST stay
        # eager: obs.get blocks until an action runs over the observed
        # plan — a lazy checkpoint here would deadlock the loop.
        obs = Observation(f"cc_round_{it}")
        e = (
            attach_small.unionAll(attach_self)
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("src").alias("ssrc"),
                F.sum("dst").alias("sdst"),
            )
            .localCheckpoint(eager=True)
        )
        got = obs.get
        probe = (got["n"], got["ssrc"], got["sdst"])
        if probe == prev_probe:
            break
        prev_probe = probe

    # Fixed point: e maps every non-root node to its component root.
    labels = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    return (
        nodes.select(F.col(id_col).cast("long").alias("id"))
        .join(labels, "id", "left_outer")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


# ── PageRank ─────────────────────────────────────────────────────────


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, computed in
    integer fixed-point (BIGINT units of 1/``scale``) so results are
    bit-reproducible across engines and across partition layouts.

    The reference engine has no graph operator; this serves the
    LLM-pipeline uses of link analysis (domain quality weighting for
    web corpora — CCNet/RefinedWeb-style curation ranks domains by
    centrality before filtering).

    Determinism design (the decimal-sums lesson, one step further): a
    plain double implementation is partition-order dependent because
    the per-node SUM of incoming contributions is a float reduction.
    Here the rank vector is held as BIGINT micro-units. Every step is
    either (a) exact int64 arithmetic — the shuffle-side SUM — or
    (b) one correctly-rounded IEEE double op followed by floor(), which
    every engine computes identically (all intermediates < 2^53, so
    the int->double conversions are exact). No decimal types, no
    round(): nothing engine-specific anywhere, which is what lets the
    DuckDB oracle replay all iterations as chained CTEs
    (queries/graphalgo.py) and hash-match bit-for-bit.

        pr0      = floor(scale / N)
        contrib  = floor(pr / outdeg)           per edge
        s(v)     = SUM(contrib over in-edges)   exact int64
        pr_next  = floor(0.15 * scale / N) + floor(0.85 * s(v))

    Scale shape (1000-executor / billions of edges):
    - per iteration: one equi-join of the rank vector onto the edge
      list (both hash-partitioned on src — at scale you bucket the
      edge list by src once and every iteration reuses the layout) +
      one groupBy(dst) whose partial sums are plain map-side int64;
    - `localCheckpoint` per iteration truncates lineage (same
      rationale as connected_components): round k+1 never replays
      1..k;
    - only the node count reaches the driver (one scalar, once);
    - dangling nodes: callers pass a symmetrized or self-looped edge
      list (every node needs outdeg >= 1); mass distributes only
      along present edges, matching the oracle semantics exactly.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Edge list + out-degree, materialized once, reused every round
    # (lazy -- r15: the first iteration's join materializes it; eager
    # paid a separate job with no consumer between checkpoint and use).
    edeg = e.join(deg, "src").localCheckpoint(eager=False)
    n = deg.count()  # one scalar to the driver (bounded by design)
    if n == 0:  # empty graph: no nodes, no ranks (avoid 0-division)
        return local_frame(edeg.sparkSession, [], "node long, pr long")

    pr = deg.select(
        F.col("src").alias("node"),
        F.floor(F.lit(float(scale)) / F.lit(float(n))).alias("pr"),
    )
    # floor((1-d)*scale/N): python float ops == SQL DOUBLE ops.
    base = int((1.0 - damping) * float(scale) / float(n))
    for _ in range(iters):
        contrib = edeg.join(pr, edeg["src"] == pr["node"]).select(
            F.col("dst"),
            F.floor(F.col("pr").cast("double") / F.col("outdeg")).alias("c"),
        )
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        pr = s.select(
            F.col("dst").alias("node"),
            (
                F.lit(base)
                + F.floor(F.lit(damping) * F.col("s").cast("double"))
            ).alias("pr"),
        ).localCheckpoint(eager=False)
    return pr


# ── triangle counting ────────────────────────────────────────────────


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list, via the
    classic degree-ordered orientation (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11).

    Every edge is oriented from its (degree, id)-lower endpoint to the
    higher one; wedges are generated only at each edge's LOWER
    endpoint, so a degree-d hub produces O(d_low²) wedge pairs
    bounded by the orientation instead of O(d²) at the hub — the
    total wedge count is O(E^{3/2}) on any graph, which is what makes
    the plan survive power-law degree distributions at 100 TB scale.
    Orientation changes only the intermediate sizes, never the
    triangle SET, so an id-ordered oracle (a < b < c joins) produces
    identical results.

    Plan: canonicalize (min, max) pairs -> degree join -> one
    self-join on the wedge apex -> one equi-join closing the wedge
    against the oriented edge list -> explode the 3 corners ->
    count per node. All shuffles keyed; no driver collection.

    Both the canonical edge list and the oriented edge list are
    ``localCheckpoint``-ed (the winnowing/pagerank cut): each is
    referenced by three downstream branches, and without the cut
    Catalyst re-embeds the whole upstream expression — scan,
    aggregate, distinct, degree joins — into every branch (the
    un-cut initial plan reached 45 re-planned scans / 109 exchanges
    before runtime exchange reuse collapsed them, r14). The cut
    makes the one-scan dataflow structural instead of an AQE-reuse
    outcome, and shrinks the tree Catalyst must analyze. Both
    frames are edge-list-sized — bounded, far below the raw input.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    lower_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_is_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lower_is_u, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).localCheckpoint(eager=False)
    o1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("ddst").alias("db")
    )
    o2 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("ddst").alias("dc")
    )
    # wedge (b, c) at apex a, deduped by the (deg, id) order of the
    # two far corners; the closing edge key follows the SAME order,
    # because that is how `oriented` directed it
    b_first = (F.col("db") < F.col("dc")) | (
        (F.col("db") == F.col("dc")) & (F.col("b") < F.col("c"))
    )
    wedges = (
        o1.join(o2, "a")
        .where((F.col("b") != F.col("c")) & b_first)
        .select("a", "b", "c")
    )
    close = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tri = wedges.join(close, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles")
    )


# ── k-core decomposition (bounded-round peel) ────────────────────────


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k, by iterative peeling (drop nodes with degree < k,
    recompute degrees, repeat).

    BOUNDED-ROUND CONTRACT: exactly ``rounds`` peels run — not
    peel-to-fixpoint — so the computation is a fixed dataflow any
    engine can replay verbatim (the DuckDB oracle unrolls the same
    rounds as CTEs and hash-matches). Peeling is monotone (the node
    set only shrinks and the true k-core is a fixed point), so if
    round r removes nothing the answer is exact; callers that need a
    guarantee check the returned frame's ``converged`` flag — true
    when the last round was a no-op. Long peeling chains (a path
    graph peels one node per round) need more rounds; production
    callers loop `while not converged` in O(log n) expected rounds on
    real graphs.

    Scale shape: each round is one groupBy degree count + one
    semi-join filter of the edge list — two keyed shuffles, O(E)
    each; `localCheckpoint` per round truncates lineage.
    """
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
    ).where(F.col("u") != F.col("v")).distinct()
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    prev_n = None
    converged = False
    for _ in range(rounds):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("u")
        n = keep.count()  # one scalar per round (bounded by design)
        if prev_n is not None and n == prev_n:
            converged = True
            break
        prev_n = n
        kv = keep.select(F.col("u").alias("v"))
        sym = (
            sym.join(keep, "u", "left_semi")
            .join(kv, "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return deg.where(F.col("d") >= k).select(
        F.col("u").alias("node"), F.lit(converged).alias("converged")
    )


def kcore_converged(
    edges: DataFrame,
    k: int,
    max_rounds: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Production k-core: peel until fixpoint (the docstring loop of
    :func:`kcore`, lifted into a callable).

    Peels until a round removes nothing — the exact k-core — with
    ``max_rounds`` as a runaway backstop only (peeling strictly
    shrinks the node set, so the loop terminates in <= |V| rounds
    regardless; real graphs converge in O(log n)). Returns
    ``(node, converged)``; ``converged`` is false only if the backstop
    fired first, which callers should treat as an error on graphs
    they control. Same per-round shape as the bounded variant: one
    degree count + two semi-joins, O(E) keyed shuffles,
    localCheckpoint truncating lineage each round. Only one scalar
    (the surviving-node count) reaches the driver per round.

    The bounded-round :func:`kcore` stays as the oracle vehicle (a
    fixed dataflow DuckDB can replay as unrolled CTEs); this variant
    is pinned equal to it on converged inputs by
    tests/test_graph.py::test_kcore_converged_long_chain.
    """
    e = edges.select(
        F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
        F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
    ).where(F.col("u") != F.col("v")).distinct()
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    prev_n = None
    converged = False
    for _ in range(max_rounds):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("u")
        n = keep.count()
        if n == 0 or (prev_n is not None and n == prev_n):
            converged = True
            break
        prev_n = n
        kv = keep.select(F.col("u").alias("v"))
        sym = (
            sym.join(keep, "u", "left_semi")
            .join(kv, "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return deg.where(F.col("d") >= k).select(
        F.col("u").alias("node"), F.lit(converged).alias("converged")
    )


# ── BFS minimum depth ────────────────────────────────────────────────


def bfs_min_depth(
    edges: DataFrame,
    depth_cap: int,
    stats: dict | None = None,
) -> DataFrame:
    """Minimum BFS depth from the minimum ``src`` node, capped.

    Returns ``(node LONG, depth INT)`` — one row per node reachable
    from ``min(src)`` within ``depth_cap`` hops, with its true BFS
    level. Equivalent to the depth-capped recursive CTE

    ``r(node, depth) AS (SELECT min(src), 0 FROM edges UNION ALL
    SELECT DISTINCT e.dst, r.depth+1 FROM r JOIN edges e ON
    e.src = r.node WHERE r.depth < cap)`` followed by
    ``GROUP BY node -> min(depth)`` — including the empty-edge-list
    edge case (one ``(NULL, 0)`` row) — but executed as a
    visited-set BFS (r15, guide §2 wasted-stage elimination):

    - the frontier at level d+1 is ONLY the newly discovered nodes
      (anti-join against the visited set), so each level's join input
      shrinks instead of oscillating over the already-seen core — the
      recursion's frontier never empties on cyclic graphs (re-visits
      keep feeding it rows), so SQL recursion ALWAYS runs to the
      depth cap;
    - the loop stops at the first level that discovers nothing new:
      level count = min(true eccentricity + 1, cap) instead of
      always cap (sf0.1: 5 levels instead of 9; first-discovery
      depth IS the minimum depth, so the result set is identical).

    ``edges`` must be bounded/materialized by the caller (it is
    re-joined once per level). Each level is one Spark job: the
    frontier⋈edges expansion, distinct, anti-join and the emptiness
    probe all materialize through one lazy localCheckpoint + count.
    ``stats`` (optional) records {"levels": n} for tests.

    An edge with a NULL ``dst`` leads nowhere and is skipped: a NULL
    never survives the anti-join against ``visited``, so it would
    otherwise re-enter every frontier and run the loop to the cap.
    """
    # anchor: min(src) at depth 0 — one row even when edges is empty
    # (min over an empty frame is NULL, matching the CTE's anchor)
    visited = (
        edges.agg(F.min("src").alias("node"))
        .select("node", F.lit(0).cast("int").alias("depth"))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("node")
    levels = 0
    for depth in range(1, depth_cap + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .where(F.col("dst").isNotNull())
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).cast("int").alias("depth"))
            .localCheckpoint(eager=False)
        )
        levels += 1
        if nxt.count() == 0:
            break
        # visited is a union of per-level checkpointed leaves: lineage
        # stays O(levels) shallow, no re-checkpoint needed
        visited = visited.unionAll(nxt)
        frontier = nxt.select("node")
    if stats is not None:
        stats["levels"] = levels
    return visited
